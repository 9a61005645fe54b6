package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestGeoms
import graft.operators.SpatialJoin

/** The measured scaling experiment (SCALING.md) is only as good as the
  * corpus construction: these tests pin the invariants the curves rely
  * on — N× rows exactly, copy 0 verbatim, cross-copy isolation in all
  * three modalities (spatial pairs / shingle overlap / cosine), and
  * determinism of the whole build.
  */
class ScaleCorpusSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")

  private val baseDir = "/root/testdata/sf0.001"

  private def entitiesDf(rows: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    SpatialJoin.entities(rows.toDF("id", "wkt"), col("id"), col("wkt"))
  }

  // copy index from a scaled id: "orig~k" for k>0, bare id = copy 0
  private def copyOf(id: String): Int =
    if (id.contains('~')) id.substring(id.lastIndexOf('~') + 1).toInt else 0

  private val boxes = TestGeoms.corpus(seed = 3, n = 30, world = 40)
  private val stars = TestGeoms.corpus(seed = 4, n = 30, world = 40)

  test("scaledWkt: exactly N x base rows, copy 0 verbatim, all valid") {
    val base = entitiesDf(boxes)
    val out = ScaleCorpus.scaledWkt(base, n = 4)
    assert(out.count() === boxes.length * 4)
    assert(out.select("id").distinct().count() === boxes.length * 4L)
    val rd = new org.locationtech.jts.io.WKTReader()
    val rows = out.collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.forall { case (_, w) => rd.read(w).isValid },
      "every scaled geometry must be valid (no silent S6 drops)")
    // copy 0 is the original corpus, bit-identical WKT
    val copy0 = rows.filter(p => copyOf(p._1) == 0).toMap
    val origWkt = entitiesDf(boxes).select(col("id"), col("geom")).collect()
      .map(r => (r.getString(0),
        graft.functions.Jts.fromWkb(r.getAs[Array[Byte]](1)).toText)).toMap
    assert(copy0 === origWkt)
  }

  test("cross-copy isolation: a join over two corpora scaled on the " +
       "SHARED domain produces zero cross-copy pairs") {
    val src = entitiesDf(boxes); val tgt = entitiesDf(stars)
    val b = src.unionByName(tgt)
      .agg(min("minx"), min("miny"), max("maxx"), max("maxy")).head
    val domain = Some((b.getDouble(0), b.getDouble(1), b.getDouble(2), b.getDouble(3)))
    def scaled(e: DataFrame) = SpatialJoin.entities(
      ScaleCorpus.scaledWkt(e, n = 5, domain = domain), col("id"), col("wkt"))
    val pairs = SpatialJoin.de9im(scaled(src), scaled(tgt))
      .filter(col("intersects"))
      .select("s_id", "t_id").collect()
    assert(pairs.nonEmpty, "corpus too sparse — the isolation check is vacuous")
    val crossCopy = pairs.filter(r => copyOf(r.getString(0)) != copyOf(r.getString(1)))
    assert(crossCopy.isEmpty,
      s"copies must be disjoint by construction, got ${crossCopy.length} cross-copy pairs")
  }

  test("scaledWkt is deterministic") {
    val base = entitiesDf(stars)
    def run() = ScaleCorpus.scaledWkt(base, n = 3)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(run() === run())
  }

  test("scaledDocuments: N x rows, unique ids, zero cross-copy token overlap") {
    val n = 3
    val out = ScaleCorpus.scaledDocuments(spark, baseDir, n)
      .select(col("doc_id"), col("text"), col("n_chars")).persist()
    val baseCount = graft.Tables.documents(spark, baseDir).count()
    assert(out.count() === baseCount * n)
    assert(out.select("doc_id").distinct().count() === baseCount * n)
    assert(out.filter(length(col("text")) =!= col("n_chars")).count() === 0,
      "n_chars must follow the rewritten text")
    // distinct token sets of different copies are disjoint (copy =
    // doc_id / step band), so cross-copy shingle/minhash overlap is zero
    val step = baseCount
    val tok = out
      .withColumn("copy", (col("doc_id") / step).cast("int"))
      .select(col("copy"), explode(split(col("text"), "\\s+")).as("t"))
      .filter(length(col("t")) > 0)
      .distinct()
    val shared = tok.groupBy("t")
      .agg(countDistinct("copy").as("nc")).filter(col("nc") > 1).count()
    assert(shared === 0, "a token appearing in two copies breaks cross-copy isolation")
    out.unpersist()
  }

  test("scaledEmbeddings: N x rows, within-copy cosines preserved, " +
       "cross-copy cosines below the near-dup threshold, deterministic") {
    val n = 3
    def runOut() = ScaleCorpus.scaledEmbeddings(spark, baseDir, n)
    val out = runOut().persist()
    val baseCount = graft.Tables.embeddings(spark, baseDir).count()
    assert(out.count() === baseCount * n)

    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val step = baseCount
    val byId = out.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
    val baseIds = (0L until math.min(40L, step)).filter(byId.contains)
    // within-copy: cosine(v_i^k, v_j^k) == cosine(v_i, v_j) up to
    // reassociation noise (the permutation reorders the float sum)
    for (k <- 1 until n; i <- baseIds.take(10); j <- baseIds.take(10) if i < j) {
      val orig = cos(byId(i), byId(j))
      val copied = cos(byId(i + k * step), byId(j + k * step))
      assert(math.abs(orig - copied) < 1e-5,
        s"within-copy cosine drifted: pair ($i,$j) copy $k: $orig vs $copied")
    }
    // cross-copy: the same vector in two copies must NOT look like a
    // near-duplicate (threshold 0.45 in dd8); random permutation+sign
    // makes the expected cosine ~0
    val crossMax = (for (i <- baseIds.take(20); k <- 1 until n)
      yield math.abs(cos(byId(i), byId(i + k * step)))).max
    assert(crossMax < 0.45,
      s"a copied vector stayed near-duplicate across copies (max |cos| = $crossMax)")
    // norms are preserved exactly up to reassociation (marginals argument)
    for (i <- baseIds.take(10); k <- 1 until n) {
      def norm(v: Array[Float]) = math.sqrt(v.map(x => x.toDouble * x).sum)
      assert(math.abs(norm(byId(i)) - norm(byId(i + k * step))) < 1e-4)
    }
    val a = out.collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    val b = runOut().collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    assert(a === b, "scaledEmbeddings must be deterministic")
    out.unpersist()
  }
}
