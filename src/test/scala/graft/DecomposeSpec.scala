package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.locationtech.jts.io.WKTReader
import graft.geometry.Decompose
import graft.operators.SpatialJoin

/** Decomposition invariants (ported policy from the reference's
  * DecompositionTest ideas, new corpus) + end-to-end equivalence of
  * the fine-grained-envelope join path.
  */
class DecomposeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")

  private val rd = new WKTReader()
  private val rnd = new scala.util.Random(3)
  private val polys = (0 until 25).map { i =>
    rd.read(TestGeoms.starPolygon(rnd, 10 + rnd.nextDouble() * 40,
      10 + rnd.nextDouble() * 40, 3 + rnd.nextDouble() * 10))
  }

  test("refined envelopes are contained in the MBR and cover the geometry") {
    polys.foreach { g =>
      val envs = Decompose.refinedEnvelopes(g, 4.0, 64)
      val mbr = g.getEnvelopeInternal
      envs.foreach { e =>
        assert(e.getMinX >= mbr.getMinX - 1e-9 && e.getMaxX <= mbr.getMaxX + 1e-9)
      }
      // union of refined envelopes covers every vertex
      g.getCoordinates.foreach { c =>
        assert(envs.exists(e => e.covers(c)), s"vertex $c not covered")
      }
    }
  }

  private def entitiesDf(rows: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    SpatialJoin.entities(rows.toDF("id", "wkt"), col("id"), col("wkt"))
  }
  private val source = TestGeoms.corpus(seed = 41, n = 70, world = 80)
  private val target = TestGeoms.corpus(seed = 42, n = 60, world = 80)

  test("fine-grained envelope join: same qualifying pairs, fewer or " +
       "equal verifications") {
    val plain = SpatialJoin.de9im(entitiesDf(source), entitiesDf(target))
    val fine = SpatialJoin.de9imFineGrained(entitiesDf(source), entitiesDf(target))
    def qualifying(df: DataFrame) = df.filter(col("intersects"))
      .select("s_id", "t_id", "de9im").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(qualifying(fine) === qualifying(plain))
    assert(fine.count() <= plain.count())
  }

  test("precision reduction snaps coordinates and preserves validity") {
    import spark.implicits._
    import graft.functions.GeomFunctions._
    val noisy = Seq(
      ("a", "POLYGON((0.100000000001 0, 4.2999999999 0, 4.3 4.1, 0.1 4.1, 0.100000000001 0))"),
      ("b", "POINT(1.23456789 9.87654321)"))
    val out = SpatialJoin.entities(noisy.toDF("id", "wkt"), col("id"), col("wkt"))
      .withColumn("geom", st_reduce_precision(col("geom"), 1e6))
      .collect().map { r =>
        r.getString(0) -> graft.functions.Jts.fromWkb(r.getAs[Array[Byte]]("geom"))
      }.toMap
    assert(out("a").isValid)
    val p = out("b").getCoordinate
    assert(p.x === 1.234568 && p.y === 9.876543) // snapped to 1e-6 grid
  }

  test("per-partition verification stats sum to the total pair count " +
       "and carry wall-time + heaviest-blob diagnostics") {
    val (result, stats) = SpatialJoin.de9imWithStats(entitiesDf(source), entitiesDf(target))
    assert(stats.values.map(_.verifications).sum === result.count())
    assert(stats.nonEmpty)
    assert(stats.values.forall(s => s.wallMillis > 0.0))
    assert(stats.values.filter(_.verifications > 0).forall(_.maxGeomBytes > 0))
  }
}
