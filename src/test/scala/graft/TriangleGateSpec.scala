package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Jts
import graft.operators.{GeoQueries, SpatialJoin}

/** The sp6/sp7 gate corpus puts NON-rectangle geometries through the
  * driver oracle; this spec proves, against brute-force JTS, that
  *   (a) no triangle can take the analytic rectangle-pair fast path,
  *   (b) the engine's output on the gate corpus equals whole-pair JTS
  *       relate, and
  *   (c) the A6 per-partition stats hook counts every triangle-source
  *       verification, and
  *   (d) sp9 (boxes as source) returns exactly sp6's rows.
  * Runs at the driver's own gate scale (sf0.01) so the asserted pairs
  * are exactly the hash-checked ones; (d) runs at sf0.1, where point
  * touches exist that the sf0.01 hash gate does not exercise.
  */
class TriangleGateSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")

  private val dir = "/root/testdata/sf0.01"

  private def geoms(df: org.apache.spark.sql.DataFrame): Seq[(String, org.locationtech.jts.geom.Geometry)] =
    df.select("id", "geom").collect()
      .map(r => r.getString(0) -> Jts.fromWkb(r.getAs[Array[Byte]]("geom"))).toSeq

  test("gate triangles are valid, positive-area, and never rectangles") {
    val tris = geoms(GeoQueries.customerTriangles(spark, dir))
    assert(tris.nonEmpty)
    tris.foreach { case (id, g) =>
      assert(g.isValid, s"$id invalid")
      assert(g.getArea > 0, s"$id degenerate")
      assert(!g.isRectangle, s"$id is a rectangle — would take the fast path")
      assert(g.getNumPoints === 4, s"$id not a triangle ring")
    }
  }

  test("sp6 equals brute-force JTS intersects over triangle x box, " +
       "and no verified pair is rectangle-rectangle") {
    val tris = geoms(GeoQueries.customerTriangles(spark, dir))
    val boxes = geoms(GeoQueries.supplierBoxes(spark, dir))
    val expected = (for {
      (sid, sg) <- tris; (tid, tg) <- boxes
      if sg.intersects(tg)
    } yield (sid, tid)).toSet
    assert(expected.nonEmpty, "gate corpus must produce qualifying pairs")
    val got = GeoQueries.sp6TriangleBoxIntersects(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === expected)
    // every verified candidate has a non-rectangle source operand
    val triIds = tris.map(_._1).toSet
    got.foreach { case (sid, _) => assert(triIds.contains(sid)) }
  }

  test("sp7 mixed relation counts equal brute-force JTS IM accumulation") {
    val mixed = geoms(GeoQueries.mixedCorpus(spark, dir))
    val boxes = geoms(GeoQueries.supplierBoxes(spark, dir))
    val cand = for {
      (sid, sg) <- mixed; (tid, tg) <- boxes
      if sg.getEnvelopeInternal.intersects(tg.getEnvelopeInternal)
    } yield sg.relate(tg)
    assert(cand.nonEmpty)
    def cnt(p: org.locationtech.jts.geom.IntersectionMatrix => Boolean) =
      cand.count(p).toLong
    val row = GeoQueries.sp7MixedRelationCounts(spark, dir).head()
    assert(row.getAs[Long]("verifications") === cand.size.toLong)
    assert(row.getAs[Long]("intersects") === cnt(im => !im.isDisjoint))
    assert(row.getAs[Long]("contains") === cnt(_.isContains))
    assert(row.getAs[Long]("within") === cnt(_.isWithin))
    assert(row.getAs[Long]("covers") === cnt(_.isCovers))
    assert(row.getAs[Long]("coveredby") === cnt(_.isCoveredBy))
    assert(row.getAs[Long]("crosses") === cnt(_.isCrosses(2, 2)))
    assert(row.getAs[Long]("overlaps") === cnt(_.isOverlaps(2, 2)))
    assert(row.getAs[Long]("touches") === cnt(_.isTouches(2, 2)))
    assert(row.getAs[Long]("equals") === cnt(_.isEquals(2, 2)))
    // the mixed corpus genuinely exercises BOTH paths: some pairs have
    // a triangle source, some a box source
    val triPairs = (for {
      (sid, sg) <- mixed if !sg.isRectangle
      (tid, tg) <- boxes
      if sg.getEnvelopeInternal.intersects(tg.getEnvelopeInternal)
    } yield 1).size
    assert(triPairs > 0 && triPairs < cand.size,
      s"expected a genuine shape mix, got $triPairs/${cand.size} triangle pairs")
  }

  test("A6 stats hook counts every triangle-source verification") {
    val (result, stats) = SpatialJoin.de9imWithStats(
      GeoQueries.customerTriangles(spark, dir),
      GeoQueries.supplierBoxes(spark, dir))
    assert(stats.values.map(_.verifications).sum === result.count())
    assert(stats.values.map(_.verifications).sum > 0)
  }

  test("sp9 equals sp6 row for row at sf0.1, point touches included") {
    // sf0.1 holds triangle × box pairs that touch in a single point
    // (DE-9IM FF2F01212, e.g. customer 554 × supplier 208) that a verifier
    // clipping geometries at θ-grid lines lost (9 of them); at sf0.01 it
    // lost none, so the sf0.01 hash gate cannot catch that loss
    val sf01 = "/root/testdata/sf0.1"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val sp6 = rows(GeoQueries.sp6TriangleBoxIntersects(spark, sf01))
    val sp9 = rows(GeoQueries.sp9SegmentedTriangle(spark, sf01))
    assert(sp6.contains(("554", "208")))
    val (missing, extra) = (sp6.diff(sp9), sp9.diff(sp6))
    assert(missing.isEmpty && extra.isEmpty,
      s"sp9 misses ${missing.size} pairs ${missing.take(20)}, " +
      s"adds ${extra.size} pairs ${extra.take(20)}")
    assert(sp9 === sp6) // and in the same order
  }
}
