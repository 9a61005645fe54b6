package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.locationtech.jts.io.WKTReader
import graft.operators.SpatialJoin

/** Verification-cost skew: hot targets (giant many-vertex polygons that
  * collect most candidates) go through the plain DE-9IM join, whose
  * placement `candidatePairs` chooses. The reference's z-score split
  * and round-robin redistribution were measured slower than this join
  * on both sides of the placement rule and deleted (COVERAGE §2.8);
  * the test names are those of the balanced join they replaced. */
class SkewBalancingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")

  private def entitiesDf(rows: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    SpatialJoin.entities(rows.toDF("id", "wkt"), col("id"), col("wkt"))
  }

  test("cost-balanced join returns identical results to the plain join " +
       "in the presence of hot targets") {
    val source = TestGeoms.corpus(seed = 31, n = 150, world = 50)
    // A skew-inducing target set: mostly small geometries plus two
    // giant many-vertex polygons overlapping nearly everything.
    val rnd = new scala.util.Random(77)
    val big = (0 until 2).map { i =>
      (s"huge$i", TestGeoms.starPolygon(rnd, 25, 25, 40))
    }
    val target = TestGeoms.corpus(seed = 32, n = 100, world = 50) ++ big

    val rd = new WKTReader()
    val oracle = (for {
      (sid, sw) <- source; sg = rd.read(sw)
      (tid, tw) <- target; tg = rd.read(tw)
      if sg.getEnvelopeInternal.intersects(tg.getEnvelopeInternal)
    } yield (sid, tid) -> sg.relate(tg).toString).toMap
    assert(oracle.keys.exists(_._2.startsWith("huge")), "hot targets must appear")

    // as built, one partition (spread placement) and defaultParallelism
    // partitions (in-place placement)
    def rows(layout: DataFrame => DataFrame) =
      SpatialJoin.de9im(layout(entitiesDf(source)), layout(entitiesDf(target)))
        .orderBy("s_id", "t_id").collect().toSeq
    val asBuilt = rows(identity)
    assert(asBuilt.map(r => (r.getAs[String]("s_id"), r.getAs[String]("t_id")) ->
      r.getAs[String]("de9im")).toMap === oracle)
    assert(asBuilt.size === oracle.size)
    assert(rows(_.coalesce(1)) === asBuilt)
    assert(rows(_.repartition(spark.sparkContext.defaultParallelism)) === asBuilt)
  }

  test("segment-batched redistribution with zero candidates is empty, not NPE") {
    val source = entitiesDf(Seq(("a", "POLYGON((0 0, 1 0, 1 1, 0 1, 0 0))")))
    val target = entitiesDf(Seq(("b", "POLYGON((50 50, 51 50, 51 51, 50 51, 50 50))")))
    assert(SpatialJoin.de9im(source, target).count() === 0)
  }
}
