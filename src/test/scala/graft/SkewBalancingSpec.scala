package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{SkewBalancing, SpatialJoin}

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

    val plain = SpatialJoin.de9im(entitiesDf(source), entitiesDf(target))
      .select("s_id", "t_id", "de9im").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    val balanced = SkewBalancing.balancedDe9im(entitiesDf(source), entitiesDf(target))
      .select("s_id", "t_id", "de9im").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    assert(balanced === plain)
    assert(plain.keys.exists(_._2.startsWith("huge")), "hot targets must appear")
  }

  test("segment-batched redistribution with zero candidates is empty, not NPE") {
    val source = entitiesDf(Seq(("a", "POLYGON((0 0, 1 0, 1 1, 0 1, 0 0))")))
    val target = entitiesDf(Seq(("b", "POLYGON((50 50, 51 50, 51 51, 50 51, 50 50))")))
    assert(SkewBalancing.balancedDe9im(source, target).count() === 0)
  }
}
