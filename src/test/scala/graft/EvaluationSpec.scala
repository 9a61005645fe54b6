package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Evaluation, Progressive, SpatialJoin}

class EvaluationSpec extends AnyFunSuite {
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
  private val source = TestGeoms.corpus(seed = 91, n = 100, world = 80)
  private val target = TestGeoms.corpus(seed = 92, n = 80, world = 80)

  test("exhaustive budget reaches full recall; informed weighting " +
       "beats random scheduling on PGR") {
    val full = Evaluation.evaluateProgressive(
      entitiesDf(source), entitiesDf(target), "w_js", budget = 1000000)
    assert(full.recall === 1.0)
    assert(full.qualifying === full.totalQualifying)
    assert(full.pgr > 0 && full.pgr <= 1.0)

    // random baseline: the engine's deterministic hash weight, same budget
    val rand = Evaluation.evaluateProgressive(
      entitiesDf(source), entitiesDf(target), "w_rand", budget = 1000000)
    assert(full.pgr > rand.pgr,
      s"JS weighting (pgr=${full.pgr}) should beat random (pgr=${rand.pgr})")
  }

  test("SpatialLink.pgrCurve ranks under the link's thetaGranularity") {
    val s = entitiesDf(source); val t = entitiesDf(target)
    def curve(df: DataFrame) =
      df.orderBy("rank").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val avg = curve(Progressive.pgrCurve(s, t, "w_js", granularity = "avg"))
    val max = curve(Progressive.pgrCurve(s, t, "w_js", granularity = "max"))
    assert(avg !== max, "w_js counts θ-tiles, so the corpus must separate the curves")
    assert(curve(graft.api.SpatialLink(s, t).thetaGranularity("max").pgrCurve()) === max)
  }
}
