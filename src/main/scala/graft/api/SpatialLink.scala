package graft.api

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import graft.operators.{Progressive, ProgressiveTyped, SpatialJoin, VerifiedPair}

/** The user-facing surface of the engine — everything a DS-JedAI user
  * runs today, as a fluent builder over DataFrames:
  *
  * {{{
  * import graft.api.SpatialLink
  * val src = SpatialLink.entities(df1, col("id"), col("wkt"))
  * val tgt = SpatialLink.entities(df2, col("id"), col("wkt"))
  *
  * SpatialLink(src, tgt).de9im()                       // GIA.nt batch
  * SpatialLink(src, tgt).relate("contains")            // spatial join
  * SpatialLink(src, tgt).relationCounts()              // headline tuple
  * SpatialLink(src, tgt).fineGrained().de9im()         // tighter filter
  * SpatialLink(src, tgt)
  *   .progressive(budget = 5000000, weight = "w_js")   // budgeted
  * SpatialLink(src, tgt)
  *   .dynamicProgressive(budget = 5000000)             // with boosting
  * }}}
  */
case class SpatialLink(source: DataFrame, target: DataFrame,
                       useFineGrained: Boolean = false,
                       granularity: String = "avg") {

  def fineGrained(): SpatialLink = copy(useFineGrained = true)

  /** Select the reference's θ tile-granularity statistic
    * (avg | avg2 | min | max | none — see
    * [[SpatialJoin.computeTheta]]). For the batch joins (`de9im`,
    * `relate`, `relationCounts`, …) it is a performance dial only: the
    * verified pair set is identical under every setting. The weighted
    * calls are different: `w_cf`, `w_js` and `w_x2` count θ-tiles, so
    * the rankings of `progressive`, `topK`, `reciprocalTopK`, the
    * sequential algorithms and `pgrCurve` follow θ. */
  def thetaGranularity(g: String): SpatialLink = copy(granularity = g)

  /** Full holistic DE-9IM interlinking; every candidate pair verifies
    * where `SpatialJoin.candidatePairs` places it. */
  def de9im(): DataFrame =
    if (useFineGrained) SpatialJoin.de9imFineGrained(source, target,
      granularity = granularity)
    else SpatialJoin.de9im(source, target, granularity)

  /** Single-relation spatial join → (s_id, t_id). */
  def relate(relation: String): DataFrame =
    SpatialJoin.relate(source, target, relation, granularity)

  /** Spatio-temporal join (entities must carry a ts column). */
  def relateTemporal(relation: String, maxDays: Int = 2): DataFrame =
    SpatialJoin.temporalRelate(source, target, relation, maxDays, granularity)

  /** Relation-count summary (verifications + 9 relations). */
  def relationCounts(): DataFrame =
    SpatialJoin.relationCounts(source, target, granularity)

  /** Candidate count without verification. */
  def countVerifications(): Long =
    SpatialJoin.countVerifications(source, target, granularity)

  /** Budgeted progressive verification, declarative top-k. */
  def progressive(budget: Int, weight: String = "w_js",
                  relation: String = "intersects"): DataFrame =
    Progressive.progressiveVerify(source, target, weight, budget, relation,
      granularity)

  /** Per-target / reciprocal top-k variants. */
  def topK(k: Int, weight: String = "w_js"): DataFrame =
    Progressive.topKPerTarget(source, target, weight, k, granularity)
  def reciprocalTopK(k: Int, weight: String = "w_js"): DataFrame =
    Progressive.reciprocalTopK(source, target, weight, k, granularity)

  /** Sequential algorithms (per-partition PQ with feedback / batches).
    * `scheme`/`secondary` select the reference's multi-weight PQ
    * orderings (SIMPLE / COMPOSITE / HYBRID). */
  def dynamicProgressive(budget: Int, weight: String = "w_js",
                         relation: String = "intersects",
                         scheme: String = "SIMPLE",
                         secondary: String = ""): Dataset[VerifiedPair] =
    ProgressiveTyped.dynamicProgressive(source, target, weight, budget, relation,
      scheme, secondary, granularity)
  def earlyStopping(weight: String = "w_js", relation: String = "intersects",
                    batchSize: Int = 100, precisionLevel: Double = 0.1,
                    maxViolations: Int = 3): Dataset[VerifiedPair] =
    ProgressiveTyped.earlyStopping(source, target, weight, relation,
      batchSize, precisionLevel, maxViolations, granularity)

  /** Progressive-recall curve for quality evaluation. */
  def pgrCurve(weight: String = "w_js", relation: String = "intersects"): DataFrame =
    Progressive.pgrCurve(source, target, weight, relation,
      granularity = granularity)
}

object SpatialLink {
  /** Load a geometry relation from any DataFrame with id + WKT columns. */
  def entities(df: DataFrame, id: Column, wkt: Column,
               extra: (String, Column)*): DataFrame =
    SpatialJoin.entities(df, id, wkt, extra: _*)
}
