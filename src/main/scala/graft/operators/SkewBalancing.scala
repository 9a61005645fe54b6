package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.GeomFunctions._

/** Verification-cost skew handling (reference: DS-JedAI
  * `linkers/loadbalancing/WellBalancedDistributedInterlinking.scala`
  * L1-L2). Spark's AQE skew join only rebalances shuffle BYTES; the
  * expensive resource here is JTS verification time, which scales with
  * geometry size x candidate count. So the cost model stays explicit:
  *
  *   cost(target) = numPoints(target) x |candidates(target)|
  *   skewed      <=> z-score(cost) > zThreshold   (reference: 3)
  *
  * Cheap pairs verify in place (no extra shuffle); skewed pairs are
  * round-robin repartitioned so one hot target's verifications spread
  * across the cluster, then the two branches union. Results are
  * identical to the unbalanced join — only placement changes.
  */
object SkewBalancing {

  /** Hot-target ids by z-scored verification cost. The stats pass runs
    * over NARROW candidates (ids + MBRs) with the point count joined
    * from the entity frame — the wide geometry-carrying join is never
    * evaluated just to count pairs (the reference's stats come from
    * per-partition entity arrays, similarly blob-free). */
  private def skewSplit(source: DataFrame, target: DataFrame,
                        theta: SpatialJoin.Theta, zThreshold: Double): DataFrame = {
    val costs = SpatialJoin.candidatePairsNarrow(source, target, theta)
      .groupBy(col("t_id")).agg(count(lit(1)).as("n"))
      .join(target.select(col("id").as("t_id"),
        st_numpoints(col("geom")).as("np")), "t_id")
      .select(col("t_id"), (col("n") * col("np")).as("cost"))
    val stats = costs.agg(
      avg(col("cost")).as("mu"), stddev_pop(col("cost")).as("sigma")).head()
    if (stats.isNullAt(0) || stats.isNullAt(1)) // zero candidates
      return costs.select(col("t_id")).limit(0)
    val mu = stats.getDouble(0)
    val sigma = math.max(stats.getDouble(1), 1e-12)
    costs
      .filter((col("cost") - mu) / sigma > zThreshold)
      .select(col("t_id"))
  }

  private def verify(pairs: DataFrame): DataFrame =
    SpatialJoin.imRows(pairs, st_im(col("s_geom"), col("t_geom")))

  /** DE-9IM with cost-balanced verification placement. */
  def balancedDe9im(source: DataFrame, target: DataFrame,
                    zThreshold: Double = 3.0,
                    granularity: String = "avg"): DataFrame = {
    val theta = SpatialJoin.computeTheta(source, granularity)
    val cands = SpatialJoin.candidatePairs(source, target, theta)
    val skewedIds = skewSplit(source, target, theta, zThreshold)

    // Broadcast membership split: cheap pairs stay put, skewed pairs
    // spread round-robin across all partitions.
    val cheap  = cands.join(broadcast(skewedIds), Seq("t_id"), "left_anti")
    val skewed = cands.join(broadcast(skewedIds), Seq("t_id"), "left_semi")
      .repartition(cands.sparkSession.sessionState.conf.numShufflePartitions)

    verify(cheap).unionByName(verify(skewed))
  }
}
