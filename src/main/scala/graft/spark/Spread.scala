package graft.spark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange

/** Site-selective parallelism repair for UNSPLITTABLE small inputs
  * (round 15; guide §2.5's repartition-after-read): the gate-scale
  * tables are single-row-group parquet files, so their scans are ONE
  * partition no matter what `files.minPartitionNum` asks (a row group
  * is the split atom) — and any per-row-HEAVY stage with no exchange
  * below it then runs serially on a 32-core session. A round-robin
  * repartition to defaultParallelism fixes that at the cost of moving
  * the rows once.
  *
  * Applied ONLY where the downstream per-row cost dominates that move
  * (measured, fresh-JVM A/B at sf0.1): the brute-force cosine arms
  * (dd7 2.43 s → 0.71 s) and the source of the spatial tile-index
  * probe (`SpatialJoin.candidatePairs`). A blanket spread in Tables.table was measured and REVERTED: agg-first
  * scans get slower (q1 0.46 s → 1.02 s — the exchange costs more than
  * the serial partial agg it parallelizes), and cheap per-row maps
  * break even at best (ta17 0.58 s → 0.76 s).
  *
  * No-op when the input already carries >= defaultParallelism
  * partitions, so production-scale scans (many splits) never pay it —
  * the knob derives from core count, nothing is tuned to local mode.
  */
object Spread {
  def apply(df: DataFrame): DataFrame =
    if (isSpread(df)) df
    else df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Whether `df` already runs wide enough that a spread would only
    * move rows: its physical plan has an exchange, or it reads as at
    * least defaultParallelism partitions. A plan with an exchange counts
    * as spread without reading its partition count, because under AQE
    * that read (`toRdd`) finalizes the plan and so eagerly runs every
    * upstream shuffle and broadcast as Spark jobs. Only exchange-free
    * plans have their count read; building their RDD runs no job.
    * `toRdd` rather than `.rdd`, which would plan a row-deserializer
    * conversion on every call. */
  private def isSpread(df: DataFrame): Boolean =
    hasExchange(df.queryExecution.executedPlan) ||
      df.queryExecution.toRdd.getNumPartitions >=
        df.sparkSession.sparkContext.defaultParallelism

  private def hasExchange(plan: SparkPlan): Boolean = plan.exists {
    case _: Exchange | _: QueryStageExec => true
    case a: AdaptiveSparkPlanExec => hasExchange(a.executedPlan)
    case _ => false
  }
}
