package linkbench

import scala.collection.mutable
import org.apache.spark.{LinkbenchBus, SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Job, stage and task totals over one measured window. */
final case class Window(jobs: Long, stages: Long, tasks: Long, failedTasks: Long,
                        taskS: Double, cpuS: Double, gcS: Double,
                        shuffleWriteMb: Double, shuffleReadMb: Double,
                        fetchWaitS: Double, spillMb: Double, busyFrac: Double,
                        resultStageTaskS: Seq[Double])

/** A SparkListener the benchmark registers in traced runs only; the
  * engine itself records nothing. Totals accumulate from [[reset]]
  * until [[window]]. */
final class StageListener(sc: SparkContext) extends SparkListener {
  private var jobs, stages, tasks, failedTasks = 0L
  private var runMs, cpuNs, gcMs, shWrite, shRead, fetchMs, spill = 0L
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private var lastJobStages = Seq.empty[Int]

  def reset(): Unit = {
    LinkbenchBus.drain(sc)
    synchronized {
      jobs = 0; stages = 0; tasks = 0; failedTasks = 0
      runMs = 0; cpuNs = 0; gcMs = 0; shWrite = 0; shRead = 0; fetchMs = 0; spill = 0
      taskMs.clear(); lastJobStages = Seq.empty
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1; lastJobStages = e.stageIds
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (e.reason != Success) failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime; cpuNs += m.executorCpuTime; gcMs += m.jvmGCTime
      shWrite += m.shuffleWriteMetrics.bytesWritten
      shRead += m.shuffleReadMetrics.totalBytesRead
      fetchMs += m.shuffleReadMetrics.fetchWaitTime
      spill += m.diskBytesSpilled
      taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  /** Task run times of the result stage of the window's last job: the
    * stage that evaluates the top of the plan, where verification
    * runs. */
  def resultStageTaskS: Seq[Double] = {
    LinkbenchBus.drain(sc)
    synchronized {
      lastJobStages.filter(taskMs.contains).sorted.lastOption
        .map(taskMs(_).map(_ / 1000.0).toSeq).getOrElse(Seq.empty)
    }
  }

  def window(wallS: Double, cores: Int): Window = {
    val verify = resultStageTaskS
    synchronized {
      val mb = 1024.0 * 1024.0
      Window(jobs, stages, tasks, failedTasks, runMs / 1000.0, cpuNs / 1e9, gcMs / 1000.0,
        shWrite / mb, shRead / mb, fetchMs / 1000.0, spill / mb,
        runMs / 1000.0 / (wallS * cores), verify)
    }
  }
}

/** SQL metrics read from an executed (AQE-final) plan. */
object PlanMetrics {

  /** Every node of the plan that ran, descending through adaptive
    * wrappers and query stages but not into reused exchanges, whose
    * metrics belong to the exchange they reuse. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Rows out of the tile explode (both sides together). */
  def generatedRows(p: SparkPlan): Long =
    nodes(p).collect { case g: GenerateExec => g.metrics.get("numOutputRows") }
      .flatten.map(_.value).sum
}
