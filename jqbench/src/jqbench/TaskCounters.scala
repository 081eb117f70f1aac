package jqbench

import org.apache.spark.SparkContext
import org.apache.spark.jqbench.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerStageCompleted, SparkListenerTaskEnd}

import scala.collection.mutable.ArrayBuffer

/** Job, stage and task counters of the Spark executions that run between
  * [[TaskCounters.reset]] and [[TaskCounters.snapshot]]. */
final class TaskCounters(sc: SparkContext) extends SparkListener {
  private var jobs, stages = 0
  private var cpuNs, runMs, gcMs = 0L
  private val taskMs = ArrayBuffer.empty[Long]

  sc.addSparkListener(this)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) { cpuNs += m.executorCpuTime; runMs += m.executorRunTime; gcMs += m.jvmGCTime }
  }

  def reset(): Unit = { BusDrain.drain(sc); synchronized { jobs = 0; stages = 0; cpuNs = 0; runMs = 0; gcMs = 0; taskMs.clear() } }

  /** The counters per execution, over `executions` executions. */
  def snapshot(executions: Int): Map[String, Double] = {
    BusDrain.drain(sc)
    synchronized {
      val sorted = taskMs.sorted
      def pct(p: Double) = if (sorted.isEmpty) 0.0 else sorted(math.min(sorted.size - 1, (p * sorted.size).toInt)) / 1000.0
      Map(
        "spark.jobs" -> jobs.toDouble / executions,
        "spark.stages" -> stages.toDouble / executions,
        "spark.tasks" -> sorted.size.toDouble / executions,
        "spark.task_s_p50" -> pct(0.5),
        "spark.task_s_p90" -> pct(0.9),
        "spark.task_samples" -> sorted.size.toDouble,
        "spark.cpu_share" -> (if (runMs == 0) 0.0 else cpuNs / 1e6 / runMs),
        "spark.gc_s" -> gcMs / 1000.0 / executions)
    }
  }
}
