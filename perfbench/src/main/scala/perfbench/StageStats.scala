package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Spark-stage layer: a listener that sums task metrics per named step. A
  * step is whatever ran while `StageStats.step(sc, name)` was in force; the
  * name travels to the listener as a job property. Attached only in traced
  * runs. */
final class StageStats extends SparkListener {
  import StageStats._

  private val stepOfJob = mutable.Map.empty[Int, String]
  private val stepOfStage = mutable.Map.empty[Int, String]
  private val acc = mutable.LinkedHashMap.empty[String, Acc]

  private def accFor(step: String): Acc = acc.getOrElseUpdate(step, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val step = Option(e.properties).flatMap(p => Option(p.getProperty(StepKey))).getOrElse("other")
    stepOfJob(e.jobId) = step
    e.stageIds.foreach(stepOfStage(_) = step)
    val a = accFor(step)
    a.jobs += 1
    a.jobStartMs += e.time
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    accFor(stepOfStage.getOrElse(e.stageInfo.stageId, "other")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = accFor(stepOfStage.getOrElse(e.stageId, "other"))
    a.tasks += 1
    a.taskMs += e.taskInfo.duration
    a.taskDurations += e.taskInfo.duration
    a.taskStage += e.stageId
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuMs += m.executorCpuTime / 1e6
      a.gcMs += m.jvmGCTime
      a.shuffleReadBytes += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Metrics of every step whose name starts with `prefix`, merged. */
  def merged(sc: SparkContext, prefix: String): Acc = matching(sc, _.startsWith(prefix))

  /** Metrics of every step whose name satisfies `p`, merged. */
  def matching(sc: SparkContext, p: String => Boolean): Acc = {
    org.apache.spark.ListenerDrain.drain(sc)
    synchronized {
      val out = new Acc
      acc.filter(kv => p(kv._1)).values.foreach(out.add)
      out
    }
  }
}

object StageStats {
  val StepKey = "perfbench.step"

  /** Run `body` with its Spark jobs tagged as `name`. */
  def step[T](sc: SparkContext, name: String)(body: => T): T = {
    val prev = sc.getLocalProperty(StepKey)
    sc.setLocalProperty(StepKey, name)
    try body finally sc.setLocalProperty(StepKey, prev)
  }

  final class Acc {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var runMs = 0L
    var cpuMs = 0.0
    var gcMs = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    var outputBytes = 0L
    var taskMs = 0L
    val jobStartMs = mutable.ArrayBuffer.empty[Long]
    val taskDurations = mutable.ArrayBuffer.empty[Long]
    val taskStage = mutable.ArrayBuffer.empty[Int]

    def add(o: Acc): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      runMs += o.runMs; cpuMs += o.cpuMs; gcMs += o.gcMs
      shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
      outputBytes += o.outputBytes; taskMs += o.taskMs
      jobStartMs ++= o.jobStartMs; taskDurations ++= o.taskDurations; taskStage ++= o.taskStage
    }

    /** Raw values for run.py, which reduces them (medians, ratios). */
    def toJson: Json.Obj = Json.Obj(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "executor_run_ms" -> runMs, "executor_cpu_ms" -> cpuMs, "jvm_gc_ms" -> gcMs,
      "shuffle_read_bytes" -> shuffleReadBytes, "shuffle_write_bytes" -> shuffleWriteBytes,
      "output_bytes" -> outputBytes, "task_ms" -> taskDurations.toSeq, "task_stage" -> taskStage.toSeq)
  }
}
