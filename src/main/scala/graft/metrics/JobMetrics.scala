package graft.metrics

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The Spark work a block of driver code causes, read from the
  * scheduler's listener bus: the one place the engine, Bench,
  * ScaleEvidence and the specs count jobs, tasks and bytes.
  *
  * The bus is asynchronous, so [[during]] ends by running a one-task
  * marker job in a job group of its own. The bus delivers events to a
  * listener in the order they were posted, and every job `body`
  * started has posted its start, its tasks' ends and its stages'
  * completions before the action that ran it returned. Once the
  * listener sees the marker's start, the record is exact: no sleep,
  * no settling loop. */
object JobMetrics {

  /** One job started while the scope ran, with the job group of the
    * thread that started it (None outside any group). */
  final case class Job(id: Int, group: Option[String])

  /** One stage of a recorded job that ran tasks: the task count, their
    * summed executor run time (ms) and CPU time (ns), the result bytes
    * they sent to the driver, the shuffle bytes they wrote, the longest
    * task's run time (ms), and the stage's call site — the first
    * `graft` frame of the stack that started it. That is "" when none:
    * AQE submits query stages and broadcasts from its own threads. */
  final case class Stage(id: Int, callSite: String, tasks: Int,
      executorRunMs: Long, executorCpuNs: Long, resultBytes: Long,
      shuffleWriteBytes: Long, maxTaskMs: Long)

  /** Every job started while the scope ran, in start order, and the
    * stages of those jobs that ran tasks, by stage id. A stage whose
    * shuffle output was reused is skipped and does not appear. */
  final case class Record(jobs: Seq[Job], stages: Seq[Stage]) {
    def tasks: Int = stages.map(_.tasks).sum
    def executorRunMs: Long = stages.map(_.executorRunMs).sum
    def executorCpuNs: Long = stages.map(_.executorCpuNs).sum
    def resultBytes: Long = stages.map(_.resultBytes).sum
    def shuffleWriteBytes: Long = stages.map(_.shuffleWriteBytes).sum
    def maxTaskMs: Long = stages.map(_.maxTaskMs).maxOption.getOrElse(0L)
    /** The stage with the most summed executor run time. */
    def slowestStage: Option[Stage] = stages.maxByOption(_.executorRunMs)
  }

  private val GroupKey = "spark.jobGroup.id"

  /** How long the flush waits for its marker before giving up. */
  private val FlushTimeoutSec = 60L

  /** Runs `body` and returns its value with the [[Record]] of the work
    * it caused, from every thread. A job group set by the calling
    * thread is kept: the marker job runs under its own group, and the
    * caller's is restored after it. When `body` throws, the exception
    * propagates and the listener is removed all the same. */
  def during[T](spark: SparkSession)(body: => T): (T, Record) = {
    val sc = spark.sparkContext
    val recorder = new Recorder(s"graft-metrics-flush-${java.util.UUID.randomUUID}")
    sc.addSparkListener(recorder)
    try {
      val out = body
      flush(sc, recorder.marker)
      if (!recorder.flushed.await(FlushTimeoutSec, TimeUnit.SECONDS))
        throw new IllegalStateException(s"the listener bus did not deliver " +
          s"the metrics flush job within $FlushTimeoutSec s")
      (out, recorder.record)
    } finally sc.removeSparkListener(recorder)
  }

  private def flush(sc: SparkContext, marker: String): Unit = {
    val callerGroup = sc.getLocalProperty(GroupKey)
    sc.setLocalProperty(GroupKey, marker)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(GroupKey, callerGroup)
  }

  /** The first `graft` frame of a stage's call-site stack, without the
    * class loader prefix; this scope's own frames are skipped. */
  private def graftFrame(details: String): String =
    details.linesIterator.map(_.trim.stripPrefix("app//"))
      .find(l => l.startsWith("graft.") && !l.startsWith("graft.metrics."))
      .getOrElse("")

  /** Every callback runs on the bus's one dispatch thread. Events after
    * the marker's start are ignored, so once [[flushed]] is released
    * the collections no longer change and the caller may read them. */
  private final class Recorder(val marker: String) extends SparkListener {
    val flushed = new CountDownLatch(1)
    private val jobs = mutable.ArrayBuffer.empty[Job]
    private val jobStages = mutable.Set.empty[Int]
    private val stages = mutable.Map.empty[Int, Stage]
    private val sites = mutable.Map.empty[Int, String]

    private def open: Boolean = flushed.getCount > 0

    override def onJobStart(j: SparkListenerJobStart): Unit = if (open) {
      val group = Option(j.properties).flatMap(p => Option(p.getProperty(GroupKey)))
      if (group.contains(marker)) flushed.countDown()
      else {
        jobs += Job(j.jobId, group)
        jobStages ++= j.stageIds
      }
    }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (open && t.taskMetrics != null) {
        val m = t.taskMetrics
        val s = stages.getOrElse(t.stageId, Stage(t.stageId, "", 0, 0L, 0L, 0L, 0L, 0L))
        stages(t.stageId) = s.copy(tasks = s.tasks + 1,
          executorRunMs = s.executorRunMs + m.executorRunTime,
          executorCpuNs = s.executorCpuNs + m.executorCpuTime,
          resultBytes = s.resultBytes + m.resultSize,
          shuffleWriteBytes = s.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
          maxTaskMs = s.maxTaskMs max m.executorRunTime)
      }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      if (open) sites(s.stageInfo.stageId) = graftFrame(s.stageInfo.details)

    def record: Record = Record(jobs.toSeq,
      stages.values.filter(s => jobStages(s.id)).toSeq.sortBy(_.id)
        .map(s => s.copy(callSite = sites.getOrElse(s.id, ""))))
  }
}
