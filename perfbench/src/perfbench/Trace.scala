package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into each engine layer, plus the
  * Spark jobs, tasks and planning phases that ran inside them.
  *
  * A span sets the Spark job group to its own id while it is open, so
  * the listener can attribute every job (and the tasks of its stages)
  * to the innermost open span. Planning phases carry no job group;
  * they are attributed later by time, to the innermost span open when
  * the phase started (one client thread, so that span caused it).
  *
  * Everything stays in memory until [[toJson]] at the end of the run.
  * With `enabled` false, [[span]] only runs its body.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val epochMicros0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()

  /** Wall clock in epoch microseconds, from the monotonic clock. */
  def nowMicros(): Long = epochMicros0 + (System.nanoTime() - nano0) / 1000L

  private case class Span(id: Int, parent: Int, name: String,
      start: Long, var end: Long = 0L, var files: Long = 0L,
      var results: Long = 0L)

  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  /** Whether the current operation records spans (set per operation). */
  var active = false

  def recording: Boolean = enabled && active

  /** Run `body` as span `name`, a child of the innermost open span.
    * `files`/`results` annotate the span after the body returns. */
  def span[T](name: String)(body: => T): T =
    if (!recording) body
    else {
      val s = Span(spans.length, stack.headOption.map(_.id).getOrElse(-1),
        name, nowMicros())
      spans += s
      stack = s :: stack
      sc.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
      try body
      finally {
        s.end = nowMicros()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Annotate the innermost open span (no-op when not recording). */
  def note(files: Long = 0L, results: Long = 0L): Unit =
    if (recording) stack.headOption.foreach { s =>
      s.files += files; s.results += results
    }

  private final case class TaskRec(span: String, launch: Long, finish: Long,
      cpuNs: Long, shuffleWrite: Long, shuffleRead: Long, recordsRead: Long,
      bytesWritten: Long)

  private val stageSpan = new ConcurrentHashMap[Integer, String]()
  private val jobs = ArrayBuffer.empty[(String, Int)]
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val phases = ArrayBuffer.empty[(String, Long, Long)]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null && g.startsWith("span-")) {
        e.stageIds.foreach(id => stageSpan.put(id, g))
        jobs.synchronized(jobs += ((g, e.jobId)))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val g = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (g != null && m != null) tasks.synchronized(tasks += TaskRec(g,
        e.taskInfo.launchTime, e.taskInfo.finishTime, m.executorCpuTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten))
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, p) =>
        phases.synchronized(phases += ((phase, p.startTimeMs, p.endTimeMs)))
      }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(planListener)
  }

  /** Block until the listener bus has delivered every posted event.
    * `listenerBus` is Spark-internal (no public drain call); it is
    * public in bytecode, so reach it reflectively. */
  private def drain(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def toJson: String = {
    if (enabled) drain()
    val sb = new StringBuilder
    sb ++= "{\"spans\":["
    sb ++= spans.map(s =>
      s"[${s.id},${s.parent},${Json.str(s.name)},${s.start},${s.end},${s.files},${s.results}]")
      .mkString(",")
    sb ++= "],\"jobs\":["
    sb ++= jobs.synchronized(jobs.map { case (g, j) => s"[${spanId(g)},$j]" }.mkString(","))
    sb ++= "],\"tasks\":["
    sb ++= tasks.synchronized(tasks.map(t =>
      s"[${spanId(t.span)},${t.launch},${t.finish},${t.cpuNs},${t.shuffleWrite}," +
        s"${t.shuffleRead},${t.recordsRead},${t.bytesWritten}]").mkString(","))
    sb ++= "],\"phases\":["
    sb ++= phases.synchronized(phases.map { case (p, s, e) =>
      s"[${Json.str(p)},$s,$e]" }.mkString(","))
    sb ++= "]}"
    sb.toString
  }

  private def spanId(group: String): Int = group.stripPrefix("span-").toInt
}

/** Peak live set of the driver's old generation. [[sample]] runs at
  * quiet points (after set-up, after every operation outside its timed
  * section, after the window), forces full collections and reads the
  * old generation; collections repeat until the reading settles, so
  * Spark's cleaner can drop the blocks of broadcasts and cached frames
  * an earlier one found unreachable. The collector's own reading after
  * its last collection (`getCollectionUsage`) is not used: it holds
  * whatever garbage young collections promoted, and so varies with when
  * the collector ran. */
object Heap {
  private var peak = 0L

  private def oldPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  private def oldGen(): Long = {
    System.gc()
    oldPools.map(_.getUsage.getUsed).sum
  }

  def sample(): Unit = {
    var last = oldGen()
    var now = last
    var n = 0
    do {
      Thread.sleep(100)
      last = now
      now = oldGen()
      n += 1
    } while (math.abs(now - last) > (1L << 20) && n < 4)
    peak = math.max(peak, now)
  }

  def peakMb: Double = peak / (1024.0 * 1024.0)
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  /** A JSON object from already-rendered values. */
  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(items: Iterable[String]): String = items.mkString("[", ",", "]")
}
