package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession
import graft.storage.Storage

/** The engine side of the archive-path benchmark. `perfbench/run.py`
  * generates the inputs, starts this main once per run, and turns the
  * raw record it writes into metrics and output checks:
  *
  *   Main <workload> <inputs dir> <work dir> <seconds> <trace 0|1>
  *        <setups> <cores> <out file>
  *
  * One client thread drives the workload as a closed loop: the next
  * operation starts when the previous one returns. Set-up runs
  * `setups` times into fresh directories (the last one is used).
  * The measured window runs whole rounds of operations (see
  * [[Workload.fixed]]), so it may overrun `seconds`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, inputs, work, seconds, traceFlag, setups, cores, out) = args
    val marks = ArrayBuffer(Mark())
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cores]").appName("perfbench"),
      cores.toInt).getOrCreate()
    GraftSession.requireSqlSurface(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val trace = new Trace(spark, traceFlag == "1")
    val manifest = Files.readAllLines(Paths.get(inputs, "manifest.tsv"), UTF_8)
      .toArray(Array.empty[String]).toSeq.filter(_.nonEmpty).map(_.split("\t", -1).toSeq)
    val w: Workload = workload match {
      case "ingest_refresh" => new IngestRefresh(spark, trace, inputs, manifest)
      case "lookup_mix" => new LookupMix(spark, trace, inputs, manifest)
      case "analytics" => new Analytics(spark, trace, inputs, manifest)
    }
    marks += Mark()
    val setupSecs = (1 to setups.toInt).map { i =>
      val dir = new File(work, s"setup$i").getAbsolutePath
      val t0 = System.nanoTime()
      w.setup(dir)
      (System.nanoTime() - t0) / 1e9
    }
    Heap.sample()
    marks += Mark()
    w.warmup()
    marks += Mark()
    val deadline = System.nanoTime() + (seconds.toDouble * 1e9).toLong
    val ops = ArrayBuffer.empty[String]
    var i = 0
    // whole units only: a workload with fixed work runs all of it, the
    // others run whole rounds until the deadline, at least two (a
    // traced run: one traced and one not), so what a run measures does
    // not depend on how fast the program is
    val minOps = 2 * w.round
    while (w.hasNext && (w.fixed || i % w.round != 0 || i < minOps ||
        System.nanoTime() < deadline)) {
      // in a traced run every other round of operations records spans;
      // the rest give the untraced baseline for the tracing overhead
      val traced = trace.enabled && (i / w.round) % 2 == 0
      trace.active = traced
      val t0 = System.nanoTime()
      val result = w.next()
      val ms = (System.nanoTime() - t0) / 1e6
      trace.active = false
      if ((i + 1) % w.heapEvery == 0) Heap.sample()
      ops += Json.obj("i" -> i.toString, "ms" -> Json.num(ms),
        "traced" -> traced.toString, "r" -> result)
      i += 1
    }
    marks += Mark()
    Heap.sample()
    trace.active = trace.enabled
    val finish = w.finish()
    trace.active = false
    marks += Mark()
    val record = Json.obj(
      "workload" -> Json.str(workload),
      "setup_s" -> Json.arr(setupSecs.map(Json.num)),
      "heap_peak_mb" -> Json.num(Heap.peakMb),
      "ops" -> Json.arr(ops),
      "finish" -> finish,
      // per phase (starting the session, setting up with the heap
      // sample, warming up, the window, finishing): seconds of wall
      // time, of collector pauses and of JIT compilation
      "phases_s" -> Json.arr(marks.zip(marks.tail).map { case (a, b) =>
        Json.arr(Seq(b.wall - a.wall, b.gc - a.gc, b.jit - a.jit).map(d => Json.num(d / 1e9)))
      }),
      "trace" -> trace.toJson)
    Files.write(Paths.get(out), record.getBytes(UTF_8))
    spark.stop()
  }
}

/** Clock readings at a phase boundary, in nanoseconds: wall time, the
  * collectors' accumulated pause time and the JIT's compile time. */
final case class Mark(
    wall: Long = System.nanoTime(),
    gc: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum * 1000000L,
    jit: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime * 1000000L)

/** One workload: set-up, then operations until the run's time is up,
  * then the closing work and checks. Each call returns a JSON value
  * that `run.py` reads. */
trait Workload {
  def setup(dir: String): Unit
  /** Untimed work between set-up and the measured window. */
  def warmup(): Unit = ()
  /** Operations per round: a workload that rotates over kinds of
    * operation runs each kind once per round. */
  def round: Int = 1
  /** Whether the run does all of the workload's operations, whatever
    * the deadline (its inputs then fix the amount of work). */
  def fixed: Boolean = false
  /** Operations between forced-collection heap samples. */
  def heapEvery: Int = 1
  def hasNext: Boolean
  def next(): String
  def finish(): String
}

/** [[Storage]] whose `read` and `overwrite` record spans — the storage
  * layer's public calls, also when the engine makes them from inside
  * an API call. */
final class TracedStorage(spark: SparkSession, root: String, trace: Trace)
    extends Storage(spark, root) {
  override def read(table: String): DataFrame = trace.span("storage.read") {
    val df = super.read(table)
    if (trace.recording) trace.note(files = df.inputFiles.length)
    df
  }

  override def overwrite(table: String, df: DataFrame): Unit =
    trace.span("storage.overwrite")(super.overwrite(table, df))
}
