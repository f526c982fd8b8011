package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/** Drives [[Bench.runPasses]] with a fake clock and fake measurements —
  * no SparkSession. Pins the round-15 verdict's budget contract: pass 1
  * always completes, passes >= 2 check the budget BEFORE each query and
  * stop mid-pass, every query keeps at least one sample, and
  * even-sample medians report the lower-middle (for 2 samples, the
  * min) so a budget-shortened run reports conservatively.
  */
class BenchSpec extends AnyFunSuite {

  /** A clock that advances by each measured duration, like the real
    * wall clock does over real queries. `cancelAtSec` simulates the
    * cap watchdog: a duration past it produces a CANCELLED sample
    * billed at the cancellation point, like the real runWithCap does. */
  private final class FakeRun(durations: Map[String, Double],
      cancelAtSec: Double = Double.MaxValue) {
    var now = 0.0
    val trace = mutable.ArrayBuffer.empty[(Int, String)]
    private var currentPass = 0
    val samples = mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    val capped = mutable.LinkedHashSet.empty[String]
    val billed = mutable.Map.empty[String, Double]
    def measure(name: String): Bench.Sample = {
      val sec = durations(name)
      val cancelled = sec > cancelAtSec
      // a cancelled job bills the cancellation point, not its full
      // duration — that is the whole point of the watchdog
      val b = if (cancelled) cancelAtSec else sec
      now += b
      trace += ((currentPass, name))
      Bench.Sample(if (cancelled) cancelAtSec else sec, b, cancelled)
    }
    def run(names: Seq[String], runs: Int, budgetSec: Double,
        queryCapSec: Double = Double.MaxValue): Bench.PassOutcome =
      Bench.runPasses(names, measure, samples, capped, runs, budgetSec,
        queryCapSec, () => now, billed,
        onPassStart = () => currentPass += 1)
  }

  private val names = Seq("qa", "qb", "qc")

  test("median of an odd sample count is the middle value") {
    assert(Bench.medianOf(Seq(9.0, 1.0, 4.0)) == 4.0)
    assert(Bench.medianOf(Seq(7.0)) == 7.0)
  }

  test("median of 2 samples is the MIN (lower-middle), not the max") {
    // r15: the driver reported q124 at 175 s because the upper-middle
    // of {13.3, 175.4} is the worst sample
    assert(Bench.medianOf(Seq(175.4, 13.3)) == 13.3)
    assert(Bench.medianOf(Seq(1.0, 2.0, 3.0, 100.0)) == 2.0)
  }

  test("pass 1 always completes even with a zero budget " +
      "(one-sample-per-query guarantee)") {
    val r = new FakeRun(Map("qa" -> 10.0, "qb" -> 10.0, "qc" -> 10.0))
    val out = r.run(names, runs = 3, budgetSec = 0.0)
    assert(names.forall(n => r.samples(n).size == 1))
    assert(out.passes == 1)
    assert(out.budgetExceeded)
    assert(!out.stoppedMidPass) // tripped between passes, not mid-pass
  }

  test("pass 2 stops MID-PASS once the budget is crossed; " +
      "every query keeps >= 1 sample") {
    // pass 1 = 3 x 100 s = 300 s (under 450 s budget, so pass 2
    // launches); the r15 failure mode was pass 2 then running all the
    // way to 600 s — here the pre-query check must stop it after qb
    // crosses the budget mid-pass
    val r = new FakeRun(Map("qa" -> 100.0, "qb" -> 100.0, "qc" -> 100.0))
    val out = r.run(names, runs = 3, budgetSec = 450.0)
    assert(out.budgetExceeded && out.stoppedMidPass)
    assert(out.passes == 2)
    // pass 2 ran qa (elapsed 300 <= 450) and qb (elapsed 400 <= 450),
    // then stopped before qc (elapsed 500 > 450): NOT a full pass
    assert(r.trace.count(_._1 == 2) == 2)
    assert(r.samples("qc").size == 1) // pass-1 sample retained
    assert(names.forall(n => r.samples(n).nonEmpty))
    // total wall-clock overshoot is bounded by one query, not one pass
    assert(r.now == 500.0)
  }

  test("under budget, all passes run and medians use 3 samples") {
    val r = new FakeRun(Map("qa" -> 1.0, "qb" -> 1.0, "qc" -> 1.0))
    val out = r.run(names, runs = 3, budgetSec = 1e9)
    assert(out.passes == 3 && !out.budgetExceeded && !out.stoppedMidPass)
    assert(names.forall(n => r.samples(n).size == 3))
  }

  test("a query over the per-query cap keeps its sample but runs " +
      "no further passes; others are unaffected") {
    val r = new FakeRun(Map("qa" -> 1.0, "qb" -> 99.0, "qc" -> 1.0))
    val out = r.run(names, runs = 3, budgetSec = 1e9, queryCapSec = 60.0)
    assert(out.passes == 3)
    assert(r.capped.toSeq == Seq("qb"))
    assert(r.samples("qb").size == 1)
    assert(r.samples("qa").size == 3 && r.samples("qc").size == 3)
    // the un-cancelled over-cap run billed its full duration, and the
    // artifact must say so
    assert(r.billed("qb") == 99.0)
  }

  test("a CANCELLED query records the cap value as its sample and bills " +
      "only up to the cancellation") {
    // r17 verdict item 1a: a 'capped' cold q65 still billed 140.6 s of
    // the 600 s budget because the cap only marked — with cancellation
    // the budget spend is bounded at the cap
    val r = new FakeRun(Map("qa" -> 1.0, "qb" -> 140.0, "qc" -> 1.0),
      cancelAtSec = 60.0)
    val out = r.run(names, runs = 3, budgetSec = 1e9, queryCapSec = 60.0)
    assert(out.passes == 3)
    assert(r.capped.toSeq == Seq("qb"))
    assert(r.samples("qb") == List(60.0),
      "a cancelled sample reports the cap value, not a bogus duration")
    assert(r.billed("qb") == 60.0, "the cancellation must bound the spend")
    // total wall: qb billed 60 once + qa/qc 3 passes each
    assert(r.now == 60.0 + 6.0)
  }

  test("runWithCap cancels an in-flight run at the cap and reports the " +
      "billed wall time") {
    // the spy-cancellable 'session': run blocks until cancel() releases
    // it — exactly the shape of a Spark job group cancellation
    val latch = new java.util.concurrent.CountDownLatch(1)
    var cancelCalls = 0
    val s = Bench.runWithCap("spy", capSec = 0.2,
      cancel = () => { cancelCalls += 1; latch.countDown() },
      run = () => {
        if (!latch.await(30, java.util.concurrent.TimeUnit.SECONDS))
          fail("the watchdog never fired")
        throw new RuntimeException("job cancelled") // like a real cancel
      })
    assert(cancelCalls == 1)
    assert(s.cancelled)
    assert(s.sec == 0.2, "a cancelled sample reports the cap value")
    assert(s.billedSec >= 0.2 && s.billedSec < 10.0,
      s"billed must be the real (bounded) wall time, got ${s.billedSec}")
  }

  test("runWithCap leaves a fast run alone: no cancel, real duration") {
    var cancelCalls = 0
    val s = Bench.runWithCap("fast", capSec = 30.0,
      cancel = () => cancelCalls += 1,
      run = () => Thread.sleep(20))
    assert(cancelCalls == 0 && !s.cancelled)
    assert(s.sec >= 0.02 && s.sec == s.billedSec)
  }

  test("demotion planning: nothing demoted at the committed calibration, " +
      "heavy inline twins demoted on a slow machine, stored twins stay") {
    // r17 verdict item 1b — the committed artifacts must be unchanged
    // on a fast machine
    val names = Bench.headline.toSeq.sorted
    assert(Bench.planDemotions(names, runs = 3, budgetSec = 600.0,
      calibrationSec = Bench.refCalibrationSec, queryCapSec = 60.0).isEmpty)
    // a 4x-slower VM (r16's driver band): the estimate cannot fit 3
    // passes, the inline composites demote in the declared order
    val slow = Bench.planDemotions(names, runs = 3, budgetSec = 600.0,
      calibrationSec = Bench.refCalibrationSec * 4, queryCapSec = 60.0)
    assert(slow.nonEmpty)
    assert(slow == Bench.demotable.take(slow.size),
      s"demotions must follow the declared deterministic order, got $slow")
    // every demoted inline form's stored twin must NOT be demotable
    val storedTwins = Seq("q117_incremental_merge_stored",
      "q119_curation_stored", "q120_semantic_dedup_stored",
      "q91_incremental_dedup_stored")
    assert(storedTwins.forall(t => !Bench.demotable.contains(t)))
  }

  test("a simulated slow run with demotions applied finishes under budget") {
    // the whole point of item 1b: after demotion, 3 passes of the
    // remaining set at 4x-scaled historical medians fit 600 s cleanly
    val scale = 4.0
    val all = Bench.headline.toSeq.sorted
    val demoted = Bench.planDemotions(all, runs = 3, budgetSec = 600.0,
      calibrationSec = Bench.refCalibrationSec * scale, queryCapSec = 60.0)
    val active = all.filterNot(demoted.contains)
    val durations = active.map(n =>
      n -> Bench.headlineHist(n).medianSec * scale).toMap
    val r = new FakeRun(durations)
    val out = r.run(active, runs = 3, budgetSec = 600.0, queryCapSec = 60.0)
    assert(!out.budgetExceeded && out.passes == 3,
      s"demoted slow run must finish clean, wall=${r.now}")
    assert(active.forall(n => r.samples(n).size == 3))
  }

  test("budget crossed during pass 1 skips pass 2 entirely " +
      "(between-pass check still present)") {
    val r = new FakeRun(Map("qa" -> 200.0, "qb" -> 200.0, "qc" -> 200.0))
    val out = r.run(names, runs = 3, budgetSec = 450.0)
    assert(out.passes == 1 && out.budgetExceeded && !out.stoppedMidPass)
    assert(r.trace.size == 3)
  }

  test("only a clean finished run writes the official artifact path; " +
      "degraded runs land on the _partial sibling") {
    // r16: the driver's 1-pass budget-exceeded run overwrote the
    // committed clean headline artifact in the working tree — anyone
    // reading the tree saw the cold-sample noise as "latest"
    val official = "BENCH_HEADLINE_latest.json"
    assert(Bench.partialSibling(official)
      === "BENCH_HEADLINE_latest_partial.json")
    assert(Bench.partialSibling("noext") === "noext_partial")
    assert(Bench.finalOutPath(official, budgetExceeded = false,
      cappedCount = 0) === official)
    assert(Bench.finalOutPath(official, budgetExceeded = true,
      cappedCount = 0) === "BENCH_HEADLINE_latest_partial.json")
    assert(Bench.finalOutPath(official, budgetExceeded = false,
      cappedCount = 2) === "BENCH_HEADLINE_latest_partial.json")
  }

  test("the artifact JSON carries n_samples, the statistic name, and the calibration") {
    // r16 verdict item 1 + the advisor's statistic-naming finding: a
    // one-pass driver artifact must be gradable from its own fields —
    // per-query sample counts, which order statistic the figures are,
    // and a machine-speed reference to normalize by
    val json = Bench.renderArtifactJson(
      results = Seq(("qa", 1.0, 1.5, 9.0, 3), ("qb", 2.0, 2.0, 2.0, 1)),
      calCpuSec = 0.4, calScanSec = 0.6, calFsMetaSec = 0.05,
      sfDir = "/tmp/sf", mode = "headline",
      nQueries = 2, passes = 3, passStartedAt = Seq("t1", "t2", "t3"),
      budgetSec = 600.0, budgetExceeded = false, partialPass = false,
      queryCapSec = 60.0, capped = Nil)
    assert(json.contains("\"n_samples\":{\"qa\":3,\"qb\":1}"), json)
    assert(json.contains("\"statistic\":\"median_lower_middle\""), json)
    // calibration_sec stays cpu+scan: the fsmeta probe is attribution
    // breakdown only, never part of the normalization denominator
    assert(json.contains("\"calibration_sec\":1.0"), json)
    assert(json.contains("\"calibration\":{\"cpu_sec\":0.4," +
      "\"scan_sec\":0.6,\"fsmeta_sec\":0.05}"), json)
    assert(json.contains("\"queries\":{\"qa\":1.5,\"qb\":2.0}"), json)
    assert(json.contains("\"billed_sec\":{}") &&
      json.contains("\"demoted\":[]"), json)
  }

  test("the artifact JSON carries billed_sec for capped queries and the demoted list") {
    // r17 verdict item 5: a reader must see from the artifact alone
    // that the cancellation bounded the capped query's spend
    val json = Bench.renderArtifactJson(
      results = Seq(("qa", 1.0, 1.5, 9.0, 3), ("qb", 60.0, 60.0, 60.0, 1)),
      calCpuSec = 0.4, calScanSec = 0.6, calFsMetaSec = 0.05,
      sfDir = "/tmp/sf", mode = "headline",
      nQueries = 2, passes = 3, passStartedAt = Seq("t1"),
      budgetSec = 600.0, budgetExceeded = false, partialPass = false,
      queryCapSec = 60.0, capped = Seq("qb"),
      billed = Map("qb" -> 61.3), demoted = Seq("q65_incremental_merge"))
    assert(json.contains("\"billed_sec\":{\"qb\":61.3}"), json)
    assert(json.contains("\"capped\":[\"qb\"]"), json)
    assert(json.contains("\"demoted\":[\"q65_incremental_merge\"]"), json)
  }

  test("the artifact JSON appends query_metrics and leaves every earlier key as it was") {
    import graft.metrics.JobMetrics
    def render(metrics: Map[String, JobMetrics.Record]) = Bench.renderArtifactJson(
      results = Seq(("qa", 1.0, 1.5, 9.0, 3), ("qb", 2.0, 2.0, 2.0, 1)),
      calCpuSec = 0.4, calScanSec = 0.6, calFsMetaSec = 0.05,
      sfDir = "/tmp/sf", mode = "headline",
      nQueries = 2, passes = 3, passStartedAt = Seq("t1", "t2", "t3"),
      budgetSec = 600.0, budgetExceeded = false, partialPass = false,
      queryCapSec = 60.0, capped = Seq("qb"), billed = Map("qb" -> 61.3),
      queryMetrics = metrics)
    val rec = JobMetrics.Record(
      jobs = Seq(JobMetrics.Job(7, Some("graft-bench-qa")), JobMetrics.Job(8, None)),
      stages = Seq(
        JobMetrics.Stage(11, "graft.Bench$.main(Bench.scala:1)", tasks = 4,
          executorRunMs = 1500, executorCpuNs = 1200000000L, resultBytes = 10,
          shuffleWriteBytes = 2500000, maxTaskMs = 600),
        JobMetrics.Stage(12, "graft.operators.Dedup$.x(\"q\")", tasks = 2,
          executorRunMs = 2500, executorCpuNs = 300000000L, resultBytes = 5,
          shuffleWriteBytes = 0, maxTaskMs = 2000)))
    val without = render(Map.empty)
    val withMetrics = render(Map("qa" -> rec))
    assert(without.endsWith(",\"query_metrics\":{}}"), without)
    assert(withMetrics.endsWith(",\"query_metrics\":{\"qa\":{\"jobs\":2," +
      "\"stages\":2,\"tasks\":6,\"executor_run_sec\":4.0," +
      "\"executor_cpu_sec\":1.5,\"shuffle_write_mb\":2.5," +
      "\"max_task_sec\":2.0," +
      "\"slowest_stage\":\"graft.operators.Dedup$.x(\\\"q\\\")\"}}}"), withMetrics)
    // the record is appended: every key before it, and its value, is
    // the same as in an artifact without it
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val a = json.readTree(without).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val b = json.readTree(withMetrics).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    assert(b.get("query_metrics").get("qa").get("tasks").asInt === 6)
    a.remove("query_metrics"); b.remove("query_metrics")
    assert(a === b)
    val prefix = without.stripSuffix(",\"query_metrics\":{}}")
    assert(withMetrics.startsWith(prefix + ",\"query_metrics\":"))
  }

  test("the fsmeta calibration probe measures fixed metadata work") {
    // store-heavy band shifts (r18: ~1.0x cpu+scan calibration while
    // store probes ran 3-5x) are attributable only if the artifact
    // carries a metadata-latency reference; pin that the probe runs,
    // cleans up after itself, and returns a plausible duration
    val a = Bench.fsMetaProbe()
    assert(a > 0.0 && a < 60.0, s"implausible fsmeta probe: $a")
  }

  test("the CPU calibration probe measures fixed work and returns wall seconds") {
    // data-independent by construction; just pin that it runs, returns
    // a plausible positive duration, and is repeatable within an order
    // of magnitude on one machine (the artifact's cross-machine use
    // only needs it to scale with machine speed)
    val a = Bench.cpuProbe()
    val b = Bench.cpuProbe()
    assert(a > 0.0 && b > 0.0)
    assert(a / b < 10.0 && b / a < 10.0)
  }
}
