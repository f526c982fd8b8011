package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.metrics.JobMetrics

/** The job-metrics scope: exact job and task counts after its flush,
  * the bytes it sums, jobs from several threads, and no listener left
  * behind when the body throws. */
class JobMetricsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Listeners registered on the context's bus. The bus is
    * Spark-internal but public in bytecode. */
  private def listenerCount: Int = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("listeners").invoke(bus)
      .asInstanceOf[java.util.List[_]].size
  }

  test("one collect over four partitions reads 1 job, 4 tasks and its result bytes") {
    val sc = spark.sparkContext
    sc.setJobGroup("caller-group", "JobMetricsSpec")
    try {
      val (rows, rec) = JobMetrics.during(spark) {
        spark.range(0, 1000, 1, 4).collect()
      }
      assert(rows.length === 1000)
      assert(rec.jobs.size === 1 && rec.tasks === 4, rec)
      assert(rec.jobs.head.group === Some("caller-group"))
      assert(rec.resultBytes > 0L && rec.executorRunMs >= 0L, rec)
      assert(rec.stages.forall(_.callSite.startsWith("graft.JobMetricsSpec")), rec)
      // the marker job ran in a group of its own; the caller's is back
      assert(sc.getLocalProperty("spark.jobGroup.id") === "caller-group")
    } finally sc.clearJobGroup()
  }

  test("a body that launches nothing reads 0 jobs") {
    val (_, rec) = JobMetrics.during(spark) {
      spark.range(0, 100).selectExpr("id * 2 AS twice").filter("twice > 10")
    }
    assert(rec.jobs.isEmpty && rec.stages.isEmpty && rec.tasks === 0, rec)
  }

  test("a repartition reads its shuffle-write bytes") {
    val (_, rec) = JobMetrics.during(spark) {
      spark.range(0, 10000, 1, 4).repartition(3)
        .write.format("noop").mode("overwrite").save()
    }
    assert(rec.shuffleWriteBytes > 0L, rec)
    assert(rec.stages.exists(_.shuffleWriteBytes > 0L), rec)
  }

  test("actions from two threads inside one scope are both counted") {
    val sc = spark.sparkContext
    val (_, rec) = JobMetrics.during(spark) {
      val threads = Seq("left", "right").map { g =>
        new Thread(() => {
          sc.setJobGroup(g, "JobMetricsSpec thread")
          try spark.range(0, 500, 1, 2).collect() finally sc.clearJobGroup()
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
    }
    assert(rec.jobs.size === 2 && rec.tasks === 4, rec)
    assert(rec.jobs.map(_.group).toSet === Set(Some("left"), Some("right")))
  }

  test("a body that throws leaves no listener behind") {
    val before = listenerCount
    val err = intercept[IllegalStateException] {
      JobMetrics.during(spark) {
        spark.range(0, 100, 1, 2).collect()
        throw new IllegalStateException("boom")
      }
    }
    assert(err.getMessage === "boom")
    assert(listenerCount === before)
    val (_, rec) = JobMetrics.during(spark)(spark.range(0, 100, 1, 4).collect())
    assert(rec.jobs.size === 1 && rec.tasks === 4, rec)
  }
}
