package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.DriverLocal
import graft.metrics.JobMetrics
import graft.operators.IvfAnn
import DriverLocalSpec.withMaxRows

object DriverLocalSpec {
  /** `body` with the driver-local row bound at `rows`, the session's
    * own setting restored on exit. */
  def withMaxRows[A](spark: SparkSession, rows: Long)(body: => A): A = {
    val conf = DriverLocal.MaxRowsConf
    val prior = spark.conf.getOption(conf)
    spark.conf.set(conf, rows)
    try body
    finally prior.fold(spark.conf.unset(conf))(spark.conf.set(conf, _))
  }
}

/** The one driver-local bound: what its collect returns at and past
  * each limit, what an over-cap probe costs, and that every query whose
  * operators take a driver-local shortcut answers the same with the
  * bound at 0 (every site distributed) as at the default. */
class DriverLocalSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("collect returns the rows within both limits and None past either") {
    val s = spark
    val df = s.range(0, 100, 1, 4).select(col("id"), (col("id") * 2).as("twice"))
    def at(maxRows: Long) = withMaxRows(s, maxRows)(DriverLocal.collect(df))
    val all = at(100).map(_.map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(all === Some((0L until 100L).map(i => (i, 2 * i)).toSet))
    assert(at(99).isEmpty && at(0).isEmpty)
    // an empty input fits any bound, 0 included
    assert(withMaxRows(s, 0)(DriverLocal.collect(df.limit(0)))
      .map(_.length) === Some(0))
    // the conf is restored on exit
    assert(s.conf.getOption(DriverLocal.MaxRowsConf).isEmpty)
    // 40 rows of 300k floats: far under the row bound, over the byte cap
    val wide = s.range(0, 40, 1, 4)
      .select(array_repeat(lit(1.0f), 300000).as("v"))
    assert(DriverLocal.collect(wide).isEmpty)
  }

  test("an over-cap refine probe sends back at most the byte cap plus one row") {
    val s = spark
    // 2 400 vectors of 4 096 floats: ~39 MB of rows, over the 32 MB cap
    // and far under the row bound, so the bytes decide
    val dim = 4096
    val emb = s.range(0, 2400, 1, 8).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(dim)),
        j => sin(col("id") * 31 + j).cast("float")).as("embedding"))
    // UnsafeRow: null bits + one slot, then the array's count, its
    // null bits and the floats
    val rowBytes = 8L + 8 + 8 + 8L * ((dim + 63) / 64) + 4L * dim
    assert(2400 * rowBytes > DriverLocal.MaxBytes)
    val seeds = IvfAnn.centroids(emb, "vec_id", "embedding", c = 4)
    var refined: DataFrame = null
    // the distributed loop is lazy: the probe is all that runs here
    val (_, probe) = JobMetrics.during(s) {
      refined = IvfAnn.refine(emb, "vec_id", "embedding", seeds)
    }
    assert(!refined.queryExecution.analyzed.isInstanceOf[LocalRelation],
      "an over-cap sample must take the distributed loop")
    assert(probe.jobs.nonEmpty)
    assert(probe.resultBytes <= DriverLocal.MaxBytes + rowBytes,
      s"probe sent ${probe.resultBytes} bytes to the driver")
  }

  test("every driver-local site answers the same at a bound of 0 as at the default") {
    val s = spark
    val sf = "/root/testdata/sf0.001"
    def run(q: String, maxRows: Long): (Int, Seq[String]) = {
      var rows = Seq.empty[String]
      val (_, rec) = JobMetrics.during(s) {
        withMaxRows(s, maxRows) {
          graft.engine.CacheRegistry.withRetained {
            rows = SparkEntry.queries(q)(s, sf).collect().map(_.toString)
              .sorted.toSeq
          }
        }
      }
      s.catalog.clearCache()
      (rec.jobs.size, rows)
    }
    // the site each query reaches: CC (q62, q67), refine (q82, q90),
    // BPE (q105), k-center selection (q110); q109's prototype prune
    // assigns to fixed centroids and reaches none of them
    val sites = Seq("q62_dedup_clusters", "q67_curation",
      "q82_embedding_neardup_bucketed", "q90_embedding_incremental",
      "q105_bpe_merges", "q110_kcenter_landmarks")
    (sites :+ "q109_prototype_prune").foreach { q =>
      val (localJobs, local) = run(q, DriverLocal.DefaultMaxRows)
      val (distJobs, dist) = run(q, 0L)
      assert(local.nonEmpty, q)
      assert(dist === local, s"$q answers differ between the paths")
      if (sites.contains(q))
        assert(distJobs > localJobs,
          s"$q: a bound of 0 ran $distJobs jobs, the default $localJobs")
    }
    // ProbePrune: forced on the gate-scale archive, the touched-id
    // collect prunes the nested store at the default bound and is
    // skipped at 0; the incremental merge is the same either way
    System.setProperty("graft.probe.prune", "force")
    try {
      val (_, pruned) = run("q65_incremental_merge", DriverLocal.DefaultMaxRows)
      val (_, full) = run("q65_incremental_merge", 0L)
      assert(pruned.nonEmpty && pruned === full)
    } finally System.clearProperty("graft.probe.prune")
  }
}
