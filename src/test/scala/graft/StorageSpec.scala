package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Fixtures, Merge, ProbePrune}
import graft.ingest.{Formats, Normalize}
import graft.maintenance.Dump
import graft.metrics.JobMetrics
import graft.storage.Storage
import graft.streaming.StreamingIngest

/** Storage registry, dimension upsert, JSONL dump, and the Structured
  * Streaming ingest path (file-drop source → foreachBatch append). */
class StorageSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmpDir(): String =
    Files.createTempDirectory("graft_storage").toString

  test("append + read roundtrip with website_id partitioning") {
    val s = spark
    val st = new Storage(s, tmpDir())
    st.append("submission_snapshots", Fixtures.submissionSnapshots(s))
    val back = st.read("submission_snapshots")
    assert(back.count() === 4L)
    // partition column survives (moved to directory, still readable)
    assert(back.select("website_id").distinct().collect().map(_.getString(0)).toSet === Set("fa"))
    // appends accumulate
    st.append("submission_snapshots", Fixtures.submissionSnapshots(s))
    assert(st.read("submission_snapshots").count() === 8L)
  }

  /** `read` must open a table exactly as Spark's schema inference
    * does: same schema (names, types, order, nullability) and rows. */
  private def assertReadsAsInferred(st: Storage, table: String): Unit = {
    def rows(df: DataFrame) = df.toJSON.collect().sorted.toSeq
    val opened = st.read(table)
    val inferred = spark.read.parquet(st.path(table))
    assert(opened.schema === inferred.schema, s"$table schema")
    assert(rows(opened) === rows(inferred), s"$table rows")
  }

  /** Every table shape the archive writes, two sites in the
    * partitioned tables, plus the merged tables an overwrite stores. */
  private def archive(st: Storage): Seq[String] = {
    val s = spark
    def twoSites(df: DataFrame) =
      df.union(df.withColumn("website_id", lit("ws")))
    st.append("submission_snapshots", twoSites(Fixtures.submissionSnapshots(s)))
    st.append("user_snapshots", twoSites(Fixtures.userSnapshots(s)))
    st.append("submission_snapshot_keywords", Fixtures.keywords(s))
    st.append("submission_snapshot_files", Fixtures.files(s))
    st.append("submission_snapshot_file_hashes", Fixtures.fileHashes(s))
    st.append("archive_contributors", Fixtures.contributors(s))
    st.overwrite("merged_submissions", Merge.mergeSubmissions(
      Merge.nestedSubmissionSnapshots(st.read("submission_snapshots"),
        st.read("submission_snapshot_keywords"), st.read("submission_snapshot_files"),
        st.read("submission_snapshot_file_hashes"), st.read("archive_contributors"))))
    st.overwrite("merged_users", Merge.mergeUsers(st.read("user_snapshots")))
    Seq("submission_snapshots", "user_snapshots", "submission_snapshot_keywords",
      "submission_snapshot_files", "submission_snapshot_file_hashes",
      "archive_contributors", "merged_submissions", "merged_users")
  }

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Any): Int =
    JobMetrics.during(spark)(body)._2.jobs.size

  test("read returns what schema inference returns for every stored table shape") {
    val st = new Storage(spark, tmpDir())
    archive(st).foreach(assertReadsAsInferred(st, _))
    // nested arrays, binary hashes and timestamps all came through
    val merged = st.read("merged_submissions").schema
    assert(merged("keywords").dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
    assert(merged("files").dataType.catalogString.contains("hash_value:binary"))
    assert(st.read("submission_snapshots").schema.last.name === "website_id")
  }

  test("the read-side schema memo follows every way a table changes") {
    val s = spark
    val root = tmpDir()
    val st = new Storage(s, root)
    val t = "submission_snapshot_keywords"
    st.append(t, Fixtures.keywords(s))
    assertReadsAsInferred(st, t)
    // a second append
    st.append(t, Fixtures.keywords(s))
    assertReadsAsInferred(st, t)
    assert(st.read(t).count() === 10L)
    // an overwrite with another schema
    st.overwrite(t, st.read(t).drop("ordinal").withColumn("weight", lit(0.5)))
    assertReadsAsInferred(st, t)
    assert(st.read(t).columns.toSeq ===
      Seq("keyword_id", "submission_snapshot_id", "keyword", "weight"))
    // a compaction of a partitioned table
    val p = "submission_snapshots"
    (1 to 3).foreach(_ => st.append(p, Fixtures.submissionSnapshots(s)))
    assertReadsAsInferred(st, p)
    st.compact(p)
    assertReadsAsInferred(st, p)
    // a delete through the Hadoop FS, written back with another schema
    // by a plain Spark write
    FileSystem.get(new java.net.URI(root), s.sparkContext.hadoopConfiguration)
      .delete(new Path(st.path(t)), true)
    Fixtures.keywords(s).select(col("keyword").as("tag"), col("keyword_id"))
      .write.parquet(st.path(t))
    assertReadsAsInferred(st, t)
    assert(st.read(t).columns.toSeq === Seq("tag", "keyword_id"))
    // a write by a second instance on the same root
    new Storage(s, root).overwrite(t, Fixtures.files(s))
    assertReadsAsInferred(st, t)
    assert(st.read(t).columns.contains("file_url"))
  }

  test("read falls back to schema inference where the footer cannot answer") {
    val s = spark
    import s.implicits._
    val root = tmpDir()
    val st = new Storage(s, root)
    def failure(open: => DataFrame): Class[_] =
      intercept[Exception](open).getClass
    // a missing table: the same exception inference raises
    val missing = failure(st.read("nope"))
    assert(missing === failure(s.read.parquet(st.path("nope"))))
    assert(classOf[AnalysisException].isAssignableFrom(missing))
    // a directory with no data file
    st.append("websites", Fixtures.websites(s))
    val fs = FileSystem.get(new java.net.URI(root), s.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(st.path("websites")))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .foreach(f => fs.delete(f.getPath, false))
    assert(failure(st.read("websites")) ===
      failure(s.read.parquet(st.path("websites"))))
    // a session that merges schemas reads every footer
    st.append("settings", Seq(("a", "1")).toDF("setting_id", "setting_value"))
    st.append("settings", Seq(("b", 2L)).toDF("setting_id", "extra"))
    s.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      assertReadsAsInferred(st, "settings")
      assert(st.read("settings").columns.toSet ===
        Set("setting_id", "setting_value", "extra"))
    } finally s.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("read launches no Spark job, with the schema memo cold and warm") {
    val s = spark
    val root = tmpDir()
    val p = "submission_snapshots"
    archive(new Storage(s, root))
    // the listener sees the job a bare parquet open runs
    assert(jobsDuring(s.read.parquet(s"$root/$p")) >= 1)
    val st = new Storage(s, root)
    assert(jobsDuring(st.read(p)) === 0, "cold memo")
    assert(jobsDuring(st.read(p)) === 0, "warm memo")
  }

  test("ProbePrune gates on the bytes a store scans: no probe on a small archive") {
    val s = spark
    val st = new Storage(s, tmpDir())
    archive(st)
    // more files in each child table: the scans grow fourfold,
    // Catalyst's estimate of their join with the product
    (1 to 3).foreach { _ =>
      st.append("submission_snapshot_keywords", Fixtures.keywords(s))
      st.append("submission_snapshot_files", Fixtures.files(s))
      st.append("submission_snapshot_file_hashes", Fixtures.fileHashes(s))
      st.append("archive_contributors", Fixtures.contributors(s))
    }
    val nested = Merge.nestedSubmissionSnapshots(st.read("submission_snapshots"),
      st.read("submission_snapshot_keywords"), st.read("submission_snapshot_files"),
      st.read("submission_snapshot_file_hashes"), st.read("archive_contributors"))
    val touched = st.read("submission_snapshots")
      .filter(col("site_submission_id") === "s2")
      .select("website_id", "site_submission_id")
    def prune() = ProbePrune.pruneToProbeKeys(nested, "site_submission_id",
      touched, "site_submission_id")
    // Catalyst sizes the joins as the product of their inputs, above
    // the 256 MB threshold, while the scans are a few KB
    assert(nested.queryExecution.optimizedPlan.stats.sizeInBytes > BigInt(256L << 20))
    var kept: DataFrame = null
    assert(jobsDuring { kept = prune() } === 0)
    assert(kept eq nested)
    System.setProperty("graft.probe.prune", "force")
    try {
      val forced = prune()
      assert(!(forced eq nested))
      assert(forced.select("site_submission_id").distinct()
        .collect().map(_.getString(0)).toSet === Set("s2"))
    } finally System.clearProperty("graft.probe.prune")
  }

  test("dimension upsert is get-or-create (A10/A11)") {
    val s = spark
    import s.implicits._
    val st = new Storage(s, tmpDir())
    def files() = new java.io.File(st.path("websites")).list()
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet
    st.upsertDimension("websites", Fixtures.websites(s), Seq("website_id"))
    val seeded = files()
    // no-ops, duplicates inside the batch included, add no file, not
    // even the empty one Spark writes for a write with no rows
    for (_ <- 1 to 2) st.upsertDimension("websites",
      Fixtures.websites(s).union(Fixtures.websites(s)), Seq("website_id"))
    assert(files() === seeded)
    // a new key, twice in the batch, lands once, in files that hold rows
    val extra = Seq(("sf", "SoFurry", "https://sofurry.com")).toDF("website_id", "full_name", "link")
    st.upsertDimension("websites", Fixtures.websites(s).union(extra).union(extra),
      Seq("website_id"))
    assert(st.read("websites").count() === 3L)
    val added = files() -- seeded
    assert(added.nonEmpty && seeded.subsetOf(files()))
    assert(added.forall(f => s.read.parquet(s"${st.path("websites")}/$f").count() > 0), added)
    st.initSettings()
    assert(st.read("settings").filter($"setting_id" === "version")
      .head().getString(1) === "0.2.1")
  }

  test("overwrite rewrites a table in place (repair target)") {
    val s = spark
    val st = new Storage(s, tmpDir())
    st.append("submission_snapshot_keywords", Fixtures.keywords(s))
    st.overwrite("submission_snapshot_keywords",
      st.read("submission_snapshot_keywords").filter(col("keyword_id") <= 2L))
    assert(st.read("submission_snapshot_keywords").count() === 2L)
  }

  test("JSONL dump is uncapped and valid JSON per line (S8, A8 fix)") {
    val s = spark
    val out = tmpDir() + "/dump"
    Dump.snapshotsJsonl(Fixtures.submissionSnapshots(s), out)
    val lines = s.read.textFile(out).collect()
    assert(lines.length === 4)
    lines.foreach { l =>
      assert(l.startsWith("{") && l.contains("\"website_id\":\"fa\""))
    }
  }

  test("Bootstrap seeds dimensions and settings idempotently") {
    val s = spark
    import s.implicits._
    val st = new Storage(s, tmpDir())
    graft.storage.Bootstrap.init(st, s)
    graft.storage.Bootstrap.init(st, s) // idempotent
    assert(st.read("websites").count() === 3L)
    assert(st.read("hash_algos").count() === 7L)
    assert(st.read("settings").filter($"setting_id" === "version").count() === 1L)
    assert(st.read("hash_algos")
      .filter($"language" === "python" && $"algorithm_name" === "phash")
      .head().getLong(0) === 3L)
  }

  test("DataQuality.observe counts violations inside the ingest pass; enforce drops them") {
    val s = spark
    import s.implicits._
    import graft.engine.DataQuality
    val rows = Seq(("a", 1), ("b", -2), ("", 3), ("d", -4)).toDF("name", "v")
    val checks = Seq(
      "name_nonempty" -> (length(col("name")) > 0),
      "v_positive" -> (col("v") > 0))
    val obs = DataQuality.observed(rows, "gate", checks)
    obs.collect() // one action on this QE; counters ride along
    val m = DataQuality.metricsOf(obs, "gate").get
    assert(m.getAs[Long]("n_rows") === 4L)
    assert(m.getAs[Long]("bad_name_nonempty") === 1L)
    assert(m.getAs[Long]("bad_v_positive") === 2L)
    assert(DataQuality.enforce(rows, checks).count() === 1L)
  }

  test("website_id point lookups prune to one hive partition") {
    val s = spark
    val st = new Storage(s, tmpDir())
    st.append("submission_snapshots", Fixtures.submissionSnapshots(s))
    // add a second website so pruning has something to skip
    st.append("submission_snapshots",
      Fixtures.submissionSnapshots(s).withColumn("website_id", lit("ws")))
    val q = st.read("submission_snapshots").filter(col("website_id") === "fa")
    val scans = PlanShape.nodes(q).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.size === 1, PlanShape.render(q))
    assert(scans.head.metadata("PartitionFilters").contains("website_id"),
      PlanShape.render(q))
    assert(q.count() === 4L)
  }

  test("compaction shrinks the file count without changing contents") {
    val s = spark
    val st = new Storage(s, tmpDir())
    // simulate micro-batch appends: many small files
    (1 to 5).foreach(_ => st.append("submission_snapshots", Fixtures.submissionSnapshots(s)))
    def files() = new java.io.File(st.path("submission_snapshots"))
      .listFiles().filter(_.getName.startsWith("website_id="))
      .flatMap(_.listFiles()).count(_.getName.endsWith(".parquet"))
    val before = st.read("submission_snapshots")
      .orderBy("submission_snapshot_id", "scan_datetime").toJSON.collect().toSeq
    assert(files() >= 5)
    st.compact("submission_snapshots")
    assert(files() === 1)
    val after = st.read("submission_snapshots")
      .orderBy("submission_snapshot_id", "scan_datetime").toJSON.collect().toSeq
    assert(after === before)
  }

  test("bucketed entity-key layout makes the merge aggregation shuffle-free (SURVEY §4.4)") {
    val s = spark
    val st = new Storage(s, tmpDir())
    st.appendBucketed("user_snapshots_bucketed", Fixtures.userSnapshots(s),
      Seq("website_id", "site_user_id"), numBuckets = 4)
    val merged = graft.engine.Merge.mergeUsers(st.readBucketed("user_snapshots_bucketed"))
    val plan = PlanShape.render(merged)
    assert(!plan.contains("Exchange"), s"merge over bucketed table should not shuffle:\n$plan")
    // same results as the unbucketed path
    val viaBuckets = merged.orderBy("site_user_id").toJSON.collect().toSeq
    val direct = graft.engine.Merge.mergeUsers(Fixtures.userSnapshots(s))
      .orderBy("site_user_id").toJSON.collect().toSeq
    assert(viaBuckets === direct)
  }

  test("streaming ingest: file-drop source flows through the batch converter (T1)") {
    val s = spark
    val root = tmpDir()
    val inDir = s"$root/in"; val ckpt = s"$root/ckpt"
    new java.io.File(inDir).mkdirs()
    // drop a foxoblue-style file? No — submission path: use the web
    // payload JSONL as the drop format
    val payload =
      """{"website_id":"fa","site_submission_id":"77",""" +
        """"scan_datetime":"2022-04-05T10:00:00","title":"Streamed",""" +
        """"unordered_keywords":["x","y"],"files":[]}"""
    Files.writeString(java.nio.file.Paths.get(s"$inDir/batch1.txt"), payload)
    val st = new Storage(s, s"$root/tables")
    val source = s.readStream.text(inDir).toDF("payload")
    val q = StreamingIngest.startSubmissionIngest(
      source,
      df => Formats.webSubmission(df, "payload", lit("alice"),
        to_timestamp(lit("2022-04-06 00:00:00"))),
      st, ckpt, Trigger.AvailableNow())
    q.awaitTermination(60000)
    val snaps = st.read("submission_snapshots")
    assert(snaps.count() === 1L)
    assert(snaps.head().getAs[String]("title") === "Streamed")
    assert(st.read("submission_snapshot_keywords").count() === 2L)
    // resume: re-dropping the same file name is checkpointed away; a new
    // file appends
    val payload2 = payload.replace("\"77\"", "\"78\"")
    Files.writeString(java.nio.file.Paths.get(s"$inDir/batch2.txt"), payload2)
    val q2 = StreamingIngest.startSubmissionIngest(
      source,
      df => Formats.webSubmission(df, "payload", lit("alice"),
        to_timestamp(lit("2022-04-06 00:00:00"))),
      st, ckpt, Trigger.AvailableNow())
    q2.awaitTermination(60000)
    assert(st.read("submission_snapshots").count() === 2L)
  }
}
