package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.api.Api
import graft.engine.Fixtures
import graft.ingest.{BulkSources, Enrichment, Normalize, NormalizeUsers}
import graft.metrics.JobMetrics
import graft.storage.Storage

/** End-to-end API surface over Storage: ingest → point lookups → merge
  * → web envelopes; plus the S5/S7/P4 source helpers. */
class ApiSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def freshStorage(): Storage = {
    val s = spark
    val root = Files.createTempDirectory("graft_api").toString
    val st = new Storage(s, root)
    st.append("submission_snapshots", Fixtures.submissionSnapshots(s))
    st.append("submission_snapshot_keywords", Fixtures.keywords(s))
    st.append("submission_snapshot_files", Fixtures.files(s))
    st.append("submission_snapshot_file_hashes", Fixtures.fileHashes(s))
    st.append("user_snapshots", Fixtures.userSnapshots(s))
    st.append("archive_contributors", Fixtures.contributors(s))
    st
  }

  private def freshApi(): Api = new Api(freshStorage())

  private val ingestTables = Seq("submission_snapshots",
    "submission_snapshot_keywords", "submission_snapshot_files",
    "submission_snapshot_file_hashes", "archive_contributors")

  /** Three snapshots from a new contributor over two sites: ordered and
    * unordered keywords, one snapshot without files, two files with
    * three hashes between them. */
  private def multiSiteBatch(): DataFrame = {
    val s = spark
    import s.implicits._
    Seq(
      """{"website_id":"fa","site_submission_id":"s1",""" +
        """"scan_datetime":"2022-07-01T00:00:00","title":"Rescan",""" +
        """"ordered_keywords":["fox","forest"],"files":[{"site_file_id":"f7",""" +
        """"file_url":"https://fa.example/f7.png","file_size":70,""" +
        """"file_hashes":[{"algo_id":1,"hash_value":"qrs="},""" +
        """{"algo_id":2,"hash_value":"AAECAwQFBgc="}]}]}""",
      """{"website_id":"fa","site_submission_id":"s50",""" +
        """"scan_datetime":"2022-07-02T00:00:00","title":"Bare",""" +
        """"unordered_keywords":["sketch"],"files":[]}""",
      """{"website_id":"e621","site_submission_id":"9001",""" +
        """"scan_datetime":"2022-07-03T00:00:00","title":"Other site",""" +
        """"unordered_keywords":["canine","solo","digital"],""" +
        """"files":[{"site_file_id":"e1","file_url":"https://e621.example/e1.jpg",""" +
        """"file_size":900,"file_hashes":[{"algo_id":1,"hash_value":"3q2+7w=="}]}]}""")
      .toDF("payload")
      .transform(graft.ingest.Formats.webSubmission(_, "payload",
        lit("carol"), to_timestamp(lit("2022-07-04 00:00:00"))))
  }

  private def sortedRows(st: Storage, table: String): Seq[String] =
    st.read(table).toJSON.collect().sorted.toSeq

  /** Wait until every listener has seen every event posted so far (the
    * status tracker is one of them). The bus is Spark-internal but
    * public in bytecode. */
  private def drainListenerBus(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  test("viewSubmission merges one entity; listSubmissions distinct (Q1/Q3)") {
    val api = freshApi()
    val row = api.viewSubmission("fa", "s1").collect()
    assert(row.length === 1)
    assert(row.head.getAs[String]("title") === "Final Title")
    assert(api.viewSubmission("fa", "missing").count() === 0L)
    assert(api.listSubmissions("fa").collect().map(_.getString(0)).sorted
      === Array("s1", "s2"))
  }

  test("Verify.runOne and submissionJsonOr404 release operator-retained frames") {
    val s = spark
    import s.implicits._
    import graft.engine.CacheRegistry
    CacheRegistry.releaseAll()
    val out = Files.createTempDirectory("graft_verify_scope").toString
    // a query that retains internally, like Dedup/Similarity do
    Verify.runOne(s, "unused", out, "retainer",
      (sp, _) => {
        val df = CacheRegistry.retain(Seq(1, 2, 3).toDF("v"))
        assert(CacheRegistry.liveCount === 1)
        df
      })
    assert(CacheRegistry.liveCount === 0,
      "Verify's per-query scope must release retained frames")
    assert(s.read.parquet(s"$out/retainer").count() === 3L)
    // a FAILING query releases too (withRetained releases on exception)
    Verify.runOne(s, "unused", out, "boom",
      (sp, _) => {
        CacheRegistry.retain(Seq(1).toDF("v"))
        throw new RuntimeException("boom")
      })
    assert(CacheRegistry.liveCount === 0)
    // the materializing Api entry point is scoped the same way
    val api = freshApi()
    assert(Api.submissionJsonOr404(api, "fa", "s1").contains("cache_data"))
    assert(CacheRegistry.liveCount === 0)
  }

  test("hashSearch joins through files to snapshots (Q7)") {
    val api = freshApi()
    val hits = api.hashSearch(1L, Array(0xAA.toByte, 0xBB.toByte, 0x01.toByte))
      .select("submission_snapshot_id").collect().map(_.getLong(0)).sorted
    assert(hits === Array(101L, 102L))
  }

  test("web JSON envelopes carry the reference shape (submission.py:106-125)") {
    val api = freshApi()
    val json = Api.submissionWebJson(api.viewSubmission("fa", "s1"))
      .head().getString(0)
    assert(json.contains(""""cache_data":{"snapshot_count":3"""))
    assert(json.contains(""""submission_data":{"is_deleted":true"""))
    assert(json.contains(""""file_hashes":[{"algo_id":1,"hash_value":"7v8D"}"""))
    val userJson = Api.userWebJson(api.viewUser("fa", "u9")).head().getString(0)
    assert(userJson.contains(""""user_data":{"is_deleted":true,"display_name":"Niner""""))
  }

  test("format registry resolves the four web formats; 404 envelope for missing entities") {
    import graft.ingest.FormatRegistry
    assert(FormatRegistry.all.keySet ===
      Set("submission", "user", "faexport_submission", "faexport_user"))
    assert(FormatRegistry.lookup("nope").isEmpty)
    val api = freshApi()
    val ok = Api.submissionJsonOr404(api, "fa", "s1")
    assert(ok.contains("\"cache_data\""))
    val miss = Api.submissionJsonOr404(api, "fa", "zzz")
    assert(miss === """{"error":{"code":404,"message":"Submission fa/zzz not found"}}""")
  }

  test("ingest acks counts and lands in storage (A6 fix)") {
    val s = spark
    import s.implicits._
    val api = freshApi()
    val payload =
      """{"website_id":"fa","site_submission_id":"90",""" +
        """"scan_datetime":"2022-05-01T00:00:00","title":"New",""" +
        """"unordered_keywords":["k"],"files":[]}"""
    val nested = graft.ingest.Formats.webSubmission(
      Seq(payload).toDF("payload"), "payload",
      lit("alice"), to_timestamp(lit("2022-05-02 00:00:00")))
    val ack = api.ingestSubmissions(nested)
    assert(ack("submission_snapshots") === 1L)
    assert(ack("submission_snapshot_keywords") === 1L)
    assert(api.viewSubmission("fa", "90").head().getAs[String]("title") === "New")
  }

  test("concurrent ingest lands the rows and acks of one-table-at-a-time writes") {
    val batch = multiSiteBatch()
    val concurrent = freshStorage()
    val ack = new Api(concurrent).ingestSubmissions(batch)
    // the reference model: the same writes, one after another
    val serial = freshStorage()
    val (s, k, f, h) = Normalize.splitChildren(batch)
    serial.upsertDimension("archive_contributors",
      NormalizeUsers.contributorsOf(batch), Seq("contributor_id"))
    val expected = Seq("submission_snapshots" -> s,
      "submission_snapshot_keywords" -> k, "submission_snapshot_files" -> f,
      "submission_snapshot_file_hashes" -> h).map { case (table, df) =>
      serial.append(table, df)
      table -> df.count()
    }.toMap
    assert(expected === Map("submission_snapshots" -> 3L,
      "submission_snapshot_keywords" -> 6L, "submission_snapshot_files" -> 2L,
      "submission_snapshot_file_hashes" -> 3L))
    assert(ack === expected)
    ingestTables.foreach { table =>
      assert(sortedRows(concurrent, table) === sortedRows(serial, table), table)
    }
    assert(concurrent.read("archive_contributors")
      .filter(col("name") === "carol").count() === 1L)
    assert(concurrent.read("submission_snapshots")
      .select("website_id").distinct().count() === 2L)
  }

  test("every job of a concurrent ingest carries the caller's job group") {
    val api = new Api(freshStorage())
    val sc = spark.sparkContext
    val group = s"ingest-caller-${System.nanoTime}"
    val (_, rec) = JobMetrics.during(spark) {
      sc.setJobGroup(group, "concurrent ingest")
      try {
        api.ingestSubmissions(multiSiteBatch())
        api.ingestUsers(graft.ingest.Formats.webUser(
          spark.createDataFrame(Seq(Tuple1(
            """{"website_id":"fa","site_user_id":"u77",""" +
              """"scan_datetime":"2022-07-05T00:00:00","display_name":"New"}""")))
            .toDF("payload"), "payload", lit("carol"),
          to_timestamp(lit("2022-07-06 00:00:00"))))
      } finally sc.clearJobGroup()
    }
    val groups = rec.jobs.map(_.group)
    // the upsert's probe and five appends at least
    assert(groups.size >= 6, groups)
    assert(groups.forall(_.contains(group)), groups)
  }

  test("a failed write is rethrown after the other writes finish; input unpersisted") {
    val st = freshStorage()
    // a regular file where the contributor table's directory should be:
    // the upsert, first of the five writes, fails at once
    val blocked = Paths.get(st.path("archive_contributors"))
    Files.walk(blocked).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    Files.write(blocked, "not a table".getBytes("UTF-8"))
    val children = ingestTables.filter(_ != "archive_contributors")
    val before = children.map(t => t -> st.read(t).count()).toMap
    val batch = multiSiteBatch()
    val err = intercept[Throwable](new Api(st).ingestSubmissions(batch))
    drainListenerBus()
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    assert(batch.storageLevel === StorageLevel.NONE)
    val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).mkString("\n")
    assert(chain.contains("archive_contributors"), chain)
    // the four child appends all landed
    val added = children.map(t => t -> (st.read(t).count() - before(t))).toMap
    assert(added === Map("submission_snapshots" -> 3L,
      "submission_snapshot_keywords" -> 6L, "submission_snapshot_files" -> 2L,
      "submission_snapshot_file_hashes" -> 3L))
    assert(Files.isRegularFile(blocked))
  }

  test("findfurrypicbot posts → 4 hashes per file (S5)") {
    val s = spark
    import s.implicits._
    val posts = Seq((42L, Array[Byte](1), Array[Byte](2), Array[Byte](3), Array[Byte](4)))
      .toDF("id", "a_hash", "p_hash", "d_hash", "w_hash")
    val nested = BulkSources.findfurrypicbot(posts,
      to_timestamp(lit("2020-01-09 00:00:00")),
      to_timestamp(lit("2020-01-10 00:00:00")))
    val (_, _, files, hashes) = Normalize.splitChildren(nested)
    assert(files.count() === 1L)
    assert(hashes.select("algo_id").collect().map(_.getLong(0)).sorted
      === Array(3L, 5L, 6L, 7L))
  }

  test("skipRows resumes after N in stable order (P4)") {
    val s = spark
    import s.implicits._
    val df = (1 to 10).map(i => (i.toLong, s"r$i")).toDF("id", "v")
    val resumed = BulkSources.skipRows(df, "id", 7).collect().map(_.getLong(0))
    assert(resumed === Array(8L, 9L, 10L))
  }

  test("enrichment: cache hit, memoized lookup, username guess (S7/F15)") {
    val s = spark
    import s.implicits._
    val df = Seq("Artist Name!", "Cached One", "Artist Name!").toDF("display")
    var calls = 0
    val out = Enrichment.enrichUsernames(
      df, "display", Map("Cached One" -> "precached"), minIntervalMs = 0L,
      lookup = d => { calls += 1; Some(Enrichment.guessUsername(d)) })
      .collect().map(_.getString(1))
    assert(out.toSet === Set("artistname", "precached"))
    assert(Enrichment.guessUsername("A_b-C 9") === "abc9")
  }
}
