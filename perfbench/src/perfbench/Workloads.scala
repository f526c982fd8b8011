package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.Api
import graft.engine.{CacheRegistry, Merge}
import graft.ingest.{Formats, FaexportFormats}
import graft.maintenance.Dump
import graft.operators.{AsofJoin, Dedup, SparseVectors}

/** Converters and archive helpers shared by the two archive workloads. */
object Archive {
  private val scraper = "faexport-scraper"

  private def at(scan: String) = to_timestamp(lit(scan))

  def e621(spark: SparkSession, path: String, scan: String): DataFrame =
    Formats.e621(spark.read.option("header", "true").csv(path), at(scan), at(scan))

  def faexport(spark: SparkSession, path: String, scan: String)
      : FaexportFormats.WebIngestResponse =
    FaexportFormats.faexportSubmission(spark.read.text(path), "value",
      lit(scraper), at(scan))

  def nested(st: TracedStorage): DataFrame =
    Merge.nestedSubmissionSnapshots(st.read("submission_snapshots"),
      st.read("submission_snapshot_keywords"), st.read("submission_snapshot_files"),
      st.read("submission_snapshot_file_hashes"), st.read("archive_contributors"))

  /** Ingest the base dumps (`site`, `file`, `scan time` lines) in one
    * submission call and one user call. */
  def build(spark: SparkSession, inputs: String, base: Seq[Seq[String]],
      api: Api): Unit = {
    val e = base.collect { case Seq("e621", rel, scan) => e621(spark, s"$inputs/$rel", scan) }
    val fa = base.collect { case Seq("fa", rel, scan) => faexport(spark, s"$inputs/$rel", scan) }
    api.ingestSubmissions((e ++ fa.map(_.submissions)).reduce(_ unionByName _))
    api.ingestUsers(fa.map(_.users).reduce(_ unionByName _))
  }

  /** Bytes on disk of the archive's snapshot tables. */
  def archiveBytes(root: String): Long =
    Seq("submission_snapshots", "submission_snapshot_keywords",
      "submission_snapshot_files", "submission_snapshot_file_hashes",
      "user_snapshots", "archive_contributors").map(t => dirBytes(Paths.get(root, t))).sum

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** Order-independent digest of a frame's rows: count and the sum of
    * a 64-bit hash of every row. */
  def digest(df: DataFrame): String = {
    val r = df.select(count(lit(1)),
      sum(xxhash64(df.columns.sorted.toSeq.map(col): _*).cast("decimal(38,0)")))
      .head()
    s"${r.getLong(0)}:${r.get(1)}"
  }

  def acks(m: Map[String, Long]): String =
    Json.obj(m.toSeq.sorted.map { case (k, v) => k -> v.toString }: _*)
}

/** Write path: per cycle, ingest one e621 CSV batch and one FAExport
  * JSON batch, then refresh the merged tables incrementally. Ends with
  * full merges exported as JSONL and the incremental-vs-full check. */
final class IngestRefresh(spark: SparkSession, trace: Trace, inputs: String,
    manifest: Seq[Seq[String]]) extends Workload {
  private val base = manifest.filter(_.head == "base").map(_.tail)
  private def cycles(label: String) = manifest.filter(_.head.startsWith(label))
    .groupBy(_.head.stripPrefix(label).toInt).toSeq.sortBy(_._1)
    .map(_._2.map(_.tail))
  private val warm = cycles("warmup")
  private val batches = cycles("cycle")
  private var warmed = Seq.empty[String]
  private var root: String = _
  private var st: TracedStorage = _
  private var api: Api = _
  private var c = 0

  def setup(dir: String): Unit = {
    root = s"$dir/store"
    st = new TracedStorage(spark, root, trace)
    api = new Api(st)
    Archive.build(spark, inputs, base, api)
    st.overwrite("merged_submissions", Merge.mergeSubmissions(Archive.nested(st)))
    st.overwrite("merged_users", Merge.mergeUsers(st.read("user_snapshots")))
    c = 0
  }

  /** The warm-up cycles, untimed, so the measured refreshes run on an
    * engine that has planned and compiled the refresh path before. */
  override def warmup(): Unit = warmed = warm.map(cycle)

  override def fixed: Boolean = true

  def hasNext: Boolean = c < batches.size

  def next(): String = {
    c += 1
    cycle(batches(c - 1))
  }

  private def cycle(batch: Seq[Seq[String]]): String = CacheRegistry.withRetained {
    val Seq(Seq("e621", eRel, eScan), Seq("fa", fRel, fScan)) = batch
    val inBytes = Seq(eRel, fRel).map(r => new File(s"$inputs/$r").length).sum
    val before = Archive.archiveBytes(root)
    val t0 = System.nanoTime()
    val e621 = Archive.e621(spark, s"$inputs/$eRel", eScan)
    val ackE = trace.span("api.ingest_submissions")(api.ingestSubmissions(e621))
    val fa = Archive.faexport(spark, s"$inputs/$fRel", fScan)
    val ackF = trace.span("api.ingest_submissions")(api.ingestSubmissions(fa.submissions))
    val ackU = trace.span("api.ingest_users")(api.ingestUsers(fa.users))
    val t1 = System.nanoTime()
    val stored = Archive.archiveBytes(root) - before
    val keys = Seq("website_id", "site_submission_id")
    val touched = e621.select(keys.map(col): _*)
      .unionByName(fa.submissions.select(keys.map(col): _*))
    val t2 = System.nanoTime()
    val merged = trace.span("engine.incremental_merge")(
      Merge.incrementalMergeSubmissions(st.read("merged_submissions"),
        Archive.nested(st), touched))
    st.overwrite("merged_submissions", merged)
    val mergedUsers = trace.span("engine.incremental_merge")(
      Merge.incrementalMergeUsers(st.read("merged_users"),
        st.read("user_snapshots"), fa.users))
    st.overwrite("merged_users", mergedUsers)
    val t3 = System.nanoTime()
    Json.obj(
      "ingest_s" -> Json.num((t1 - t0) / 1e9),
      "refresh_s" -> Json.num((t3 - t2) / 1e9),
      "in_bytes" -> inBytes.toString,
      "stored_bytes" -> stored.toString,
      "e621" -> Archive.acks(ackE),
      "fa" -> Archive.acks(ackF ++ ackU))
  }

  /** Full re-merge of the archive written as JSONL; returns seconds. */
  private def export(): Double = {
    val t0 = System.nanoTime()
    CacheRegistry.withRetained {
      val merged = trace.span("engine.merge_submissions")(
        Merge.mergeSubmissions(Archive.nested(st)))
      trace.span("maintenance.merged_jsonl")(
        Dump.mergedJsonl(merged, s"$root/../export"))
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Three full exports (the median time is the metric: the first
    * export of a run is also the first run of its plan, so it is the
    * slowest), then the incremental-vs-full check. */
  def finish(): String = {
    val exports = Seq.fill(3)(export())
    trace.active = false
    // the export is a full re-merge: its JSON lines must equal the
    // incrementally maintained table rendered the same way
    val exported = spark.read.text(s"$root/../export")
    Json.obj(
      "warmup" -> Json.arr(warmed),
      "cycles" -> c.toString,
      "export_s" -> Json.arr(exports.map(Json.num)),
      "merged" -> Json.arr(Seq(
        Archive.digest(st.read("merged_submissions").toJSON.toDF("value")),
        Archive.digest(exported)).map(Json.str)),
      "merged_users" -> Json.arr(Seq(
        Archive.digest(st.read("merged_users")),
        Archive.digest(Merge.mergeUsers(st.read("user_snapshots")))).map(Json.str)))
  }
}

/** Read path: a seeded sequence of API calls against an archive built
  * in set-up, with a few small writes among them. */
final class LookupMix(spark: SparkSession, trace: Trace, inputs: String,
    manifest: Seq[Seq[String]]) extends Workload {
  private val base = manifest.filter(_.head == "base").map(_.tail)
  private val ops = manifest.filter(_.head == "op").map(_.tail)
  private var api: Api = _
  private var k = 0

  def setup(dir: String): Unit = {
    api = new Api(new TracedStorage(spark, s"$dir/store", trace))
    Archive.build(spark, inputs, base, api)
    k = 0
  }

  def hasNext: Boolean = k < ops.size

  // lookups are short and many: a forced collection after each would
  // take about as long as the lookup
  override def heapEvery: Int = 50

  private def hex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  def next(): String = {
    val Seq(kind, site, key, extra) = ops(k)
    k += 1
    kind match {
      case "view_submission" => trace.span("api.view_submission") {
        val s = Api.submissionJsonOr404(api, site, key)
        trace.note(results = if (s.startsWith("{\"error\"")) 0 else 1)
        Json.str(s)
      }
      case "view_submission_snapshots" => trace.span("api.view_submission_snapshots") {
        val n = CacheRegistry.withRetained(
          api.viewSubmissionSnapshots(site, key).collect().length)
        trace.note(results = n)
        n.toString
      }
      case "view_user" => trace.span("api.view_user") {
        val rows = Api.userWebJson(api.viewUser(site, key)).collect()
        trace.note(results = rows.length)
        Json.arr(rows.map(r => Json.str(r.getString(0))))
      }
      case "hash_search" => trace.span("api.hash_search") {
        val rows = api.hashSearch(1L, hex(extra))
          .select("website_id", "site_submission_id").collect()
        trace.note(results = rows.length)
        Json.arr(rows.map(r => Json.str(r.getString(0) + "/" + r.getString(1))))
      }
      case "write" => Archive.acks(trace.span("api.ingest_submissions")(
        api.ingestSubmissions(Archive.e621(spark, s"$inputs/$key", extra))))
    }
  }

  def finish(): String = Json.obj("ops" -> k.toString)
}

/** Batch curation jobs over a description corpus: near-duplicate pairs
  * and clusters, sparse TF-IDF top-k, and point-in-time uploader
  * enrichment — in whole rounds until the run's time is up. */
final class Analytics(spark: SparkSession, trace: Trace, inputs: String,
    manifest: Seq[Seq[String]]) extends Workload {
  private val files = manifest.map(l => l.head -> l(1)).toMap
  private var st: TracedStorage = _
  private var k = 0

  def setup(dir: String): Unit = {
    st = new TracedStorage(spark, s"$dir/store", trace)
    st.append("docs", spark.read.schema("doc_id long, text string")
      .json(s"$inputs/${files("docs")}"))
    st.append("scans", spark.read.option("header", "true")
      .schema("snapshot_id long, doc_id long, uploader long, scan_time long")
      .csv(s"$inputs/${files("left")}"))
    st.append("uploaders", spark.read.option("header", "true")
      .schema("user_snapshot_id long, uploader long, user_scan_time long, display_name string")
      .csv(s"$inputs/${files("right")}"))
    k = 0
  }

  def hasNext: Boolean = true

  private val kinds = Seq("dedup", "topk", "asof")

  override def round: Int = kinds.size

  private def rows(rs: Array[Row])(f: Row => Seq[String]): String =
    Json.arr(rs.map(r => Json.arr(f(r))))

  def next(): String = {
    val op = kinds(k % kinds.size)
    k += 1
    job(op)
  }

  /** One untimed round of the same jobs on the same inputs, so the
    * measured jobs run on a warm engine (JIT, generated-code cache) as
    * they would in a long-lived session. */
  override def warmup(): Unit = kinds.foreach(job)

  private def docs() = st.read("docs")
  private def scans() = st.read("scans")
  private def uploaders() = st.read("uploaders")

  /** Runs one job; the result records the seconds spent in engine
    * calls, without rendering the output for the checks. */
  private def job(op: String): String = CacheRegistry.withRetained {
    val t0 = System.nanoTime()
    def secs = Json.num((System.nanoTime() - t0) / 1e9)
    op match {
      case "dedup" =>
        val pairs = trace.span("operators.multi_sketch_pairs") {
          val p = Dedup.multiSketchPairs(docs(), "doc_id", "text", 0.8).collect()
          trace.note(results = p.length)
          p
        }
        val comps = trace.span("operators.connected_components") {
          val schema = StructType(Seq(StructField("doc_a", LongType),
            StructField("doc_b", LongType)))
          val edges = spark.createDataFrame(
            java.util.Arrays.asList(pairs.map(r => Row(r.getLong(0), r.getLong(1))): _*),
            schema)
          val c = Dedup.connectedComponents(edges, "doc_a", "doc_b").collect()
          trace.note(results = c.length)
          c
        }
        Json.obj("op" -> Json.str(op), "s" -> secs,
          "pairs" -> rows(pairs)(r => Seq(r.getLong(0).toString,
            r.getLong(1).toString, Json.num(r.getDouble(2)))),
          "comps" -> rows(comps)(r => Seq(r.getLong(0).toString, r.getLong(1).toString)))
      case "topk" =>
        val top = trace.span("operators.sparse_topk") {
          val t = SparseVectors.sparseTopK(
            SparseVectors.hashedTfidf(docs(), "doc_id", "text"),
            files("topk").toInt).collect()
          trace.note(results = t.length)
          t
        }
        Json.obj("op" -> Json.str(op), "s" -> secs,
          "rows" -> rows(top)(r => Seq(r.getLong(0).toString, r.getLong(1).toString,
            r.getLong(2).toString, Json.num(r.getDouble(3)))))
      case "asof" =>
        // the shuffled merge path, as for an uploader table above the
        // broadcast threshold: the hot uploader's rows meet in one task.
        // Five joins per job: one takes well under a second.
        val times = Seq.newBuilder[String]
        var joined = Array.empty[Row]
        for (_ <- 1 to 5) {
          val t = System.nanoTime()
          joined = trace.span("plans.asof_join") {
            val j = AsofJoin.asofJoinNative(scans(), uploaders(),
              Seq("uploader"), "scan_time", "user_scan_time", "user_snapshot_id",
              broadcast = Some(false))
              .select(col("snapshot_id"), col("asof.user_snapshot_id")).collect()
            trace.note(results = j.length)
            j
          }
          times += Json.num((System.nanoTime() - t) / 1e9)
        }
        Json.obj("op" -> Json.str(op), "s" -> Json.arr(times.result()),
          "rows" -> rows(joined)(r => Seq(r.getLong(0).toString,
            if (r.isNullAt(1)) "null" else r.getLong(1).toString)))
    }
  }

  def finish(): String = Json.obj("ops" -> k.toString)
}
