package graft.queries

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Fixtures
import graft.engine.Model._
import graft.maintenance.Repair

/** Q12 — the dedup/orphan repair pipeline over the fixture corpus with
  * deterministically injected duplicates and orphans; the oracle is the
  * hand-computed survivor count per table (remove_duplicates.py window
  * and anti-join semantics, A7-fixed pass order). */
object MaintenanceQ {

  type Q = (SparkSession, String) => DataFrame

  private def ts(s: String) = Timestamp.valueOf(s)

  private val q41Repair: Q = (s, _) => {
    import s.implicits._
    // inject: 1 dup user, 1 dup submission snapshot, 1 dup file (same
    // (snapshot, site_file_id), higher id wins), 1 dup hash (same
    // (file, algo), higher id wins), 1 orphan keyword/file/hash
    val users = Fixtures.userSnapshots(s).union(Seq(
      UserSnapshotRow(299L, "fa", "u9", ts("2022-01-05 10:00:00"), 1L,
        ts("2022-06-09 00:00:00"), is_deleted = false, Some("Dup"), None)).toDF())
    val snaps = Fixtures.submissionSnapshots(s).union(Seq(
      SubmissionSnapshotRow(199L, "fa", "s1", ts("2022-01-01 10:00:00"), 1L,
        ts("2022-06-09 00:00:00"), None, is_deleted = false, Some("Dup"),
        None, None, keywords_recorded = false, None)).toDF())
    val keywords = Fixtures.keywords(s).union(Seq(
      KeywordRow(999L, 888L, "orphan", None)).toDF())
    val files = Fixtures.files(s).union(Seq(
      FileRow(99L, 101L, Some("f-main"), Some("https://cdn.fa/1.png"), Some(1000L), None),
      FileRow(98L, 777L, Some("orphan"), None, None, None)).toDF())
    val hashes = Fixtures.fileHashes(s).union(Seq(
      FileHashRow(9L, 5L, 3L, Array[Byte](9)),
      FileHashRow(98L, 404L, 1L, Array[Byte](8))).toDF())

    val r = Repair.repairAll(users, snaps, keywords, files, hashes)
    // ONE aggregation for all ten counts: every table contributes
    // (name, kind) marker rows into a single union, and one groupBy
    // produces the report — one shuffle and one job instead of ten
    // global aggregates (job-launch overhead dominated at fixture
    // scale even when the eager count() actions became lazy ones)
    def tagged(name: String, df: DataFrame, kind: String) =
      df.select(lit(name).as("table_name"), lit(kind).as("kind"))
    val tables = Seq(
      ("user_snapshots", users, r.users),
      ("submission_snapshots", snaps, r.snapshots),
      ("keywords", keywords, r.keywords),
      ("files", files, r.files),
      ("hashes", hashes, r.hashes))
    val counts = tables
      .map { case (name, in, out) =>
        tagged(name, in, "in").union(tagged(name, out, "out"))
      }
      .reduce(_ union _)
      .groupBy("table_name")
      .agg(count(when($"kind" === "in", 1)).as("n_input"),
        count(when($"kind" === "out", 1)).as("n_survivors"))
    // keep the one-row-per-table invariant: an EMPTY input table must
    // still report (0, 0), not vanish from the union
    tables.map(_._1).toDF("table_name")
      .join(counts, Seq("table_name"), "left")
      .select($"table_name",
        coalesce($"n_input", lit(0L)).as("n_input"),
        coalesce($"n_survivors", lit(0L)).as("n_survivors"))
  }

  /** Q13/S8 under the hard gate (reference scripts/cron/dump_db.py:
    * 13–42, minus its 10/100-row dev caps per SURVEY Appendix A8):
    * dump every fixture snapshot table AND the merged-submission
    * export to JSONL via [[graft.maintenance.Dump]], read each file
    * back with the original schema, and emit per table the re-read
    * row count plus both exceptAll directions against the pre-dump
    * frame. The oracle pins (count, 0, 0) — any row the JSONL
    * round-trip drops, duplicates, or corrupts (timestamps, base64
    * binary hashes, nested keyword/file structs, null-field
    * omission) breaks the hash match. */
  private val q85DumpRoundtrip: Q = (s, _) => {
    import s.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_dump_roundtrip").toString
    val merged = graft.engine.Merge.mergeSubmissions(
      graft.engine.Merge.nestedSubmissionSnapshots(
        Fixtures.submissionSnapshots(s), Fixtures.keywords(s),
        Fixtures.files(s), Fixtures.fileHashes(s), Fixtures.contributors(s)))
    val tables: Seq[(String, DataFrame)] = Seq(
      "user_snapshots" -> Fixtures.userSnapshots(s),
      "submission_snapshots" -> Fixtures.submissionSnapshots(s),
      "keywords" -> Fixtures.keywords(s),
      "files" -> Fixtures.files(s),
      "file_hashes" -> Fixtures.fileHashes(s),
      "merged_submissions" -> merged)
    // The six per-table dumps are independent fixture-scale writes —
    // each one is a short Spark job whose cost is scheduling latency,
    // not compute, so submit them together and let the scheduler
    // overlap them (guide §2.6: actions are only sequential because
    // driver code calls them sequentially). Measured at sf0.1: the
    // serial writes were ~2 s of q85's ~3.4 s wall. Concurrent keeps
    // the caller's job group, so the bench's cap watchdog can still
    // cancel these jobs.
    graft.engine.Concurrent.run(s.sparkContext)(tables.map { case (name, df) =>
      () => {
        val path = s"$root/$name"
        if (name == "merged_submissions")
          graft.maintenance.Dump.mergedJsonl(df, path)
        else graft.maintenance.Dump.snapshotsJsonl(df, path)
      }
    }: _*)
    tables.map { case (name, df) =>
      val path = s"$root/$name"
      val back = s.read.schema(df.schema).json(path)
      back.agg(count(lit(1)).as("row_count"))
        .crossJoin(df.exceptAll(back).agg(count(lit(1)).as("n_missing")))
        .crossJoin(back.exceptAll(df).agg(count(lit(1)).as("n_extra")))
        .select(lit(name).as("table_name"),
          $"row_count", $"n_missing", $"n_extra")
    }.reduce(_ unionByName _)
  }

  val queries: Map[String, Q] = Map(
    "q41_repair" -> q41Repair,
    "q85_dump_roundtrip" -> q85DumpRoundtrip)

  val oracles: Map[String, String] = Map(
    "q85_dump_roundtrip" ->
      """SELECT table_name, CAST(row_count AS BIGINT) AS row_count,
        | CAST(n_missing AS BIGINT) AS n_missing,
        | CAST(n_extra AS BIGINT) AS n_extra
        |FROM (VALUES
        | ('user_snapshots', 3, 0, 0),
        | ('submission_snapshots', 4, 0, 0),
        | ('keywords', 5, 0, 0),
        | ('files', 5, 0, 0),
        | ('file_hashes', 5, 0, 0),
        | ('merged_submissions', 2, 0, 0)
        |) t(table_name, row_count, n_missing, n_extra)""".stripMargin,
    "q41_repair" ->
      """SELECT table_name, CAST(n_input AS BIGINT) AS n_input,
        | CAST(n_survivors AS BIGINT) AS n_survivors
        |FROM (VALUES
        | ('user_snapshots', 4, 3),
        | ('submission_snapshots', 5, 4),
        | ('keywords', 6, 5),
        | ('files', 7, 5),
        | ('hashes', 7, 4)
        |) t(table_name, n_input, n_survivors)""".stripMargin)
}
