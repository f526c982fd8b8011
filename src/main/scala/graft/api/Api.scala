package graft.api

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.engine.{Concurrent, Merge}
import graft.ingest.{Normalize, NormalizeUsers}
import graft.storage.Storage

/** The reference's web API surface (faexport_db/web.py) as library
  * entry points over a [[Storage]] — Q1–Q10 + ingest (SURVEY §2.9). A
  * reference user switches by calling these instead of the Flask
  * routes; each returns a DataFrame in the corresponding endpoint's
  * shape (use [[submissionWebJson]] / [[userWebJson]] for the exact
  * JSON envelopes).
  *
  * Every point lookup filters on `website_id` first — the snapshot
  * tables are hive-partitioned on it (Storage), so these prune to one
  * partition before any work happens (replacing indexes.sql:6–24).
  */
class Api(storage: Storage) {

  private def snaps = storage.read("submission_snapshots")
  private def keywords = storage.read("submission_snapshot_keywords")
  private def files = storage.read("submission_snapshot_files")
  private def hashes = storage.read("submission_snapshot_file_hashes")
  private def users = storage.read("user_snapshots")
  private def contributors = storage.read("archive_contributors")

  private def nested(snapFilter: Column) =
    Merge.nestedSubmissionSnapshots(
      snaps.filter(snapFilter), keywords, files, hashes, contributors)

  /** GET /api/view/submissions/{site}/{id}.json (web.py:68–78) — the
    * full M1–M8 merge for one entity. */
  def viewSubmission(websiteId: String, siteSubmissionId: String): DataFrame =
    Merge.mergeSubmissions(nested(
      col("website_id") === websiteId &&
        col("site_submission_id") === siteSubmissionId))

  /** GET /api/view/submissions/{site}/{id}/snapshots.json
    * (web.py:81–94). */
  def viewSubmissionSnapshots(websiteId: String, siteSubmissionId: String): DataFrame =
    nested(col("website_id") === websiteId &&
      col("site_submission_id") === siteSubmissionId)

  /** GET /api/view/submissions/{site}.json (web.py:97–109) — distinct
    * id listing. */
  def listSubmissions(websiteId: String): DataFrame =
    snaps.filter(col("website_id") === websiteId)
      .select("site_submission_id").distinct()

  /** User analogs (web.py:112–153). */
  def viewUser(websiteId: String, siteUserId: String): DataFrame =
    Merge.mergeUsers(users.filter(
      col("website_id") === websiteId && col("site_user_id") === siteUserId))

  def viewUserSnapshots(websiteId: String, siteUserId: String): DataFrame =
    users.filter(
      col("website_id") === websiteId && col("site_user_id") === siteUserId)
      .join(broadcast(contributors.select(
        col("contributor_id").as("archive_contributor_id"),
        col("name").as("contributor_name"))),
        Seq("archive_contributor_id"), "left")

  def listUsers(websiteId: String): DataFrame =
    users.filter(col("website_id") === websiteId)
      .select("site_user_id").distinct()

  /** GET /api/hash_search/{algo}.json (web.py:202–216,
    * submission.py:400–448) — J2 join chain on (algo_id, hash_value). */
  def hashSearch(algoId: Long, hashValue: Array[Byte]): DataFrame =
    hashes.filter(col("algo_id") === algoId && col("hash_value") === lit(hashValue))
      .join(files, Seq("file_id"))
      .join(snaps, Seq("submission_snapshot_id"))
      .join(broadcast(contributors.select(
        col("contributor_id").as("archive_contributor_id"),
        col("name").as("contributor_name"))),
        Seq("archive_contributor_id"), "left")

  /** POST /api/ingest/{format} (web.py:156–169): nested converter
    * output → normalized appends. Returns an explicit ack of appended
    * row counts (the reference returns None and 500s — SURVEY Appendix
    * A6, fixed).
    *
    * The converter pipeline behind `nestedRows` is evaluated once: the
    * nested frame is persisted for the five writes, and the per-table
    * counts ride along as `observe` metrics on the appends themselves
    * instead of separate count() actions.
    *
    * The contributor upsert and the four child appends run at once
    * ([[graft.engine.Concurrent]]): no write reads another's output,
    * since every id is a content hash of the row. As before, there is
    * no atomicity across tables: if one write fails, the others still
    * land, and the call rethrows the failure once all have finished.
    */
  def ingestSubmissions(nestedRows: DataFrame): Map[String, Long] = {
    val cached = nestedRows.persist()
    try {
      val (s, k, f, h) = Normalize.splitChildren(cached)
      val appends = Seq(
        "submission_snapshots" -> s,
        "submission_snapshot_keywords" -> k,
        "submission_snapshot_files" -> f,
        "submission_snapshot_file_hashes" -> h)
        .map { case (table, df) => (table, df, Observation()) }
      Concurrent.run(cached.sparkSession.sparkContext)(
        (() => upsertContributors(cached)) +: appends.map { case (table, df, obs) =>
          () => storage.append(table, df.observe(obs, count(lit(1)).as("n")))
        }: _*)
      appends.map { case (table, _, obs) =>
        table -> obs.get("n").asInstanceOf[Long]
      }.toMap
    } finally cached.unpersist()
  }

  /** User analog of [[ingestSubmissions]]: the contributor upsert and
    * the `user_snapshots` append run at once. */
  def ingestUsers(nestedUsers: DataFrame): Map[String, Long] = {
    val cached = nestedUsers.persist()
    try {
      val rows = NormalizeUsers.toStorage(cached)
      val obs = Observation()
      Concurrent.run(cached.sparkSession.sparkContext)(
        () => upsertContributors(cached),
        () => storage.append("user_snapshots", rows.observe(obs, count(lit(1)).as("n"))))
      Map("user_snapshots" -> obs.get("n").asInstanceOf[Long])
    } finally cached.unpersist()
  }

  private def upsertContributors(nested: DataFrame): Unit =
    storage.upsertDimension("archive_contributors",
      NormalizeUsers.contributorsOf(nested), Seq("contributor_id"))

  /** API-key auth lookup (web.py:158–163,
    * archive_contributor.py:76–88). */
  def contributorByApiKey(apiKey: String): DataFrame =
    contributors.filter(col("api_key") === apiKey)
}

object Api {

  /** The reference error envelope (web.py:51–57):
    * {"error": {"code": N, "message": …}}. */
  def errorEnvelope(code: Int, message: String): String =
    s"""{"error":{"code":$code,"message":"$message"}}"""

  /** Point lookup with 404 semantics: the merged web JSON, or the
    * error envelope when the entity has no snapshots (web.py:70–77).
    *
    * Runs inside a [[graft.engine.CacheRegistry.withRetained]] scope —
    * this is the Api entry point that both BUILDS and MATERIALIZES a
    * query, so any frames operators retain along the way are released
    * here, not left for the session to leak. (The DataFrame-returning
    * Api methods stay lazy; their caller owns materialization and
    * should wrap it the same way.) */
  def submissionJsonOr404(api: Api, websiteId: String,
      siteSubmissionId: String): String =
    graft.engine.CacheRegistry.withRetained {
      val rows = submissionWebJson(
        api.viewSubmission(websiteId, siteSubmissionId)).take(1)
      if (rows.isEmpty)
        errorEnvelope(404,
          s"Submission $websiteId/$siteSubmissionId not found")
      else rows.head.getString(0)
    }

  /** The merged-submission web envelope (submission.py:106–125):
    * {website_id, site_submission_id, cache_data{…},
    * submission_data{…}} as one JSON string column per entity. */
  def submissionWebJson(merged: DataFrame): DataFrame =
    merged.select(to_json(struct(
      col("website_id"),
      col("site_submission_id"),
      struct(
        col("snapshot_count"),
        date_format(col("first_scanned"), "yyyy-MM-dd'T'HH:mm:ssXXX").as("first_scanned"),
        date_format(col("latest_update"), "yyyy-MM-dd'T'HH:mm:ssXXX").as("latest_update"))
        .as("cache_data"),
      struct(
        col("is_deleted"),
        col("uploader_site_user_id"),
        col("title"),
        col("description"),
        date_format(col("datetime_posted"), "yyyy-MM-dd'T'HH:mm:ssXXX").as("datetime_posted"),
        col("keywords"),
        transform(col("files"), f => struct(
          f.getField("file_url").as("file_url"),
          f.getField("file_size").as("file_size"),
          f.getField("extra_data").as("extra_data"),
          transform(f.getField("hashes"), h => struct(
            h.getField("algo_id").as("algo_id"),
            base64(h.getField("hash_value")).as("hash_value")))
            .as("file_hashes"))).as("files"),
        col("extra_data")).as("submission_data")),
      Map("ignoreNullFields" -> "false")).as("web_json"))

  /** The merged-user envelope (user.py:50–72). */
  def userWebJson(merged: DataFrame): DataFrame =
    merged.select(to_json(struct(
      col("website_id"),
      col("site_user_id"),
      struct(
        col("snapshot_count"),
        date_format(col("first_scanned"), "yyyy-MM-dd'T'HH:mm:ssXXX").as("first_scanned"),
        date_format(col("latest_update"), "yyyy-MM-dd'T'HH:mm:ssXXX").as("latest_update"))
        .as("cache_data"),
      struct(
        col("is_deleted"),
        col("display_name"),
        col("extra_data")).as("user_data")),
      Map("ignoreNullFields" -> "false")).as("web_json"))
}
