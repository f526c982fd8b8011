package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.LongToBigEndianBinary.longToBigEndianBinary

/** Ingest format converters (SURVEY §2.2 S2–S6, §3.2–§3.3): each
  * reference format becomes a pure `DataFrame → nested-snapshot
  * DataFrame` transform — no per-row Python loops, no
  * INSERT..RETURNING id round-trips (ids are deterministic hashes,
  * SURVEY §1.5), no driver-side buffering (T1's 1000-row flush is
  * subsumed by partitioned parquet appends).
  *
  * The nested snapshot shape (keywords + files(+hashes) as arrays on
  * the snapshot row) is the converter output; [[Normalize.splitChildren]]
  * explodes it into the four reference tables for storage.
  *
  * All converted timestamps are parsed with an explicit format chain
  * (F10; reference uses dateutil lenient parsing, db.py:34–37).
  */
object Formats {

  /** Lenient ISO-ish timestamp parse: fallback chain over the formats
    * the dumps actually contain (F10). */
  def parseTs(c: Column): Column = coalesce(
    try_to_timestamp(c, lit("yyyy-MM-dd HH:mm:ss.SSSSSS")),
    try_to_timestamp(c, lit("yyyy-MM-dd HH:mm:ss.SSSSS")),
    try_to_timestamp(c, lit("yyyy-MM-dd HH:mm:ss.SSSS")),
    try_to_timestamp(c, lit("yyyy-MM-dd HH:mm:ss.SSS")),
    try_to_timestamp(c, lit("yyyy-MM-dd HH:mm:ss")),
    try_to_timestamp(c, lit("yyyy-MM-dd'T'HH:mm:ss")),
    try_to_timestamp(c, lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")),
    try_to_timestamp(c, lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
    try_to_timestamp(c, lit("yyyy-MM-dd'T'HH:mm:ss.SSSXXX")),
    try_to_timestamp(c, lit("yyyy-MM-dd")))

  private val emptyToNull: Column => Column = c => when(length(c) > 0, c)

  /** Keyword struct array from a whitespace-separated tag string,
    * unordered (ordinal null — F5/F17, e621 tag_string). */
  private def unorderedKeywords(tags: Column): Column =
    transform(
      filter(split(tags, "\\s+"), t => length(t) > 0),
      k => struct(k.as("keyword"), lit(null).cast("int").as("ordinal")))

  /** e621 db_export CSV (S3; scripts/ingest/e621_db_export/main.py:49–97).
    * Input: the 29-column dump read with header. Output: nested
    * snapshot rows.
    *
    * Divergence (SURVEY Appendix A2): the reference b64-decodes the hex
    * md5 (main.py:66) storing garbage bytes; we `unhex` it.
    */
  def e621(csv: DataFrame, scanDatetime: Column, ingestDatetime: Column): DataFrame = {
    val md5c = col("md5")
    val fileUrl = concat(
      lit("https://static1.e621.net/data/"),
      substring(md5c, 1, 2), lit("/"), substring(md5c, 3, 2), lit("/"),
      md5c, lit("."), col("file_ext")) // F3 CDN path
    val fileExtra = to_json(struct(
      col("image_width").cast("int").as("width"),
      col("image_height").cast("int").as("height"),
      col("file_ext").as("ext"),
      when(length(col("duration")) > 0, col("duration").cast("double")).as("duration")),
      Map("ignoreNullFields" -> "false"))
    // Spark's CSV reader yields null for empty fields; Python's csv
    // yields "" — the reference therefore emits "" strings and [""]
    // lists in extra_data (main.py:78–84), which we reproduce.
    def emptyStr(c: Column) = coalesce(c, lit(""))
    val extra = to_json(struct(
      transform(split(emptyStr(col("source")), "\n"), s => trim(s)).as("sources"), // F4
      col("rating").as("rating"),
      // "".split() in Python is [] (unlike "".split("\n") = [""])
      filter(split(emptyStr(col("locked_tags")), "\\s+"), t => length(t) > 0)
        .as("locked_tags"),
      col("fav_count").cast("int").as("fav_count"),
      col("comment_count").cast("int").as("comment_count"),
      emptyStr(col("parent_id")).as("parent_id"),
      emptyStr(col("change_seq")).as("change_seq"),
      emptyStr(col("approver_id")).as("approver_id"),
      date_format(parseTs(col("updated_at")), "yyyy-MM-dd'T'HH:mm:ssXXX").as("updated_datetime"),
      (col("is_pending") === "t").as("is_pending"),
      (col("is_flagged") === "t").as("is_flagged"),
      col("score").cast("int").as("score"),
      col("up_score").cast("int").as("up_score"),
      col("down_score").cast("int").as("down_score"),
      (col("is_rating_locked") === "t").as("is_rating_locked"),
      (col("is_status_locked") === "t").as("is_status_locked"),
      (col("is_note_locked") === "t").as("is_note_locked")),
      Map("ignoreNullFields" -> "false"))
    csv.select(
      lit("e621").as("website_id"),
      col("id").as("site_submission_id"),
      scanDatetime.as("scan_datetime"),
      lit("e621 db_export").as("contributor_name"),
      ingestDatetime.as("ingest_datetime"),
      col("uploader_id").as("uploader_site_user_id"),
      (col("is_deleted") === "t").as("is_deleted"), // F6
      lit(null).cast("string").as("title"),
      col("description").as("description"),
      parseTs(col("created_at")).as("datetime_posted"),
      lit(true).as("keywords_recorded"),
      extra.as("extra_data"),
      unorderedKeywords(col("tag_string")).as("keywords"),
      array(struct(
        lit(null).cast("string").as("site_file_id"),
        fileUrl.as("file_url"),
        col("file_size").cast("long").as("file_size"),
        fileExtra.as("extra_data"),
        array(struct(lit(1L).as("algo_id"), unhex(md5c).as("hash_value")))
          .as("hashes"))).as("files"))
  }

  /** e621 --validate mode (ingestion_job.py:117–122,
    * e621 main.py:99–123): the same per-row domain assertions as
    * predicate columns, aggregated to violation counts. */
  def e621Validate(csv: DataFrame): DataFrame = {
    val checks = Seq(
      "created_at_parses" -> parseTs(col("created_at")).isNotNull,
      "md5_len" -> (length(col("md5")) > 4),
      "is_deleted_domain" -> col("is_deleted").isin("t", "f"),
      "rating_domain" -> col("rating").isin("e", "q", "s"),
      // try_cast: under ANSI mode a plain cast THROWS on malformed
      // input, so a validator built on cast would crash on exactly the
      // dirty rows it exists to count
      "fav_count_nonneg" -> (col("fav_count").try_cast("int") >= 0),
      "down_score_nonpos" -> (col("down_score").try_cast("int") <= 0),
      "up_score_nonneg" -> (col("up_score").try_cast("int") >= 0),
      "width_int" -> col("image_width").try_cast("int").isNotNull,
      "height_int" -> col("image_height").try_cast("int").isNotNull)
    csv.agg(
      count(lit(1)).as("n_rows"),
      checks.map { case (name, pred) =>
        count(when(!pred, 1)).as(s"bad_$name")
      }: _*)
  }

  /** fuzzysearch dump CSV (S2; scripts/ingest/fuzzysearch/main.py:76–118).
    * Rows with empty `hash` are skipped (P5, main.py:79–80); scan time
    * is `updated_at`, falling back to the dump's earliest date (A3,
    * main.py:58–75) — computed here as a broadcast scalar aggregate,
    * not a cached file.
    */
  def fuzzysearch(csv: DataFrame, ingestDatetime: Column): DataFrame = {
    val earliest = csv.agg(
      min(parseTs(emptyToNull(col("updated_at")))).as("earliest_date"))
    val websiteId = when(col("site") === "furaffinity", "fa")
      .otherwise(col("site")) // e621, weasyl pass through
    csv.filter(length(col("hash")) > 0)
      .crossJoin(broadcast(earliest))
      .select(
        websiteId.as("website_id"),
        col("id").as("site_submission_id"),
        coalesce(parseTs(emptyToNull(col("updated_at"))), col("earliest_date"))
          .as("scan_datetime"),
        lit("FuzzySearch data ingest").as("contributor_name"),
        ingestDatetime.as("ingest_datetime"),
        lit(null).cast("string").as("uploader_site_user_id"),
        (col("deleted") === "true").as("is_deleted"),
        lit(null).cast("string").as("title"),
        lit(null).cast("string").as("description"),
        parseTs(emptyToNull(col("posted_at"))).as("datetime_posted"),
        lit(false).as("keywords_recorded"),
        lit(null).cast("string").as("extra_data"),
        lit(null).cast("array<struct<keyword:string,ordinal:int>>").as("keywords"),
        array(struct(
          lit(null).cast("string").as("site_file_id"),
          emptyToNull(col("content_url")).as("file_url"),
          lit(null).cast("long").as("file_size"),
          lit(null).cast("string").as("extra_data"),
          concat(
            // F9: int64 decimal string → big-endian 8 bytes (dhash, algo 2)
            array(struct(lit(2L).as("algo_id"),
              longToBigEndianBinary(col("hash").cast("long")).as("hash_value"))),
            // optional base64 sha256 (algo 4)
            when(length(col("sha256")) > 0,
              array(struct(lit(4L).as("algo_id"), unbase64(col("sha256")).as("hash_value"))))
              .otherwise(array().cast("array<struct<algo_id:bigint,hash_value:binary>>")))
            .as("hashes"))).as("files"))
  }

  /** fuzzysearch --validate (fuzzysearch/main.py:131–151): per-row
    * domain checks incl. the F16 charset-subset predicates
    * (fa_allowed_chars = letters+digits+"-_.~[]^`", main.py:40–41),
    * aggregated to violation counts. */
  def fuzzysearchValidate(csv: DataFrame): DataFrame = {
    val faCharset = "^[A-Za-z0-9\\-_.~\\[\\]^`]*$"
    val checks = Seq(
      "site_domain" -> col("site").isin("furaffinity", "e621", "weasyl"),
      "id_charset" -> coalesce(col("id"), lit("")).rlike(faCharset),
      "hash_long" -> (col("hash").isNull || length(col("hash")) === 0 ||
        col("hash").try_cast("long").isNotNull),
      "deleted_domain" -> col("deleted").isin("true", "false"),
      "updated_parses" -> (col("updated_at").isNull ||
        length(col("updated_at")) === 0 ||
        parseTs(col("updated_at")).isNotNull),
      "posted_parses" -> (col("posted_at").isNull ||
        length(col("posted_at")) === 0 ||
        parseTs(col("posted_at")).isNotNull))
    csv.agg(
      count(lit(1)).as("n_rows"),
      checks.map { case (name, pred) =>
        count(when(!pred, 1)).as(s"bad_$name")
      }: _*)
  }

  /** foxoblue userlist CSV (S2; scripts/ingest/foxoblue_userlist/
    * main.py:43–75): 3 columns, "NULL" sentinels, `unknown_user` rows
    * skipped (P5), any other error marks deletion. Output: nested user
    * snapshot rows. */
  def foxoblue(csv: DataFrame, dataDate: Column, ingestDatetime: Column): DataFrame = {
    csv.filter(col("error").isNull || col("error") =!= "unknown_user")
      .select(
        lit("fa").as("website_id"),
        col("username").as("site_user_id"),
        coalesce(parseTs(nullif(col("updated_at"), lit("NULL"))), dataDate)
          .as("scan_datetime"),
        lit("Foxo-blue userlist ingest").as("contributor_name"),
        ingestDatetime.as("ingest_datetime"),
        nullif(col("error"), lit("NULL")).isNotNull.as("is_deleted"),
        lit(null).cast("string").as("display_name"),
        lit(null).cast("string").as("extra_data"))
  }

  /** Web-push `submission` format (S6; SubmissionSnapshot.from_web_json,
    * models/submission.py:281–306 + keyword.py:26–41, file.py:40–48):
    * a JSON payload column → nested snapshot rows. Exactly one of
    * keywords / ordered_keywords / unordered_keywords applies; hashes
    * arrive base64 (file.py:187–192).
    */
  def webSubmission(payloads: DataFrame, payloadCol: String,
      contributor: Column, ingestDatetime: Column): DataFrame = {
    val schema = "struct<" +
      "website_id:string, site_submission_id:string, scan_datetime:string," +
      "uploader_site_user_id:string, is_deleted:boolean, title:string," +
      "description:string, datetime_posted:string, extra_data:string," +
      "keywords:array<struct<keyword:string,ordinal:int>>," +
      "ordered_keywords:array<string>, unordered_keywords:array<string>," +
      "files:array<struct<site_file_id:string,file_url:string,file_size:bigint," +
      "extra_data:string,file_hashes:array<struct<algo_id:bigint,hash_value:string>>>>>"
    val p = from_json(col(payloadCol), schema, Map.empty[String, String])
    payloads.select(p.as("p"), contributor.as("contributor_name"),
      ingestDatetime.as("ingest_datetime"))
      .select(
        col("p.website_id").as("website_id"),
        col("p.site_submission_id").as("site_submission_id"),
        parseTs(col("p.scan_datetime")).as("scan_datetime"),
        col("contributor_name"),
        col("ingest_datetime"),
        col("p.uploader_site_user_id").as("uploader_site_user_id"),
        coalesce(col("p.is_deleted"), lit(false)).as("is_deleted"),
        col("p.title").as("title"),
        col("p.description").as("description"),
        parseTs(col("p.datetime_posted")).as("datetime_posted"),
        (col("p.keywords").isNotNull || col("p.ordered_keywords").isNotNull ||
          col("p.unordered_keywords").isNotNull).as("keywords_recorded"),
        col("p.extra_data").as("extra_data"),
        coalesce(
          col("p.keywords"),
          transform(col("p.ordered_keywords"), // F17 ordinal from position
            (k, i) => struct(k.as("keyword"), i.cast("int").as("ordinal"))),
          transform(col("p.unordered_keywords"),
            k => struct(k.as("keyword"), lit(null).cast("int").as("ordinal"))))
          .as("keywords"),
        transform(col("p.files"), f => struct(
          f.getField("site_file_id").as("site_file_id"),
          f.getField("file_url").as("file_url"),
          f.getField("file_size").as("file_size"),
          f.getField("extra_data").as("extra_data"),
          transform(f.getField("file_hashes"), h => struct(
            h.getField("algo_id").as("algo_id"),
            unbase64(h.getField("hash_value")).as("hash_value"))).as("hashes")))
          .as("files"))
  }

  /** Web-push `user` format (S6; UserSnapshot.from_web_json,
    * models/user.py:161–171). */
  def webUser(payloads: DataFrame, payloadCol: String,
      contributor: Column, ingestDatetime: Column): DataFrame = {
    val schema = "struct<website_id:string, site_user_id:string," +
      "scan_datetime:string, is_deleted:boolean, display_name:string," +
      "extra_data:string>"
    val p = from_json(col(payloadCol), schema, Map.empty[String, String])
    payloads.select(p.as("p"), contributor.as("contributor_name"),
      ingestDatetime.as("ingest_datetime"))
      .select(
        col("p.website_id").as("website_id"),
        col("p.site_user_id").as("site_user_id"),
        parseTs(col("p.scan_datetime")).as("scan_datetime"),
        col("contributor_name"),
        col("ingest_datetime"),
        coalesce(col("p.is_deleted"), lit(false)).as("is_deleted"),
        col("p.display_name").as("display_name"),
        col("p.extra_data").as("extra_data"))
  }
}

/** Explode nested converter output into the four normalized reference
  * tables with deterministic surrogate ids (SURVEY §1.5: stable across
  * re-runs so child joins never need RETURNING round-trips).
  */
object Normalize {

  /** Deterministic contributor surrogate id from the contributor name
    * (converters know names, not serial ids; the id doubles as the
    * `archive_contributors` dimension key — see
    * [[graft.api.Api.ingestSubmissions]]). */
  def contributorId(name: Column): Column = xxhash64(name)

  /** (snapshots, keywords, files, fileHashes) from nested rows —
    * snapshots come out in the reference storage schema
    * (`archive_contributor_id`, faexport_db.sql:56). */
  def splitChildren(nested: DataFrame): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val withId = nested.withColumn("submission_snapshot_id",
      xxhash64(col("website_id"), col("site_submission_id"),
        col("scan_datetime"), col("contributor_name")))
    val snaps = withId.select(
      col("submission_snapshot_id"), col("website_id"), col("site_submission_id"),
      col("scan_datetime"),
      contributorId(col("contributor_name")).as("archive_contributor_id"),
      col("ingest_datetime"),
      col("uploader_site_user_id"), col("is_deleted"), col("title"),
      col("description"), col("datetime_posted"), col("keywords_recorded"),
      col("extra_data"))
    val kw = withId
      .select(col("submission_snapshot_id"), posexplode(col("keywords")).as(Seq("pos", "k")))
      .select(
        xxhash64(col("submission_snapshot_id"), col("k.keyword"), col("pos"))
          .as("keyword_id"),
        col("submission_snapshot_id"),
        col("k.keyword").as("keyword"),
        col("k.ordinal").as("ordinal"))
    val filesExp = withId
      .select(col("submission_snapshot_id"), posexplode(col("files")).as(Seq("pos", "f")))
      .withColumn("file_id",
        xxhash64(col("submission_snapshot_id"), col("f.site_file_id"),
          col("f.file_url"), col("pos")))
    val files = filesExp.select(
      col("file_id"), col("submission_snapshot_id"),
      col("f.site_file_id").as("site_file_id"),
      col("f.file_url").as("file_url"),
      col("f.file_size").as("file_size"),
      col("f.extra_data").as("extra_data"))
    val hashes = filesExp
      .select(col("file_id"), explode(col("f.hashes")).as("h"))
      .select(
        xxhash64(col("file_id"), col("h.algo_id")).as("hash_id"),
        col("file_id"),
        col("h.algo_id").as("algo_id"),
        col("h.hash_value").as("hash_value"))
    (snaps, kw, files, hashes)
  }
}

/** FAExport-API web formats (S6; faexport_db/ingest_formats/faexport.py)
  * — the flagship ingest fan-out: one submission payload yields 1
  * submission + 1 user snapshot (faexport.py:18–68); one user payload
  * yields 1+N user snapshots (watchers/watching) and up to 2 featured
  * submission snapshots (faexport.py:74–152).
  */
object FaexportFormats {
  import Formats.parseTs

  /** One web-ingest call's output: nested submission rows + nested user
    * rows (base.py FormatResponse). */
  case class WebIngestResponse(submissions: DataFrame, users: DataFrame)

  /** F1 — id from URL tail: strip("/").split("/")[-1] (faexport.py:24). */
  def urlTail(c: Column): Column =
    element_at(split(regexp_replace(c, "/+$", ""), "/"), -1)

  private val submissionSchema =
    "struct<link:string, profile_name:string, name:string, title:string," +
      "description:string, posted_at:string, rating:string, category:string," +
      "theme:string, species:string, gender:string, favorites:bigint," +
      "comments:bigint, views:bigint, keywords:array<string>, download:string," +
      "thumbnail:string, full:string, resolution:string, avatar:string," +
      "error:string>"

  /** faexport_submission (faexport.py:18–68). Error payloads are
    * dropped (21–22). */
  def faexportSubmission(payloads: DataFrame, payloadCol: String,
      contributor: Column, scrapeTime: Column): WebIngestResponse = {
    val parsed = payloads
      .withColumn("p", from_json(col(payloadCol), submissionSchema, Map.empty[String, String]))
      .filter(col("p.error").isNull)
      .withColumn("contributor_name", contributor)
      .withColumn("scan_datetime", scrapeTime)
      .withColumn("ingest_datetime", scrapeTime)
    val extra = to_json(struct(
      col("p.rating").as("rating"),
      col("p.category").as("category"),
      col("p.theme").as("theme"),
      col("p.species").as("species"),
      col("p.gender").as("gender"),
      col("p.favorites").as("fav_count"),
      col("p.comments").as("comment_count"),
      col("p.views").as("view_count")), Map("ignoreNullFields" -> "false"))
    // F2 — "WxH" resolution split; None when resolution is empty
    // (faexport.py:50–51); values stay strings like the reference.
    val res = when(length(col("p.resolution")) > 0, col("p.resolution"))
    val fileExtra = to_json(struct(
      col("p.thumbnail").as("thumbnail_url"),
      col("p.full").as("full_preview_url"),
      split(res, "x").getItem(0).as("image_width"),
      split(res, "x").getItem(1).as("image_height")),
      Map("ignoreNullFields" -> "false"))
    val submissions = parsed.select(
      lit("fa").as("website_id"),
      urlTail(col("p.link")).as("site_submission_id"),
      col("scan_datetime"),
      col("contributor_name"),
      col("ingest_datetime"),
      col("p.profile_name").as("uploader_site_user_id"),
      lit(false).as("is_deleted"),
      col("p.title").as("title"),
      col("p.description").as("description"),
      parseTs(col("p.posted_at")).as("datetime_posted"),
      lit(true).as("keywords_recorded"),
      extra.as("extra_data"),
      transform(col("p.keywords"),
        (k, i) => struct(k.as("keyword"), i.cast("int").as("ordinal"))).as("keywords"),
      array(struct(
        lit(null).cast("string").as("site_file_id"),
        col("p.download").as("file_url"),
        lit(null).cast("long").as("file_size"),
        fileExtra.as("extra_data"),
        array().cast("array<struct<algo_id:bigint,hash_value:binary>>").as("hashes")))
        .as("files"))
    val users = parsed.select(
      lit("fa").as("website_id"),
      col("p.profile_name").as("site_user_id"),
      col("scan_datetime"),
      col("contributor_name"),
      col("ingest_datetime"),
      lit(false).as("is_deleted"),
      col("p.name").as("display_name"),
      to_json(struct(col("p.avatar").as("avatar_url")),
        Map("ignoreNullFields" -> "false")).as("extra_data"))
    WebIngestResponse(submissions, users)
  }

  private val userSchema =
    "struct<error:string, url:string, profile:string, name:string," +
      "account_type:string, avatar:string, user_title:string," +
      "registered_at:string, guest_access:boolean, current_mood:string," +
      "artist_profile:string, pageviews:bigint, submissions:bigint," +
      "comments_received:bigint, comments_given:bigint, journals:bigint," +
      "favorites:bigint," +
      "featured_submission:struct<id:string,title:string,thumbnail:string>," +
      "profile_id:struct<id:string,title:string,thumbnail:string>," +
      "artist_information:string, contact_information:string," +
      "watchers:struct<count:bigint,recent:array<struct<profile_name:string,name:string>>>," +
      "watching:struct<count:bigint,recent:array<struct<profile_name:string,name:string>>>>"

  /** faexport_user (faexport.py:74–152): disabled-account errors become
    * deleted-user snapshots (77–87); watchers/watching fan out to bare
    * user snapshots (135–142); featured/profile-id submissions become
    * submission snapshots with a thumbnail-only file (144–152, 155–174).
    */
  def faexportUser(payloads: DataFrame, payloadCol: String,
      contributor: Column, scrapeTime: Column): WebIngestResponse = {
    val parsed = payloads
      .withColumn("p", from_json(col(payloadCol), userSchema, Map.empty[String, String]))
      .withColumn("contributor_name", contributor)
      .withColumn("scan_datetime", scrapeTime)
      .withColumn("ingest_datetime", scrapeTime)
    val disabled = parsed
      .filter(col("p.error").startsWith("User has disabled their account"))
      .select(
        lit("fa").as("website_id"),
        urlTail(col("p.url")).as("site_user_id"),
        col("scan_datetime"), col("contributor_name"), col("ingest_datetime"),
        lit(true).as("is_deleted"),
        lit(null).cast("string").as("display_name"),
        lit(null).cast("string").as("extra_data"))
    val ok = parsed.filter(col("p.error").isNull)
    val watcherStructs = concat(
      coalesce(col("p.watchers.recent"),
        array().cast("array<struct<profile_name:string,name:string>>")),
      coalesce(col("p.watching.recent"),
        array().cast("array<struct<profile_name:string,name:string>>")))
    val mainExtra = to_json(struct(
      col("p.account_type").as("account_type"),
      col("p.avatar").as("avatar_url"),
      col("p.user_title").as("user_title"),
      date_format(parseTs(col("p.registered_at")), "yyyy-MM-dd'T'HH:mm:ssXXX")
        .as("registered_datetime"),
      col("p.guest_access").as("guest_access"),
      col("p.current_mood").as("current_mood"),
      col("p.artist_profile").as("profile_html"),
      col("p.pageviews").as("view_count"),
      col("p.submissions").as("submission_count"),
      col("p.comments_received").as("comments_received_count"),
      col("p.comments_given").as("comments_given_count"),
      col("p.journals").as("journal_count"),
      col("p.favorites").as("favorite_count"),
      col("p.featured_submission.id").as("featured_submission_id"),
      col("p.profile_id.id").as("profile_id_submission_id"),
      col("p.artist_information").as("artist_information"),
      col("p.contact_information").as("contact_information"),
      col("p.watchers.count").as("watchers_count"),
      col("p.watching.count").as("watching_count"),
      transform(col("p.watchers.recent"), w => struct(
        w.getField("profile_name").as("site_user_id"),
        w.getField("name").as("display_name"))).as("watchers_recent"),
      transform(col("p.watching.recent"), w => struct(
        w.getField("profile_name").as("site_user_id"),
        w.getField("name").as("display_name"))).as("watching_recent")),
      Map("ignoreNullFields" -> "false"))
    val mainUser = ok.select(
      lit("fa").as("website_id"),
      urlTail(col("p.profile")).as("site_user_id"),
      col("scan_datetime"), col("contributor_name"), col("ingest_datetime"),
      lit(false).as("is_deleted"),
      col("p.name").as("display_name"),
      mainExtra.as("extra_data"))
    val watcherUsers = ok
      .select(col("scan_datetime"), col("contributor_name"), col("ingest_datetime"),
        explode(watcherStructs).as("w"))
      .select(
        lit("fa").as("website_id"),
        col("w.profile_name").as("site_user_id"),
        col("scan_datetime"), col("contributor_name"), col("ingest_datetime"),
        lit(false).as("is_deleted"),
        col("w.name").as("display_name"),
        lit(null).cast("string").as("extra_data"))
    val featured = ok
      .withColumn("uploader", urlTail(col("p.profile")))
      .select(col("scan_datetime"), col("contributor_name"), col("ingest_datetime"),
        col("uploader"),
        explode(filter(
          array(col("p.featured_submission"), col("p.profile_id")),
          f => f.isNotNull)).as("f"))
      .select(
        lit("fa").as("website_id"),
        col("f.id").as("site_submission_id"),
        col("scan_datetime"), col("contributor_name"), col("ingest_datetime"),
        col("uploader").as("uploader_site_user_id"),
        lit(false).as("is_deleted"),
        col("f.title").as("title"),
        lit(null).cast("string").as("description"),
        lit(null).cast("timestamp").as("datetime_posted"),
        lit(false).as("keywords_recorded"),
        lit(null).cast("string").as("extra_data"),
        lit(null).cast("array<struct<keyword:string,ordinal:int>>").as("keywords"),
        array(struct(
          lit(null).cast("string").as("site_file_id"),
          lit(null).cast("string").as("file_url"),
          lit(null).cast("long").as("file_size"),
          to_json(struct(col("f.thumbnail").as("thumbnail_url")),
            Map("ignoreNullFields" -> "false")).as("extra_data"),
          array().cast("array<struct<algo_id:bigint,hash_value:binary>>").as("hashes")))
          .as("files"))
    WebIngestResponse(featured, mainUser.unionByName(watcherUsers).unionByName(disabled))
  }
}

/** findfurrypicbot SQLite ingest (S5; scripts/ingest/findfurrypicbot/
  * main.py:15–69) and resumable-ingest helpers.
  */
object BulkSources {
  import org.apache.spark.sql.functions._

  /** findfurrypicbot `posts(id, a_hash, p_hash, d_hash, w_hash)` →
    * nested snapshot rows: one file per post carrying the four
    * perceptual hashes (main.py:42–62). `posts` comes from the native
    * [[graft.sources.SqliteFile]] reader (distributed leaf-page scan
    * of the .sqlite3 dump — no JDBC driver needed), from
    * `spark.read.jdbc` when a SQLite driver is on the classpath, or
    * from a one-time `sqlite3 → parquet` conversion.
    *
    * Algo ids follow the Bootstrap seed table: python ahash=5,
    * dhash=6, phash=3, whash=7.
    */
  def findfurrypicbot(posts: DataFrame, scanDatetime: Column,
      ingestDatetime: Column): DataFrame = {
    posts.select(
      lit("fa").as("website_id"),
      col("id").cast("string").as("site_submission_id"),
      scanDatetime.as("scan_datetime"),
      lit("FindFurryPicBot data ingest").as("contributor_name"),
      ingestDatetime.as("ingest_datetime"),
      lit(null).cast("string").as("uploader_site_user_id"),
      lit(false).as("is_deleted"),
      lit(null).cast("string").as("title"),
      lit(null).cast("string").as("description"),
      lit(null).cast("timestamp").as("datetime_posted"),
      lit(false).as("keywords_recorded"),
      lit(null).cast("string").as("extra_data"),
      lit(null).cast("array<struct<keyword:string,ordinal:int>>").as("keywords"),
      array(struct(
        lit(null).cast("string").as("site_file_id"),
        lit(null).cast("string").as("file_url"),
        lit(null).cast("long").as("file_size"),
        lit(null).cast("string").as("extra_data"),
        array(
          struct(lit(5L).as("algo_id"), col("a_hash").as("hash_value")),
          struct(lit(6L).as("algo_id"), col("d_hash").as("hash_value")),
          struct(lit(3L).as("algo_id"), col("p_hash").as("hash_value")),
          struct(lit(7L).as("algo_id"), col("w_hash").as("hash_value")))
          .as("hashes"))).as("files"))
  }

  /** P4 — row-skip resume (ingestion_job.py:45–46, 83–85): restartable
    * bulk ingest resumes after `skipRows` in a stable total order. The
    * reference counts raw CSV rows; here any deterministic order column
    * works, and checkpointed Structured Streaming (StreamingIngest) is
    * the preferred resume mechanism (T3).
    */
  def skipRows(df: DataFrame, orderCol: String, skip: Int): DataFrame =
    df.orderBy(col(orderCol)).offset(skip)
}

/** Normalization for nested USER snapshot rows (no children): storage
  * schema per faexport_db.sql:25–44 with deterministic ids. */
object NormalizeUsers {
  import org.apache.spark.sql.functions._

  def toStorage(nestedUsers: DataFrame): DataFrame =
    nestedUsers.select(
      xxhash64(col("website_id"), col("site_user_id"),
        col("scan_datetime"), col("contributor_name")).as("user_snapshot_id"),
      col("website_id"), col("site_user_id"), col("scan_datetime"),
      Normalize.contributorId(col("contributor_name")).as("archive_contributor_id"),
      col("ingest_datetime"), col("is_deleted"), col("display_name"),
      col("extra_data"))

  /** Contributors dimension rows implied by a nested batch (either
    * submissions or users): deterministic id keyed by name, api_key
    * unknown at ingest time. One row per snapshot, not per contributor:
    * `Storage.upsertDimension` dedupes on the id, which the name fixes. */
  def contributorsOf(nested: DataFrame): DataFrame =
    nested.select(
      Normalize.contributorId(col("contributor_name")).as("contributor_id"),
      col("contributor_name").as("name"),
      lit(null).cast("string").as("api_key"))
}
