package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.JsonMergeObjects.jsonMergeObjects
import graft.functions.MergeFiles.mergeFiles

/** The merge-on-read pipeline — M1–M8 (SURVEY §2.1) as one DataFrame
  * DAG per entity kind. The reference merges per-entity in Python at
  * request time (faexport_db/models/submission.py:27–104, user.py:19–48);
  * here the same semantics are a single grouped aggregation over the
  * snapshot tables, so one job merges EVERY entity — no N+1, no
  * driver-side loops, shuffle only on the entity key.
  *
  * Determinism: the reference sorts by scan_datetime alone and leans on
  * Python sort stability (submission.py:27–29); we pin the total order
  * (scan_datetime, snapshot_id) — SURVEY §7.3a.
  *
  * 100 TB notes: child tables pre-aggregate to per-snapshot nested
  * arrays BEFORE the entity-level shuffle, so each of the four inputs
  * is shuffled at most once and the per-entity state is bounded by an
  * entity's own snapshot count (tens — README.md:34). If the snapshot
  * tables are written bucketed by entity key (Storage), the final
  * groupBy becomes shuffle-free.
  */
object Merge {

  /** Deterministically-ordered collect: sort_array over (ord1, ord2,
    * payload) structs, then project the payload back out. collect_list
    * order is partition-dependent; this pins it. Null payloads are
    * dropped (collect_list skips the nulled struct). */
  private def collectOrdered(ord1: Column, ord2: Column, c: Column): Column =
    transform(
      sort_array(collect_list(when(c.isNotNull, struct(ord1, ord2, c.as("v"))))),
      x => x.getField("v"))

  /** Per-snapshot nested hydration: snapshots decorated with ordered
    * keyword/file(+hash) arrays and the contributor name — the shape
    * the reference rebuilds on every read via three IN-list queries and
    * Python regrouping (submission.py:153–184); here it is two
    * pre-aggregations and three joins, all pushed before the entity
    * shuffle. Child arrays are ordered by child id (insertion order,
    * matching the reference's row order). Every internal exchange is
    * left at AQE's coalesced width.
    */
  def nestedSubmissionSnapshots(
      snapshots: DataFrame,
      keywords: DataFrame,
      files: DataFrame,
      fileHashes: DataFrame,
      contributors: DataFrame): DataFrame = {
    val kw = keywords
      .groupBy("submission_snapshot_id")
      .agg(collectOrdered(col("keyword_id"), lit(0L),
        struct(col("keyword"), col("ordinal"))).as("keywords"))
    val hashesPerFile = fileHashes
      .groupBy("file_id")
      .agg(collectOrdered(col("hash_id"), lit(0L),
        struct(col("algo_id"), col("hash_value"))).as("hashes"))
    val filesNested = files
      .join(hashesPerFile, Seq("file_id"), "left")
      .withColumn("hashes",
        coalesce(col("hashes"), array().cast("array<struct<algo_id:bigint,hash_value:binary>>")))
      .groupBy("submission_snapshot_id")
      .agg(collectOrdered(col("file_id"), lit(0L),
        struct(col("site_file_id"), col("file_url"), col("file_size"),
          col("extra_data"), col("hashes"))).as("files"))
    snapshots
      .join(kw, Seq("submission_snapshot_id"), "left")
      .join(filesNested, Seq("submission_snapshot_id"), "left")
      .join(broadcast(contributors.select(
        col("contributor_id").as("archive_contributor_id"),
        col("name").as("contributor_name"))),
        Seq("archive_contributor_id"), "left")
  }

  /** Last non-null payload of `field` from a (scan, sid)-sorted array of
    * snapshot structs — the M2/M4 pick as a post-aggregation projection.
    * Cost is O(snapshots-per-entity) over an in-memory array (tens). */
  private def lastNonNull(snaps: Column, field: String): Column = {
    val nn = filter(snaps, s => s.getField(field).isNotNull)
    // guard: element_at(-1) on an empty array throws under ANSI mode
    when(size(nn) > 0, element_at(nn, -1).getField(field))
  }

  /** Non-null payloads of `field` in snapshot order (oldest→newest). */
  private def orderedNonNull(snaps: Column, field: String): Column =
    transform(filter(snaps, s => s.getField(field).isNotNull), s => s.getField(field))

  /** M1–M8 entity merge over [[nestedSubmissionSnapshots]] output.
    * Output: one row per (website_id, site_submission_id) in the web
    * shape of submission.py:106–125 (flattened columns; keywords and
    * files as nested arrays).
    *
    * One collect_list of a per-snapshot struct, sorted once on
    * (scan_datetime, snapshot_id), then every M2/M4/M5/M6/M7 pick is a
    * projection over that array — one aggregation buffer and one sort
    * per entity instead of three sorted collects plus four struct-max
    * buffers. The sort comparator never descends past (scan, sid)
    * (snapshot ids are unique), so the heavyweight files payload is
    * never compared.
    */
  def mergeSubmissions(nested: DataFrame): DataFrame = {
    val scan = col("scan_datetime")
    val sid = col("submission_snapshot_id")
    nested
      .groupBy("website_id", "site_submission_id")
      .agg(
        count(lit(1)).as("snapshot_count"), // M8
        min(scan).as("first_scanned"), // M3
        max(scan).as("latest_update"), // M2
        sort_array(collect_list(struct(
          scan.as("s"), sid.as("i"),
          col("is_deleted"),
          col("uploader_site_user_id"),
          col("title"),
          col("description"),
          col("datetime_posted"),
          col("extra_data"),
          // M6: newest snapshot with keywords_recorded=true wins
          // wholesale (non-recorded snapshots null out here and are
          // skipped by the last-non-null pick; recorded-but-empty
          // coalesces to [] and still wins — submission.py:79–87)
          when(col("keywords_recorded"),
            coalesce(col("keywords"),
              array().cast("array<struct<keyword:string,ordinal:int>>"))).as("kw"),
          col("files")))).as("snaps"))
      .select(
        col("website_id"), col("site_submission_id"),
        col("snapshot_count"), col("first_scanned"), col("latest_update"),
        element_at(col("snaps"), -1).getField("is_deleted").as("is_deleted"), // M2
        lastNonNull(col("snaps"), "uploader_site_user_id").as("uploader_site_user_id"), // M4
        lastNonNull(col("snaps"), "title").as("title"),
        lastNonNull(col("snaps"), "description").as("description"),
        lastNonNull(col("snaps"), "datetime_posted").as("datetime_posted"),
        jsonMergeObjects(orderedNonNull(col("snaps"), "extra_data")).as("extra_data"), // M5
        sortKeywords(lastNonNull(col("snaps"), "kw")).as("keywords"), // M6
        mergeFiles(flatten(orderedNonNull(col("snaps"), "files"))).as("files")) // M7
  }

  /** M6 keyword ordering: (ordinal, keyword) with nulls-last ordinals —
    * the reference would throw on mixed null/non-null ordinals
    * (submission.py:83–86); we pin nulls-last (SURVEY Appendix A9). */
  private def sortKeywords(kw: Column): Column =
    when(kw.isNull, array().cast("array<struct<keyword:string,ordinal:int>>"))
      .otherwise(transform(
        array_sort(transform(kw, k => struct(
          coalesce(k.getField("ordinal"), lit(Int.MaxValue)).as("o"),
          k.getField("keyword").as("keyword"),
          k.getField("ordinal").as("ordinal")))),
        k => struct(k.getField("keyword").as("keyword"),
          k.getField("ordinal").as("ordinal"))))

  /** Incremental merge maintenance — the 100 TB operational pattern:
    * after an ingest batch, only entities that RECEIVED new snapshots
    * are re-merged (left_semi against the batch's entity keys, reading
    * the full snapshot store partition-pruned), and the refreshed rows
    * replace just those entities in the materialized merged table.
    * Merge cost becomes proportional to touched entities, not corpus
    * size; correctness is unchanged because merge-on-read is a pure
    * function of an entity's own snapshots.
    *
    * @param previousMerged the existing materialized merge output
    * @param allNested      full nested snapshot store (all history)
    * @param newBatch       the just-ingested snapshots (any subset)
    * @param spreadRefresh  width pin applied to the touched-entity
    *                       re-merge INPUT — inline callers (q65, whose
    *                       nested history arrives un-bucketed) pass a
    *                       keyed pinned-width repartition so the
    *                       re-merge aggregation runs at full task
    *                       width instead of AQE's byte-coalesced
    *                       width; bucketed-store callers (q117) keep
    *                       the default identity so their exchange-free
    *                       merge plan is untouched (MergeSpec pins it)
    */
  def incrementalMergeSubmissions(
      previousMerged: DataFrame,
      allNested: DataFrame,
      newBatch: DataFrame,
      spreadRefresh: DataFrame => DataFrame = identity): DataFrame = {
    val touched = graft.engine.CacheRegistry.retain(
      newBatch.select("website_id", "site_submission_id").distinct())
    // the touched-entity re-merge is batch-proportional in entities
    // but the semi join would STREAM the whole nested store to find
    // them; the store is sorted by the entity key
    // (Storage.appendBucketed), so push the batch's submission-id set
    // into the scan (ProbePrune: bounded collect, range-cover
    // pushdown; the semi join re-tightens to exact entity pairs)
    val refreshed = mergeSubmissions(spreadRefresh(
      graft.engine.ProbePrune.pruneToProbeKeys(allNested,
          "site_submission_id", touched, "site_submission_id")
        .join(touched, Seq("website_id", "site_submission_id"), "left_semi")))
    previousMerged
      .join(touched, Seq("website_id", "site_submission_id"), "left_anti")
      .unionByName(refreshed)
  }

  /** [[incrementalMergeSubmissions]]'s user analog — same
    * batch-proportional maintenance contract, keyed on
    * (website_id, site_user_id); no children, so the touched-entity
    * re-merge is a single semi-joined [[mergeUsers]]. */
  def incrementalMergeUsers(
      previousMerged: DataFrame,
      allSnapshots: DataFrame,
      newBatch: DataFrame): DataFrame = {
    val touched = graft.engine.CacheRegistry.retain(
      newBatch.select("website_id", "site_user_id").distinct())
    // same scan-prune as [[incrementalMergeSubmissions]], on the user key
    val refreshed = mergeUsers(
      graft.engine.ProbePrune.pruneToProbeKeys(allSnapshots,
          "site_user_id", touched, "site_user_id")
        .join(touched, Seq("website_id", "site_user_id"), "left_semi"))
    previousMerged
      .join(touched, Seq("website_id", "site_user_id"), "left_anti")
      .unionByName(refreshed)
  }

  /** User analog (user.py:19–48) — no children; display_name uses
    * sorted order (fixing the unsorted-scan bug, SURVEY Appendix A1).
    */
  def mergeUsers(snapshots: DataFrame): DataFrame = {
    val scan = col("scan_datetime")
    val sid = col("user_snapshot_id")
    snapshots
      .groupBy("website_id", "site_user_id")
      .agg(
        count(lit(1)).as("snapshot_count"),
        min(scan).as("first_scanned"),
        max(scan).as("latest_update"),
        sort_array(collect_list(struct(
          scan.as("s"), sid.as("i"),
          col("is_deleted"), col("display_name"), col("extra_data")))).as("snaps"))
      .select(
        col("website_id"), col("site_user_id"),
        col("snapshot_count"), col("first_scanned"), col("latest_update"),
        element_at(col("snaps"), -1).getField("is_deleted").as("is_deleted"),
        lastNonNull(col("snaps"), "display_name").as("display_name"),
        jsonMergeObjects(orderedNonNull(col("snaps"), "extra_data")).as("extra_data"))
  }
}
