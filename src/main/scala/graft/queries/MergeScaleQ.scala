package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.engine.Merge

/** The FULL merge-on-read pipeline (nested child hydration + M1–M8
  * aggregation, including the MergeFiles fold) exercised at testdata
  * scale: orders become submission snapshots (entity = customer),
  * lineitems become their keywords and files. At sf0.1 that is 150k
  * snapshots / 600k child rows over 10k entities — the fixture-scale
  * semantics (q30–q32) verified 100× bigger, and the bench's heavy
  * merge workload.
  *
  * The oracle replicates M1–M4/M6/M8 with windows and the M7 fold's
  * surviving-key count (clash replacement never changes the key set,
  * so n_files = distinct site_file_id per entity); the full M7 value
  * semantics are locked at fixture scale by q31/MergeSpec.
  */
object MergeScaleQ {

  type Q = (SparkSession, String) => DataFrame

  /** The q55-shaped nested snapshot store derived from orders/lineitem
    * — exposed so specs can materialize it bucketed by entity key and
    * assert the merge aggregation runs shuffle-free (SURVEY §4.4). */
  def nestedAtScale(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // NOT spread: measured — the extra repartition shuffle costs more
    // than map-side parallelism buys; the partial collects are light
    // relative to the child shuffles the groupBys already do
    val orders = t(s, d, "orders")
    val lineitem = t(s, d, "lineitem")
    val snaps = orders.select(
      $"o_orderkey".as("submission_snapshot_id"),
      lit("w").as("website_id"),
      $"o_custkey".cast("string").as("site_submission_id"),
      $"o_orderdate".as("scan_datetime"),
      ($"o_orderkey" % 2 + 1).as("archive_contributor_id"),
      $"o_orderdate".as("ingest_datetime"),
      when($"o_orderstatus" === "O", $"o_orderpriority").as("uploader_site_user_id"),
      ($"o_orderstatus" === "F").as("is_deleted"),
      when($"o_totalprice" > 100000, $"o_orderpriority").as("title"),
      lit(null).cast("string").as("description"),
      lit(null).cast("timestamp").as("datetime_posted"),
      ($"o_orderkey" % 2 === 0).as("keywords_recorded"),
      when($"o_orderkey" % 3 =!= 0,
        to_json(struct($"o_orderpriority".as("p")))).as("extra_data"))
    val keywords = lineitem.select(
      ($"l_orderkey" * 10 + $"l_linenumber").as("keyword_id"),
      $"l_orderkey".as("submission_snapshot_id"),
      $"l_returnflag".as("keyword"),
      $"l_linenumber".as("ordinal"))
    val files = lineitem.filter($"l_linenumber" <= 3).select(
      ($"l_orderkey" * 10 + $"l_linenumber").as("file_id"),
      $"l_orderkey".as("submission_snapshot_id"),
      ($"l_partkey" % 20).cast("string").as("site_file_id"),
      concat(lit("u"), ($"l_partkey" % 20)).as("file_url"),
      ($"l_quantity" * 10).cast("long").as("file_size"),
      lit(null).cast("string").as("extra_data"))
    val hashes = lineitem.filter($"l_linenumber" <= 3).select(
      ($"l_orderkey" * 10 + $"l_linenumber").as("hash_id"),
      ($"l_orderkey" * 10 + $"l_linenumber").as("file_id"),
      lit(1L).as("algo_id"),
      unhex(lpad(hex($"l_suppkey" % 200 + 1), 4, "0")).as("hash_value"))
    val contributors = Seq((1L, "c1", "k1"), (2L, "c2", "k2"))
      .toDF("contributor_id", "name", "api_key")
    Merge.nestedSubmissionSnapshots(snaps, keywords, files, hashes,
      contributors)
  }

  /** The q55 emission shape shared by the full and incremental paths. */
  private def webShape(merged: DataFrame): DataFrame = {
    merged.select(
      col("site_submission_id"),
      col("snapshot_count"),
      date_format(col("first_scanned"), "yyyy-MM-dd HH:mm:ss").as("first_scanned"),
      date_format(col("latest_update"), "yyyy-MM-dd HH:mm:ss").as("latest_update"),
      col("is_deleted"),
      col("uploader_site_user_id"),
      col("title"),
      get_json_object(col("extra_data"), "$.p").as("k_p"),
      concat_ws(",", transform(col("keywords"), k => k.getField("keyword"))).as("kw_csv"),
      size(col("files")).cast("long").as("n_files"))
  }

  /** Pin the INLINE merge aggregation's exchange to full task width:
    * the nested rows are heavy to MERGE (per-entity struct sort + JSON
    * fold) but light in bytes, so AQE coalesces the entity-key
    * exchange to half the cores (measured at sf0.1: the merge-agg
    * stage ran 16 tasks of ~0.9 s — pinning halves its wall). Inline
    * paths only: the bucketed store paths (q83/q117) merge
    * exchange-free and must never gain one (MergeSpec pins that plan).
    *
    * Keyed on `site_submission_id` ALONE, not the full
    * (website_id, site_submission_id) groupBy key: website_id is a
    * constant (`lit("w")` in [[nestedAtScale]]), and hashing on the
    * literal made the repartition's partitioning UNMATCHABLE against
    * the aggregate's required clustering (the literal is re-aliased
    * inside the agg keys), so round 18's two-key spread silently paid
    * a SECOND full exchange of the heavy snapshot structs
    * (plans/r19/q65_incremental_merge_before.txt: Exchange(39)
    * REPARTITION_BY_NUM + Exchange(41) ENSURE_REQUIREMENTS on the same
    * rows). A single-key hash partitioning satisfies
    * ClusteredDistribution(website_id, site_submission_id) by the
    * subset rule, so the aggregate genuinely reuses this exchange —
    * one shuffle, pinned width. Same distribution: the constant
    * contributes no entropy. */
  private def spreadForMerge(nested: org.apache.spark.sql.DataFrame) =
    graft.engine.Spread.spreadForExplosion(
      nested, col("site_submission_id"))

  private val q55MergeScale: Q = (s, d) =>
    webShape(Merge.mergeSubmissions(spreadForMerge(nestedAtScale(s, d))))

  /** The bucketed nested store for q83: [[nestedAtScale]] materialized
    * once per sf dir via [[graft.storage.Storage.appendBucketed]]
    * (hash-bucketed AND sorted by the entity key at write time), then
    * read back through the catalog so bucket metadata survives. The
    * merge aggregation over this store runs with NO entity-key Exchange
    * — the write-once layout pays the shuffle so every subsequent merge
    * doesn't (SURVEY §4.4; the 100 TB pattern, reference analog: the
    * deferred index build of indexes.sql:1–3). DURABLE via
    * [[graft.storage.DurableStores]]: a later session re-registers the
    * at-rest files instead of rebuilding (DurableStoreSpec). Bench
    * passes after the first measure exactly the shuffle-free merge. */
  /** Catalog table name for the per-JVM bucketed store of a data dir.
    * The FULL path is folded in two ways — a readable sanitized form
    * plus an md5 of the exact path — so two distinct dirs can never
    * share a table (a bare hashCode key would silently serve one dir's
    * store for another on collision, e.g. "Aa"/"BB"). */
  /** LAYOUT keys of the merge family's build params (round 18, r17
    * verdict item 2) — every key currently declared determines the
    * at-rest bytes (the merge cutoff and bucket count shape the base;
    * `gate` scopes the accept log's id domain), so today every bump of
    * one of these rebuilds. The reStampMigration registered below
    * exists for the NEXT kind of bump: a new non-layout key (the
    * "bounds=prop" shape of the r16 asof upgrade) re-stamps stores in
    * place — folds kept — instead of wedging deployments behind the
    * fold-guard veto. Anyone adding a param that changes built content
    * MUST add its key here. */
  private val mergeLayoutKeys = Set("cutoff", "buckets", "gate")

  private[graft] def bucketedTableName(d: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val readable = d.replaceAll("[^A-Za-z0-9]", "_").takeRight(40)
    s"graft_nested_bucketed_${readable}_$digest"
  }

  def bucketedNested(s: SparkSession, d: String): DataFrame = {
    import graft.storage.DurableStores
    val tbl = bucketedTableName(d)
    val keys = Seq("website_id", "site_submission_id")
    DurableStores.openOrBuild(s, d, "nested_bucketed", Seq(tbl),
        params = "buckets=32",
        migrate = DurableStores.reStampMigration("buckets=32",
          mergeLayoutKeys)) { st =>
      st.appendBucketed(tbl, nestedAtScale(s, d), keys, numBuckets = 32)
      Seq(DurableStores.TableMeta.bucketed(s, tbl, keys, 32))
    }
    s.table(tbl)
  }

  /** The PERSISTED pre-cutoff merged table — q117's base. q65 rebuilds
    * `previousMerged` in-query, so its bench number mostly measures
    * the full base merge the incremental operator exists to avoid;
    * this store materializes that base once (merged over the bucketed
    * nested layout, so even the build is shuffle-free on the entity
    * key) and q117 then shows the TRUE batch-proportional cost of
    * incremental maintenance. Stored bucketed by the entity key so the
    * left_anti carve-out against touched entities needs no base-side
    * Exchange either. */
  private[graft] def mergedBaseStore(s: SparkSession, d: String,
      cutoff: String): DataFrame = {
    import graft.storage.DurableStores
    val tbl = graft.storage.Storage.tableNameFor("graft_merged_base", d)
    DurableStores.openOrBuild(s, d, "merged_base", Seq(tbl),
        params = s"cutoff=$cutoff,buckets=32",
        migrate = DurableStores.reStampMigration(
          s"cutoff=$cutoff,buckets=32", mergeLayoutKeys),
        foldGuards = Seq("merge_log")) { st =>
      writeMergedBase(s, st, tbl, Merge.mergeSubmissions(bucketedNested(s, d)
        .filter(col("scan_datetime") <= lit(cutoff).cast("timestamp"))))
    }
    s.table(tbl)
  }

  /** The merged base's at-rest layout, written by its source build and
    * by compact's fold: bucketed by the entity key. */
  private def writeMergedBase(s: SparkSession, st: graft.storage.Storage,
      tbl: String, merged: DataFrame): Seq[graft.storage.DurableStores.TableMeta] = {
    st.appendBucketed(tbl, merged, entityKeys, numBuckets = 32)
    Seq(graft.storage.DurableStores.TableMeta.bucketed(s, tbl, entityKeys, 32))
  }

  /** q55's merge over the bucketed store, under q55's oracle: same
    * answer, shuffle-free plan (MergeSpec asserts no Exchange). */
  private val q83MergeScaleBucketed: Q = (s, d) =>
    webShape(Merge.mergeSubmissions(bucketedNested(s, d)))

  /** Incremental merge maintenance under the hard gate: materialize
    * the merge of everything scanned before the cutoff, ingest the
    * rest as "the new batch" (re-merging only touched entities via
    * left_semi — cost ∝ batch, not corpus), and the maintained table
    * must hash-equal the full merge-on-read answer (same oracle as
    * q55). This is the 100 TB operational pattern: per-batch
    * refreshes instead of whole-corpus re-merges. */
  /** Ingest-batch cutoff shared by q65/q117: the last ~2 months of a
    * 6.5-year corpus (~2.5% of snapshots, ~23% of entities touched) —
    * an earlier 1996 cutoff made the "batch" 72% of history, which
    * degenerated the incremental path into a near-full re-merge. */
  private[graft] val incrementalCutoff = "2001-06-01"

  private val q65IncrementalMerge: Q = (s, d) => {
    import s.implicits._
    val nested = nestedAtScale(s, d)
    val cutoff = lit(incrementalCutoff).cast("timestamp")
    val previousMerged = Merge.mergeSubmissions(
      spreadForMerge(nested.filter($"scan_datetime" <= cutoff)))
    val newBatch = nested.filter($"scan_datetime" > cutoff)
    // inline caller: pin the touched-entity re-merge to full width
    // (same single-key rationale as spreadForMerge — q117's bucketed
    // path keeps the identity default and stays exchange-free)
    webShape(Merge.incrementalMergeSubmissions(previousMerged, nested,
      newBatch, spreadRefresh = spreadForMerge))
  }

  /** q65 against PERSISTED state — the operational shape: the
    * pre-cutoff merged base comes from [[mergedBaseStore]] (at rest,
    * bucketed by entity key) and the snapshot history from
    * [[bucketedNested]], so the query itself pays ONLY the
    * batch-proportional work: distinct touched entities, a left_semi
    * re-merge of those entities' history (shuffle-free over the
    * bucketed store), a left_anti carve-out of the stored base, and
    * the union. q65 keeps gating the same semantics with the base
    * rebuilt in-query; the two together separate "is the incremental
    * answer right" from "is the incremental cost actually
    * batch-proportional" (the bench medians show the latter). Same
    * oracle as q55: maintenance never changes the answer. */
  private val q117IncrementalMergeStored: Q = (s, d) => {
    import s.implicits._
    val nested = bucketedNested(s, d)
    val newBatch = nested.filter(
      $"scan_datetime" > lit(incrementalCutoff).cast("timestamp"))
    webShape(Merge.incrementalMergeSubmissions(
      mergedBaseStore(s, d, incrementalCutoff), nested, newBatch))
  }

  // ---- merge-family ACCEPT lifecycle (q125) --------------------------
  //
  // q117 reads the persisted merged base but its incremental result
  // evaporates — the same computed-but-never-persisted gap the cluster
  // family closed with acceptClusterRelabel/q124. This is the merge
  // family's write-back half: an ingest batch's raw snapshots AND the
  // re-merged rows of the entities it touched are accepted into
  // batch_id-partitioned delta tables; the CURRENT merged table is the
  // base with touched entities overridden by their latest accepted
  // re-merge. Snapshots are the ground truth the compact fold
  // recomputes from, so divergent lineages can never strand a merged
  // row the way per-entity latest-wins alone could.

  /** Mutable ACCEPT companion of [[mergedBaseStore]]: two delta
    * tables partitioned by batch_id, in two SEPARATE store families
    * whose split is the retention contract. `merge_log` holds the
    * batch's raw nested snapshots — the permanent append-only ingest
    * log (the bronze layer at 100 TB) later accepts and compact folds
    * re-merge from — and OWNS the commit markers, because a batch's
    * visibility must outlive any fold of its derived rows.
    * `merge_accept` holds the re-merged rows of the entities each
    * batch touched; it is the foldable half compact drops and
    * recreates. Both share [[mergedBaseStore]]'s params, and both are
    * returned as their committed views under `merge_log`'s markers. */
  private[graft] def mergeAcceptStore(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    import graft.storage.DurableStores
    // gate=mball: invalidates delta stores whose permanent ingest log
    // predates q125's single-batch shape — the old mb1/mb2 partitions'
    // snapshot ids overlap the mball batch, and the cross-batch id
    // guard (correctly) refuses the overlap rather than double-merge
    val params = s"cutoff=$incrementalCutoff,buckets=32,gate=mball"
    val migrate = DurableStores.reStampMigration(params, mergeLayoutKeys)
    val Seq(snaps) = DurableStores.openDeltaTables(s, d, "merge_log",
      Seq(snapsTable(d)), params, migrate)(Seq(bucketedNested(s, d)))
    val Seq(merged) = DurableStores.openDeltaTables(s, d, "merge_accept",
        Seq(mergedTable(d)), params, migrate, markers = Some("merge_log"))(
      Seq(Merge.mergeSubmissions(bucketedNested(s, d))))
    (snaps, merged)
  }

  private def snapsTable(d: String): String =
    graft.storage.Storage.tableNameFor("graft_mrgacc_snaps", d)

  private def mergedTable(d: String): String =
    graft.storage.Storage.tableNameFor("graft_mrgacc_merged", d)

  /** Committed delta rows (`committed`, a view from
    * [[mergeAcceptStore]]), optionally lineage-scoped and replayed as
    * of just before a batch id — the same scoping contract as
    * [[LlmOps.effectiveClusterLabels]]. */
  private def scopedMergeDelta(committed: DataFrame, before: Option[String],
      lineage: Option[Set[String]]): DataFrame = {
    val scoped = lineage
      .map(ls => committed.filter(col("batch_id").isin(ls.toSeq: _*)))
      .getOrElse(committed)
    before.map(b => scoped.filter(col("batch_id") < b)).getOrElse(scoped)
  }

  private val entityKeys = Seq("website_id", "site_submission_id")

  /** The CURRENT merged table: [[mergedBaseStore]] with every entity
    * present in a committed accept delta overridden by its LATEST
    * accepted re-merge (batch ids lexicographically monotone in accept
    * order — the same id contract as the cluster deltas). At 100 TB
    * the base side is bucketed by the entity key and the override side
    * is accepted-batches-sized: the anti join and the union shuffle
    * only the deltas. */
  private[graft] def effectiveMerged(s: SparkSession, d: String,
      before: Option[String] = None,
      lineage: Option[Set[String]] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = mergedBaseStore(s, d, incrementalCutoff)
    val (_, mergedD) = mergeAcceptStore(s, d)
    val latest = scopedMergeDelta(mergedD, before, lineage)
      .withColumn("rk", row_number().over(
        Window.partitionBy(entityKeys.map(col): _*)
          .orderBy(col("batch_id").desc)))
      .filter(col("rk") === 1).drop("rk", "batch_id")
    base.join(latest.select(entityKeys.head, entityKeys.tail: _*),
        entityKeys, "left_anti")
      .unionByName(latest)
  }

  /** Pre-cutoff nested history — what [[mergedBaseStore]] merged, and
    * therefore the id universe an accepted batch must be disjoint
    * from. (bucketedNested also holds the post-cutoff rows the GATES
    * use as their ingest batches — a testdata artifact; in production
    * the nested store holds exactly the ingested history.) */
  private def baseHistory(s: SparkSession, d: String): DataFrame =
    bucketedNested(s, d).filter(
      col("scan_datetime") <= lit(incrementalCutoff).cast("timestamp"))

  /** ACCEPT an ingest batch of nested snapshots: guard the snapshot
    * ids against the base history plus EVERY other committed accept (a
    * doubled snapshot would silently double M8 snapshot counts —
    * the guard spans lineages and survives compaction because the
    * snapshot deltas are a permanent ingest log, see
    * [[compactMergeStore]]), re-merge the touched entities over base
    * history ∪ prior accepted snapshots ∪ the batch, and write BOTH
    * the raw snapshots and the re-merged rows into the batch's
    * partitions, commit-marked last. Idempotent under replay (the
    * `before` cut excludes the batch's own and later partitions, and
    * the guard skips the batch's own prior partition); accept cost is
    * batch-proportional — the only corpus-scale touch is the
    * shuffle-free left_semi over the bucketed nested store. A replay
    * of a batch whose merged delta was compact-folded into the base is
    * a NO-OP: recomputing it as-of its own cut and letting
    * effectiveMerged's latest-wins override the (complete) folded base
    * row would silently regress every entity a LATER folded batch also
    * touched back to pre-that-batch state; the snapshot log still
    * holds the batch's snapshots for future folds. */
  private[graft] def acceptMergeBatch(s: SparkSession, d: String,
      batchId: String, batchSnaps: DataFrame,
      lineage: Option[Set[String]] = None): Unit =
    graft.storage.DurableStores.acceptBatch(s, d, "merge_log", batchId,
        lineage)(mergeAcceptStore(s, d)) { case ((snapsD, _), put) =>
    val hist = baseHistory(s, d)
    val prior = scopedMergeDelta(snapsD, Some(batchId), lineage)
      .drop("batch_id")
    val cols = hist.columns.map(col).toIndexedSeq
    val batch = batchSnaps.select(cols: _*)
    // collision universe: base history plus ALL committed accepts of
    // every lineage except this batch's own partition (whose presence
    // just means a replay) — an id accepted by ANY batch is taken
    graft.storage.DurableStores.requireFreshBatchIds("merge", batchId,
      "submission_snapshot_id", hist, snapsD,
      batch.select(col("submission_snapshot_id")))
    val touched = graft.engine.CacheRegistry.retain(
      batch.select(entityKeys.head, entityKeys.tail: _*).distinct())
    // prune the CORPUS-scale side (the bucketed, entity-key-sorted
    // base history) to the batch's touched submission ids before the
    // semi join — ProbePrune's range-cover pushdown; the delta and
    // batch sides are already batch-sized
    val history = graft.engine.ProbePrune.pruneToProbeKeys(hist,
        "site_submission_id", touched, "site_submission_id")
      .unionByName(prior).unionByName(batch)
    put(snapsTable(d), batch)
    put(mergedTable(d), Merge.mergeSubmissions(
      history.join(touched, entityKeys, "left_semi")))
  }

  /** Fold committed merge-accept batches into the merged base, so
    * probe plans return from base ∪ N merged deltas to a single base
    * scan. The fold is NOT per-entity latest-wins: divergent lineages
    * each re-merged a shared entity blind to the other's snapshots,
    * so no accepted row need equal the global answer. Snapshots ARE
    * the ground truth, so the fold recomputes: on the common path,
    * every entity present in an UNFOLDED merged delta is re-merged
    * over base history ∪ ALL committed snapshot deltas
    * ([[Merge.incrementalMergeSubmissions]] shape — base carve-out
    * plus touched-entity re-merge), which equals a full merge over
    * that history whatever the lineage mix (StoreSpec) while keeping
    * fold cost proportional to the work accepted since the last
    * fold, not to total log history. The coverage probe widens the
    * fold to the whole log when the base no longer covers the
    * previously-folded entities (a merged_base refresh).
    *
    * Only the MERGED delta table is truncated. The snapshot deltas
    * and their commit markers are a PERMANENT append-only ingest log
    * (the bronze layer of the 100 TB deployment): they are what the
    * accept guard checks id freshness against and what later accepts
    * and folds re-merge from — truncating them would reopen the very
    * coverage hole compaction of the other families closes with
    * their id guards (the base's `cutoff=` param stops describing
    * its coverage after a fold, so coverage must stay queryable from
    * the log). Probes never read the log; its growth costs probe
    * plans nothing. */
  private[graft] def compactMergeStore(s: SparkSession, d: String): Boolean =
    // the snapshot compactBatches takes is every committed log batch as
    // of NOW; retirement and partition drops cover exactly that set,
    // and the committed views the fold reads were opened after it.
    // Markers stay (deleteMarkers = false):
    // the snapshot log, its commit markers, and any batch that
    // committed mid-fold are untouched — the log remains the id-guard
    // universe and the ground truth of every later fold.
    graft.storage.DurableStores.compactBatches(s, d, "merge_log",
        Seq(mergedTable(d)), "merge", deleteMarkers = false)(
        mergeAcceptStore(s, d)) { case ((snapsD, mergedD), _, tmp) =>
    val acceptedSnaps = snapsD.drop("batch_id")
    val foldedNested = baseHistory(s, d).unionByName(acceptedSnaps)
    // entities carried by UNFOLDED merged deltas (folded batches'
    // partitions are dropped at fold time, so rows present = accepted
    // since the last fold): the common path re-merges ONLY these —
    // fold cost tracks new work, not total log history...
    val unfoldedMerged = mergedD
    val unfoldedEnts = unfoldedMerged
      .select(entityKeys.head, entityKeys.tail: _*).distinct()
    // ...but a `StoreAdmin refresh merged_base` rebuilds the base
    // from source (the documented retention contract), silently
    // un-folding every previously-folded batch. The coverage probe
    // over the REST of the accepted entities detects that (snapshot
    // ids are guard-unique, so per-entity snapshot-count equality is
    // exact coverage equality, one narrow agg per side) and widens
    // the fold to the whole log — which stays the ground truth
    // precisely so folds are recomputable.
    val rest = acceptedSnaps
      .select(entityKeys.head, entityKeys.tail: _*).distinct()
      .join(unfoldedEnts, entityKeys, "left_anti")
    val baseCovered = mergedBaseStore(s, d, incrementalCutoff)
      .join(rest, entityKeys, "left_semi")
      .agg(coalesce(sum(col("snapshot_count")), lit(0L)))
      .head.getLong(0)
    val histCount = foldedNested.join(rest, entityKeys, "left_semi").count()
    val needFull = baseCovered != histCount
    // nothing to fold: compactBatches then only collects merged-delta
    // partitions orphaned by a crash between a previous fold's ledger
    // write and its partition drop
    (needFull || unfoldedMerged.limit(1).collect().nonEmpty) && {
      val newBatch =
        if (needFull) acceptedSnaps
        else acceptedSnaps.join(unfoldedEnts, entityKeys, "left_semi")
      Merge.incrementalMergeSubmissions(
          mergedBaseStore(s, d, incrementalCutoff), foldedNested, newBatch)
        .write.mode("overwrite").parquet(s"$tmp/merged")
      val baseT = graft.storage.Storage.tableNameFor("graft_merged_base", d)
      graft.storage.DurableStores.drop(s, d, "merged_base")
      graft.storage.DurableStores.openOrBuild(s, d, "merged_base", Seq(baseT),
          s"cutoff=$incrementalCutoff,buckets=32")(
        writeMergedBase(s, _, baseT, s.read.parquet(s"$tmp/merged")))
      true
    }
  }

  /** q125 — the merge-maintenance WRITE-BACK lifecycle under the hard
    * gate (q117 reads the persisted base but discards its result;
    * this gate proves the incremental merge PERSISTS and compounds):
    * ingest batch 1 = snapshots scanned in (cutoff, cutoff+1 month],
    * accepted; batch 2 = everything after, accepted against the
    * UPDATED state (base ⊕ batch 1 — an entity spanning both batches
    * is re-merged by batch 2 over batch 1's accepted snapshots). The
    * emitted effective merged table must hash-equal q55's full
    * merge-on-read over ALL snapshots — same oracle; per batch, only
    * that batch's touched entities are ever re-merged. */
  private val q125MergeAcceptProbe: Q = (s, d) => {
    val nested = bucketedNested(s, d)
    val cutoff = lit(incrementalCutoff).cast("timestamp")
    // ONE accept round by design (round-12 ran two — mb1 then mb2 —
    // which exercised no code path a single accept doesn't while
    // costing ~6 s of every bench pass): the post-cutoff snapshots
    // land as one batch, so effective(base ⊕ batch) must still equal
    // q55's full merge under the unchanged oracle. The two-batch
    // COMPOUNDING sequence (batch 2 re-merging entities over batch 1's
    // accepted snapshots) lives in [[mergeAcceptProbeTwoBatch]] /
    // StoreSpec and the durability chain, where sequences belong.
    // Batch id sorts after the spec sequence's mb1/mb2 so shared-store
    // runs keep the lexicographic accept order.
    val own = Some(Set("mball"))
    acceptMergeBatch(s, d, "mball",
      nested.filter(col("scan_datetime") > cutoff), lineage = own)
    webShape(effectiveMerged(s, d, lineage = own))
  }

  /** Round-12's two-batch q125 body, kept as the COMPOUNDING sequence
    * driver for StoreSpec's merge-lifecycle test (and mirrored by the
    * four-process durability chain): batch mb2 re-merges its touched
    * entities over base history ∪ mb1's accepted snapshots, and the
    * effective table must equal the full merge. Run it against an
    * ISOLATED store root — its mb1/mb2 snapshot ids overlap q125's
    * mball batch, and the cross-batch id guard (correctly) rejects
    * overlap within one store. */
  private[graft] def mergeAcceptProbeTwoBatch(
      s: SparkSession, d: String): DataFrame = {
    val nested = bucketedNested(s, d)
    val cutoff = lit(incrementalCutoff).cast("timestamp")
    val mid = lit("2001-07-01").cast("timestamp")
    val own = Some(Set("mb1", "mb2"))
    acceptMergeBatch(s, d, "mb1",
      nested.filter(col("scan_datetime") > cutoff
        && col("scan_datetime") <= mid), lineage = own)
    acceptMergeBatch(s, d, "mb2",
      nested.filter(col("scan_datetime") > mid), lineage = own)
    webShape(effectiveMerged(s, d, lineage = own))
  }

  val queries: Map[String, Q] = Map(
    "q55_merge_scale" -> q55MergeScale,
    "q65_incremental_merge" -> q65IncrementalMerge,
    "q83_merge_scale_bucketed" -> q83MergeScaleBucketed,
    "q117_incremental_merge_stored" -> q117IncrementalMergeStored,
    "q125_merge_accept_probe" -> q125MergeAcceptProbe)

  /** q65, q83, and q117 must produce the identical answer to q55 —
    * same oracle: the incremental and shuffle-free paths are pure plan
    * changes, never answer changes. */
  val oracles: Map[String, String] = Map(
    "q55_merge_scale" -> mergeScaleSql,
    "q65_incremental_merge" -> mergeScaleSql,
    "q83_merge_scale_bucketed" -> mergeScaleSql,
    "q117_incremental_merge_stored" -> mergeScaleSql,
    "q125_merge_accept_probe" -> mergeScaleSql)

  private lazy val mergeScaleSql: String =
      """WITH snaps AS (
        |  SELECT o_orderkey AS sid, CAST(o_custkey AS VARCHAR) AS entity,
        |    o_orderdate AS scan, (o_orderstatus = 'F') AS is_deleted,
        |    CASE WHEN o_orderstatus = 'O' THEN o_orderpriority END AS uploader,
        |    CASE WHEN o_totalprice > 100000 THEN o_orderpriority END AS title,
        |    (o_orderkey % 2 = 0) AS kw_rec,
        |    CASE WHEN o_orderkey % 3 <> 0 THEN o_orderpriority END AS p
        |  FROM orders),
        |kw AS (SELECT l_orderkey AS sid, l_returnflag AS keyword,
        |         l_linenumber AS ordinal FROM lineitem),
        |fl AS (SELECT l_orderkey AS sid,
        |         CAST(l_partkey % 20 AS VARCHAR) AS site_file_id
        |       FROM lineitem WHERE l_linenumber <= 3),
        |m AS (
        |  SELECT entity, count(*) AS snapshot_count,
        |    strftime(min(scan), '%Y-%m-%d %H:%M:%S') AS first_scanned,
        |    strftime(max(scan), '%Y-%m-%d %H:%M:%S') AS latest_update
        |  FROM snaps GROUP BY entity),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY entity ORDER BY scan DESC, sid DESC) AS rn
        |  FROM snaps),
        |coal AS (
        |  SELECT DISTINCT entity,
        |    first_value(is_deleted) OVER w AS is_deleted,
        |    first_value(uploader IGNORE NULLS) OVER w AS uploader,
        |    first_value(title IGNORE NULLS) OVER w AS title,
        |    first_value(p IGNORE NULLS) OVER w AS k_p
        |  FROM ranked
        |  WINDOW w AS (PARTITION BY entity ORDER BY scan DESC, sid DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
        |kwpick AS (
        |  SELECT entity, sid FROM (
        |    SELECT entity, sid, row_number() OVER (
        |      PARTITION BY entity ORDER BY scan DESC, sid DESC) AS krn
        |    FROM snaps WHERE kw_rec)
        |  WHERE krn = 1),
        |kwcsv AS (
        |  SELECT kp.entity,
        |    string_agg(k.keyword, ',' ORDER BY k.ordinal, k.keyword) AS kw_csv
        |  FROM kwpick kp LEFT JOIN kw k ON k.sid = kp.sid
        |  GROUP BY kp.entity),
        |nf AS (
        |  SELECT s.entity, count(DISTINCT f.site_file_id) AS n_files
        |  FROM snaps s JOIN fl f ON f.sid = s.sid GROUP BY s.entity)
        |SELECT m.entity AS site_submission_id,
        |  m.snapshot_count, m.first_scanned, m.latest_update,
        |  c.is_deleted, c.uploader AS uploader_site_user_id, c.title,
        |  c.k_p,
        |  coalesce(kc.kw_csv, '') AS kw_csv,
        |  CAST(coalesce(nf.n_files, 0) AS BIGINT) AS n_files
        |FROM m
        |JOIN coal c ON c.entity = m.entity
        |LEFT JOIN kwcsv kc ON kc.entity = m.entity
        |LEFT JOIN nf ON nf.entity = m.entity""".stripMargin
}
