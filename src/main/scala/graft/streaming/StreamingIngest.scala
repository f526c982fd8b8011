package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.engine.Concurrent
import graft.ingest.Normalize
import graft.storage.Storage

/** T1 — micro-batched streaming ingest (SURVEY §2.7). The reference
  * buffers converted rows and flushes at ≥1000 pending or 60 s
  * (scripts/ingest/ingestion_job.py:42–43, 78–115) with manual
  * `skip_rows` resume (T3); Structured Streaming gives the same
  * batching via trigger interval + `maxFilesPerTrigger` (the count
  * knob, set on the source) and exactly-once resume via the checkpoint
  * — the A6 dedup job remains as a repair tool, matching the
  * reference's belt-and-braces design.
  *
  * The batch path and the stream path share the converter and
  * Normalize code verbatim: a stream is just the same transform inside
  * foreachBatch.
  */
object StreamingIngest {

  /** Default batch-id prefix for the accept verbs, derived from the
    * stream's CHECKPOINT location. Two independent streams (distinct
    * checkpoints) writing the same store must never share batch ids:
    * the accept verbs' own-id replay exemption and the folded-ledger
    * no-op both assume id identity means content identity, so a
    * shared literal prefix would let stream B's micro-batch 0
    * silently overwrite stream A's committed partition. Hashing the
    * checkpoint makes the prefix unique per stream while a RESTART of
    * the same stream (same checkpoint) keeps its ids stable —
    * exactly what the checkpoint-replay contract needs. */
  private[graft] def batchPrefixFor(checkpoint: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(checkpoint.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(4).map(b => f"$b%02x").mkString
    s"stream_${h}_"
  }

  /** This stream's batch-id lineage for the accept verbs' monotonicity
    * contract: every committed/folded id carrying the stream's own
    * checkpoint prefix, plus the incoming id. The zero-padded trigger
    * ids are monotone WITHIN a checkpoint by construction; scoping the
    * check to the prefix keeps an unrelated lineage's ids on the same
    * shared store (gate batches, another stream's prefix) from
    * constraining — or being constrained by — this one. One marker-dir
    * listing per trigger, no Spark job. */
  private def ownLineage(s: org.apache.spark.sql.SparkSession,
      dataDir: String, store: String, prefix: String,
      bid: String): Option[Set[String]] = {
    import graft.storage.DurableStores
    Some((DurableStores.committedBatches(s, dataDir, store) ++
      DurableStores.foldedBatches(s, dataDir, store))
      .filter(_.startsWith(prefix)) + bid)
  }

  /** Start a submission-format ingest stream: `source` is any
    * readStream DataFrame (file drop dir, socket, …); `convert` is one
    * of ingest.Formats. Defaults mirror the reference's 60 s flush.
    */
  def startSubmissionIngest(
      source: DataFrame,
      convert: DataFrame => DataFrame,
      storage: Storage,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds")): StreamingQuery =
    source.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // converted once for the four appends, which run at once
        val converted = convert(batch).persist()
        try {
          val (snaps, kw, files, hashes) = Normalize.splitChildren(converted)
          Concurrent.run(batch.sparkSession.sparkContext)(
            () => storage.append("submission_snapshots", snaps),
            () => storage.append("submission_snapshot_keywords", kw),
            () => storage.append("submission_snapshot_files", files),
            () => storage.append("submission_snapshot_file_hashes", hashes))
        } finally { converted.unpersist(); () }
      }
      .start()

  /** T1 × incremental merge: streaming maintenance of a MATERIALIZED
    * merged-users table. Each micro-batch (a) appends its snapshots to
    * the at-rest `user_snapshots` table and (b) refreshes ONLY the
    * touched entities of the materialized `merged_users` table via
    * [[graft.engine.Merge.incrementalMergeUsers]] — the streaming form
    * of the q65/q117 maintenance pattern, so a continuously-ingesting
    * deployment always has a current merged table without ever paying
    * a full re-merge. Exactly-once across restarts rides the
    * checkpoint: a replayed batch re-merges its entities from the
    * snapshot store, and merge-on-read is a pure function of an
    * entity's snapshots, so the refresh is idempotent (StreamingSpec
    * drives two batches and pins hash-equality with the full merge
    * after each). At 100 TB both tables are the bucketed layouts
    * (q83/q117) and the overwrite becomes a partition-level replace of
    * touched buckets. */
  /** [[startUserMergeMaintenance]] for the PRIMARY entity: each
    * micro-batch carries pre-hydrated nested submission snapshots
    * (the [[graft.engine.Merge.nestedSubmissionSnapshots]] shape —
    * ingest converters produce it before the stream, exactly like the
    * batch path), appends them to the at-rest nested store, and
    * refreshes only the touched entities of the materialized
    * `merged_submissions` table. Same idempotence argument: snapshot
    * ids are deterministic, dedup-on-read absorbs checkpoint
    * replays. */
  def startSubmissionMergeMaintenance(
      nestedSource: DataFrame,
      storage: Storage,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds")): StreamingQuery =
    nestedSource.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = batch.persist()
        try {
          storage.append("nested_submission_snapshots", b)
          val all = storage.read("nested_submission_snapshots")
            .dropDuplicates("submission_snapshot_id")
          val merged =
            if (storage.exists("merged_submissions"))
              graft.engine.Merge.incrementalMergeSubmissions(
                storage.read("merged_submissions"), all, b)
            else graft.engine.Merge.mergeSubmissions(all)
          storage.overwrite("merged_submissions", merged)
        } finally { b.unpersist(); () }
      }
      .start()

  /** T1 × the DURABLE accept lifecycle: each micro-batch of documents
    * is ACCEPTED into the sketch store's batch_id-partitioned delta
    * tables ([[graft.queries.LlmOps.acceptSketchBatch]] — partition-
    * idempotent write, commit marker last), with batch_id = the
    * zero-padded streaming batch id so accept order and the store's
    * lexicographic batch-id contract coincide. A checkpoint-replayed
    * micro-batch rewrites exactly its own partitions and re-marks
    * them — exactly-once at the store level with no extra
    * bookkeeping. Probes (the q121 shape: base ∪ committed deltas)
    * see a streamed doc as soon as its trigger completes. At 100 TB:
    * accept cost is batch-proportional (only the micro-batch is ever
    * sketched) and `StoreAdmin compact` folds a long-running stream's
    * accumulated deltas into the base between probe windows. */
  def startSketchAccept(
      docs: DataFrame,
      dataDir: String,
      checkpoint: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      batchPrefix: String = "",
      trigger: Trigger = Trigger.ProcessingTime("60 seconds")): StreamingQuery = {
    val prefix =
      if (batchPrefix.nonEmpty) batchPrefix else batchPrefixFor(checkpoint)
    docs.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        if (!batch.isEmpty) {
          val b = f"$prefix$bid%09d"
          graft.queries.LlmOps.acceptSketchBatch(batch.sparkSession,
            dataDir, b, batch, idCol, textCol,
            lineage = ownLineage(batch.sparkSession, dataDir,
              "sketch_accept", prefix, b))
        }
      }
      .start()
  }

  /** The FULL streaming cluster-maintenance loop — q124's write-back
    * lifecycle running continuously: each micro-batch is
    * sketch-accepted and then relabel-accepted under the SAME batch
    * id (sketches first, because the relabel's cross-edges probe the
    * sketch base ∪ prior committed sketch deltas). The zero-padded
    * streaming batch id keeps both stores' accept order aligned with
    * the checkpoint order, so a replayed micro-batch re-derives
    * exactly its original delta (the log-replay contract) and a
    * replay racing an admin compact is a no-op in both families. The
    * materialized corpus cluster labels then stay current with the
    * stream — effectiveClusterLabels answers at any moment without a
    * whole-corpus recompute. */
  def startClusterMaintenance(
      docs: DataFrame,
      dataDir: String,
      checkpoint: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      batchPrefix: String = "",
      trigger: Trigger = Trigger.ProcessingTime("60 seconds")): StreamingQuery = {
    val prefix =
      if (batchPrefix.nonEmpty) batchPrefix else batchPrefixFor(checkpoint)
    docs.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          val b = f"$prefix$bid%09d"
          graft.engine.CacheRegistry.withRetained {
            graft.queries.LlmOps.acceptSketchBatch(s, dataDir, b,
              batch, idCol, textCol,
              lineage = ownLineage(s, dataDir, "sketch_accept", prefix, b))
            graft.queries.LlmOps.acceptClusterRelabel(s, dataDir, b,
              batch, idCol, textCol,
              lineage = ownLineage(s, dataDir, "cluster_accept", prefix, b))
          }
        }
      }
      .start()
  }

  /** [[startSketchAccept]] for the cosine index: each micro-batch of
    * (vec_id, embedding) rows is cell-assigned under the STORED
    * centroids and accepted into the delta member table — the
    * streaming form of q122's ingest half. */
  def startCosineAccept(
      vectors: DataFrame,
      dataDir: String,
      checkpoint: String,
      batchPrefix: String = "",
      trigger: Trigger = Trigger.ProcessingTime("60 seconds")): StreamingQuery = {
    val prefix =
      if (batchPrefix.nonEmpty) batchPrefix else batchPrefixFor(checkpoint)
    vectors.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        if (!batch.isEmpty) {
          val b = f"$prefix$bid%09d"
          graft.queries.LlmOps.acceptCosineBatch(batch.sparkSession,
            dataDir, b, batch,
            lineage = ownLineage(batch.sparkSession, dataDir,
              "cosine_accept", prefix, b))
        }
      }
      .start()
  }

  /** [[startSketchAccept]] for the as-of dimension: each micro-batch
    * of new state rows (user_id, event_id, ts, value) is accepted into
    * the asof_accept delta partitions
    * ([[graft.queries.EventsMerge.acceptAsofDimBatch]] — id-guarded,
    * partition-idempotent, commit-marked last), so a live probe
    * ([[graft.queries.EventsMerge.asofJoinEffective]]: sorted-base leg
    * + broadcast delta leg) sees new state as soon as its trigger
    * completes — the write half of the online feature-store loop whose
    * read half is [[graft.streaming.EventStreams.enrichAsof]]. */
  def startAsofDimAccept(
      rows: DataFrame,
      dataDir: String,
      checkpoint: String,
      batchPrefix: String = "",
      trigger: Trigger = Trigger.ProcessingTime("60 seconds")): StreamingQuery = {
    val prefix =
      if (batchPrefix.nonEmpty) batchPrefix else batchPrefixFor(checkpoint)
    rows.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        if (!batch.isEmpty) {
          val b = f"$prefix$bid%09d"
          graft.queries.EventsMerge.acceptAsofDimBatch(batch.sparkSession,
            dataDir, b, batch,
            lineage = ownLineage(batch.sparkSession, dataDir,
              "asof_accept", prefix, b))
        }
      }
      .start()
  }

  def startUserMergeMaintenance(
      source: DataFrame,
      storage: Storage,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds")): StreamingQuery =
    source.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = batch.persist()
        try {
          storage.append("user_snapshots", b)
          // a checkpoint-replayed batch re-appends its rows; snapshot
          // ids are deterministic, so dedup-on-read makes the whole
          // maintenance idempotent (the reference's belt-and-braces
          // A6 dedup pass, applied at the only point it matters).
          // The replayed PHYSICAL rows do persist in the snapshot
          // table until the periodic Repair.dedup pass (q41) rewrites
          // it — the reference's own operational model: at-least-once
          // appends, exactly-once answers, storage reclaimed by the
          // scheduled repair job rather than a per-batch anti-join
          // read of the whole table
          val all = storage.read("user_snapshots")
            .dropDuplicates("user_snapshot_id")
          val merged =
            if (storage.exists("merged_users"))
              graft.engine.Merge.incrementalMergeUsers(
                storage.read("merged_users"), all, b)
            else graft.engine.Merge.mergeUsers(all)
          storage.overwrite("merged_users", merged)
        } finally { b.unpersist(); () }
      }
      .start()
}
