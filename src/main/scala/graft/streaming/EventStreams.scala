package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming analytics over snapshot/event streams (SURVEY §2.7 T2).
  * The reference has no streaming (it wished for Kafka, README.md:35);
  * these give the engine the standard Structured Streaming surface:
  * watermarked windowed aggregation, and an incrementally-maintained
  * merge state so "current entity value" can be served without
  * re-merging on every read.
  *
  * Batch/stream parity: both entry points accept either a static or a
  * streaming DataFrame — the plan is identical, only the sink differs.
  */
object EventStreams {

  /** Tumbling-window per-type aggregates with an event-time watermark
    * bounding state (T2: snapshots carry their own event time, so
    * lateness only affects state size, never correctness of the
    * merge-on-read path). */
  def windowedTypeCounts(
      events: DataFrame,
      windowLength: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  case class EntityEvent(user_id: Long, ts: Long, event_type: String, value: Double)
  case class EntityState(user_id: Long, last_ts: Long, last_type: String,
      last_value: Double, n_events: Long)

  /** Incrementally-maintained latest-snapshot state (the M1/M2 merge
    * kept hot): mapGroupsWithState folds each micro-batch into the
    * per-entity newest-wins state — the streaming materialization of
    * Merge's latest-pick, usable to serve "current value" lookups
    * without scanning history. Late rows (ts older than state) only
    * bump the count, exactly like merge-on-read would resolve them. */
  def latestEntityState(events: Dataset[EntityEvent]): Dataset[EntityState] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[EntityState, EntityState](GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[EntityEvent], state: GroupState[EntityState]) =>
          val prev = state.getOption
          val updated = batch.foldLeft(
            prev.getOrElse(EntityState(userId, Long.MinValue, null, 0.0, 0L))) {
            (st, ev) =>
              if (ev.ts >= st.last_ts)
                EntityState(userId, ev.ts, ev.event_type, ev.value, st.n_events + 1)
              else st.copy(n_events = st.n_events + 1)
          }
          state.update(updated)
          updated
      }
  }

  val latestEntityOutputMode: OutputMode = OutputMode.Update()

  /** Streaming exact-dedup for a document stream (the streaming member
    * of the dedup family): canonical md5 fingerprint + watermarked
    * `dropDuplicates`, so each distinct document body is emitted once
    * and dedup state is bounded by the watermark horizon (docs arriving
    * later than `watermarkDelay` after a duplicate may re-emit — the
    * standard state/completeness trade; the batch dedup is the
    * backstop, exactly like the reference's repair-job design). */
  def dedupDocStream(
      docs: DataFrame,
      tsCol: String = "ts",
      textCol: String = "text",
      watermarkDelay: String = "10 minutes"): DataFrame =
    docs
      .withColumn("fingerprint",
        md5(regexp_replace(lower(trim(col(textCol))), "\\s+", " ")))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicates("fingerprint")

  /** Streaming as-of enrichment — the online feature-store shape: every
    * event in an unbounded stream picks up the latest state row
    * at-or-before ITS OWN event time from a static temporal dimension
    * (price history, account-status history, config versions), through
    * the engine's native as-of operator
    * ([[graft.operators.AsofJoin.asofJoinNative]]).
    *
    * Stateless by construction: the lookup is a pure per-row function
    * of the micro-batch against the dimension, so there is no streaming
    * state, no watermark, and Append mode works — each batch plans
    * exactly like the batch operator (the custom strategy and rules are
    * installed on the session, which Structured Streaming's cloned
    * per-query session inherits along with `experimental` extensions).
    * `broadcast` defaults to Some(true) because per-micro-batch stats
    * would re-decide the physical path every trigger; the broadcast
    * exec never exchanges or sorts the stream side, which is the plan
    * you want for a trigger-latency path. Pass Some(false)/None to
    * override for a huge dimension.
    *
    * Output: the stream's columns plus the `asof` struct of the
    * dimension's non-key columns (null until the first dimension row
    * at-or-before the event's time — left-outer, same contract as the
    * batch operator; StreamingSpec pins batch/stream parity across
    * micro-batch boundaries).
    *
    * The batch family's deployment knobs work HERE too (StreamingSpec
    * pins stream == batch on both): `spark.graft.asof.skewSplits`
    * reroutes merge-path triggers through the time-bucketed split —
    * the split's bounds come from one min/max job over the static
    * dimension alone, since a bounds subquery cannot run over an
    * unbounded stream (stream rows outside the dimension's range clamp
    * into the edge buckets, changing spread, never answers) — and
    * `maxStale` applies the operator's staleness bound inside the
    * kernel, one row-local comparison per event, pruning intact. */
  def enrichAsof(
      stream: DataFrame,
      dim: DataFrame,
      keys: Seq[String],
      eventTime: String,
      dimTime: String,
      tieBreak: String,
      broadcast: Option[Boolean] = Some(true),
      maxStale: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    require(stream.isStreaming, "stream side must be a streaming DataFrame")
    require(!dim.isStreaming,
      "dim must be static: stream-stream as-of needs state/watermark " +
        "semantics this operator deliberately does not have")
    graft.operators.AsofJoin.asofJoinNative(
      stream, dim, keys, eventTime, dimTime, tieBreak, broadcast, maxStale)
  }

  case class SketchedDoc(kind_key: Int, bucket: Long, doc_id: Long,
      sig: Seq[Long], simhash: Long)
  case class NearDupHit(doc_id: Long, dup_of: Long, est_jaccard: Double)

  /** Chunk bucket keys live at kind_key >= this offset so they can
    * never collide with band ids (same scheme as the batch
    * [[graft.operators.Dedup.multiSketchPairs]]). */
  private val ChunkKindOffset = 1000

  /** Streaming NEAR-dup detection — the stateful LSH counterpart of
    * [[graft.operators.Dedup.minhashLshPairs]]: each doc's minhash
    * signature is banded, state lives per (band, hash) bucket, and a
    * new doc is compared only against its bucket's retained signatures
    * (the matching-component fraction is the unbiased minhash estimate
    * of Jaccard). Emits (doc, dup_of, estimate) for hits above the
    * threshold.
    *
    * Scale/state design: state per bucket is a FIFO-capped list of
    * (doc_id, k longs, simhash) — `maxPerBucket` bounds a boilerplate
    * bucket's state at the cost of missing dups of evicted docs (the
    * batch LSH job is the backstop, mirroring the reference's
    * repair-job pattern). A pair colliding in several bands is emitted
    * ONCE per sketch family: only the LOWEST band whose signature
    * slices match emits (each band can recompute the colliding-band
    * set from the two full signatures it already holds, so suppression
    * needs no extra shuffle or state). Under FIFO eviction, if the
    * older doc was evicted from that lowest band's bucket but survives
    * in a higher band's, the BAND family misses the pair.
    *
    * Multi-sketch recovery (`chunks > 0`): docs additionally register
    * in simhash-chunk buckets — the streaming mirror of the batch
    * [[graft.operators.Dedup.multiSketchPairs]] candidate union.
    * Chunk buckets verify with the SAME minhash estimate and suppress
    * within their own family (lowest colliding chunk emits), so a
    * pair the band family lost to eviction is still emitted in-stream
    * when any chunk bucket retains the older doc. The two families
    * are independent: a pair caught by both emits up to twice (once
    * per family) — downstream dedup consumers key on (doc_id, dup_of)
    * and are idempotent, exactly like the batch union's `.distinct()`.
    *
    * Determinism: each micro-batch's bucket members are processed in
    * doc_id order, so emissions don't depend on partition arrival
    * order. */
  /** @param stateTtlMs idle-bucket expiry (processing-time): buckets
    *   not touched for this long are dropped, bounding TOTAL state by
    *   the active working set rather than all buckets ever seen
    *   (0 = keep forever — only for bounded backfills). A dup of an
    *   expired doc re-registers silently; the batch job backstops. */
  def nearDupDocStream(
      docs: DataFrame,
      k: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.7,
      maxPerBucket: Int = 64,
      stateTtlMs: Long = 0L,
      chunks: Int = 0): Dataset[NearDupHit] = {
    import docs.sparkSession.implicits._
    import graft.operators.Dedup
    val sketched = docs
      .select(col("doc_id"),
        graft.functions.TextHashes.minhashSignature(
          Dedup.shingles(col("text")), k).as("sig"),
        Dedup.simhash(col("text")).as("simhash"))
    val banded = sketched
      .select(col("doc_id"), col("sig"), col("simhash"),
        explode(Dedup.bandKeys(col("sig"), k, bands)).as("band"))
      .select(col("band.band_id").cast("int").as("kind_key"),
        col("band.band_hash").as("bucket"),
        col("doc_id"), col("sig"), col("simhash"))
    val bits = if (chunks > 0) 64 / chunks else 0
    val keyed = (if (chunks <= 0) banded else {
      val chunked = sketched
        .select(col("doc_id"), col("sig"), col("simhash"),
          explode(transform(sequence(lit(0), lit(chunks - 1)), c => struct(
            (c + ChunkKindOffset).cast("int").as("kind_key"),
            call_function("shiftright", col("simhash"), c * bits)
              .bitwiseAND(lit((1L << bits) - 1)).as("bucket")))).as("ch"))
        .select(col("ch.kind_key").as("kind_key"), col("ch.bucket").as("bucket"),
          col("doc_id"), col("sig"), col("simhash"))
      banded.unionByName(chunked)
    }).as[SketchedDoc]
    val timeoutConf =
      if (stateTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    val rows = k / bands
    keyed
      .groupByKey(b => (b.kind_key, b.bucket))
      .flatMapGroupsWithState[List[(Long, Seq[Long], Long)], NearDupHit](
        OutputMode.Append, timeoutConf) {
        (key, batch: Iterator[SketchedDoc],
            state: GroupState[List[(Long, Seq[Long], Long)]]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // family-local suppression: the lowest colliding bucket OF
            // THIS FAMILY emits the pair (each bucket recomputes the
            // colliding set from the two sketches it already holds) —
            // families stay independent so one can recover the
            // other's eviction miss
            def firstCollidingBand(a: Seq[Long], b: Seq[Long]): Int =
              (0 until bands).find { j =>
                (j * rows until (j + 1) * rows).forall(i => a(i) == b(i))
              }.getOrElse(key._1)
            def firstCollidingChunk(a: Long, b: Long): Int = {
              val mask = (1L << bits) - 1
              (0 until chunks).find { c =>
                ((a >>> (c * bits)) & mask) == ((b >>> (c * bits)) & mask)
              }.map(_ + ChunkKindOffset).getOrElse(key._1)
            }
            val isChunkBucket = key._1 >= ChunkKindOffset
            var seen = state.getOption.getOrElse(Nil)
            val hits = List.newBuilder[NearDupHit]
            batch.toSeq.sortBy(_.doc_id).foreach { d =>
              seen.foreach { case (prevId, prevSig, prevSim) =>
                if (prevId != d.doc_id) {
                  val matches = prevSig.iterator.zip(d.sig.iterator).count {
                    case (a, b) => a == b
                  }
                  val est = matches.toDouble / k
                  val emits =
                    if (isChunkBucket)
                      firstCollidingChunk(prevSim, d.simhash) == key._1
                    else firstCollidingBand(prevSig, d.sig) == key._1
                  if (est >= threshold && emits)
                    hits += NearDupHit(d.doc_id, prevId, est)
                }
              }
              seen = ((d.doc_id, d.sig, d.simhash) :: seen).take(maxPerBucket)
            }
            state.update(seen)
            if (stateTtlMs > 0) state.setTimeoutDuration(stateTtlMs)
            hits.result().iterator
          }
      }
  }
}
