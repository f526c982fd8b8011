package graft.plans

import java.util.concurrent.Callable
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Attribute, CreateStruct, RowOrdering, UnsafeProjection, UnsafeRow}

/** The probe structure behind [[BroadcastAsofJoinExec]]: per key, the
  * candidates sorted ascending by (time, tieBreak) — `times` as the
  * binary-search axis, payload structs aligned with it. Built from the
  * broadcast dimension rows on the executor, ONCE per executor per
  * broadcast (see [[AsofIndex.BuildSpec.indexFor]]), never per task.
  *
  * Why not build it inside the broadcast exchange (the HashedRelation
  * lifecycle, where the broadcast VALUE is the built structure):
  * BroadcastExchangeExec sizes its relation through a sealed match —
  * HashedRelation (sealed, not implementable from a library) or
  * Array[InternalRow], anything else throws — so a library operator's
  * broadcast value must stay the row array. The executor-side
  * memoization below recovers the property that matters at scale: a
  * fact-side stage with thousands of tasks per executor groups and
  * sorts the dimension once, not per task.
  */
final class AsofIndex(
    private val index: java.util.HashMap[UnsafeRow, AsofIndex.Entry],
    private val timeOrd: Ordering[InternalRow]) {
  /** The key's candidates, or null when the key was never seen. */
  def entry(key: UnsafeRow): AsofIndex.Entry = index.get(key)

  /** The as-of probe, shared by the iterator and generated-code paths:
    * the latest candidate with time <= `time` for `key` — as the
    * 1-field payload-struct row held by the index — or null (unseen
    * key, no prior candidate, or a null left time: the ascending-
    * nulls-first comparator puts a null probe time before every real
    * candidate time, so nothing matches). Binary search for the upper
    * bound; equal times sort by tieBreak, so the last match IS the
    * max-tieBreak winner. Returned rows are stable index-owned copies,
    * safe to hand to downstream consume without re-copying. */
  def probe(key: UnsafeRow, time: UnsafeRow): InternalRow =
    probe(key, time, null)

  /** [[probe]] with a STALENESS BOUND: `bound` is the probe row's
    * `leftTime - maxStale` (or null for unbounded — the 2-arg overload
    * the generated code calls when no tolerance is set). A winner
    * older than the bound answers null; the check reads the matched
    * candidate's own time (`e.times(hit)`), never the payload struct,
    * so payload pruning above the operator is unaffected. A non-null
    * bound row with a null value satisfies nothing (SQL comparison
    * semantics). Correct by the bounded-argmax post-condition proof on
    * [[graft.operators.AsofJoin.asofJoinNative]]'s `maxStale`. */
  def probe(key: UnsafeRow, time: UnsafeRow, bound: UnsafeRow): InternalRow = {
    val e = index.get(key)
    if (e == null) null
    else {
      var lo = 0
      var hi = e.times.length - 1
      var hit = -1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (timeOrd.compare(e.times(mid), time) <= 0) {
          hit = mid; lo = mid + 1
        } else hi = mid - 1
      }
      if (hit < 0) null
      else if (bound != null &&
          (bound.isNullAt(0) || timeOrd.compare(e.times(hit), bound) < 0))
        null
      else e.payloads(hit)
    }
  }
}

object AsofIndex {
  /** Candidates of one key, ascending by (time, tieBreak). */
  final case class Entry(times: Array[UnsafeRow], payloads: Array[UnsafeRow])

  /** The serializable recipe for an executor-side index fetch/build —
    * what ships to tasks (closure capture on the iterator path, a
    * codegen reference object on the whole-stage path) instead of the
    * plan node itself. */
  final case class BuildSpec(
      rightOutput: Seq[Attribute],
      rightKeys: Seq[Attribute],
      rightTime: Attribute,
      tieBreak: Attribute,
      payload: Seq[Attribute]) extends Serializable {
    def indexFor(
        b: org.apache.spark.broadcast.Broadcast[Array[InternalRow]])
        : AsofIndex =
      shared.get((b.id, this), new Callable[AsofIndex] {
        override def call(): AsofIndex =
          build(b.value, rightOutput, rightKeys, rightTime, tieBreak, payload)
      })
  }

  /** Executor-local share: one built index per broadcast, held
    * STRONGLY, so every task wave of every run over that broadcast
    * probes the same index. Between waves no task holds the index, so
    * a cache that held it only weakly would let a GC force a second
    * build for one broadcast. Bound: at most [[maxPinned]] indexes stay
    * pinned per JVM, least recently used evicted first; each is a
    * sorted copy of one broadcast dimension's rows, so the pinned
    * memory is at most that many dimensions. A broadcast evicted while
    * still in use is rebuilt (correct, only slower). The key pairs the
    * broadcast id with the build spec: a new SparkContext in the same
    * JVM numbers its broadcasts from 0 again, and the spec's attribute
    * ids, unique in the JVM, keep its broadcasts apart from the old
    * one's. Guava's loading `get` serializes concurrent builders of
    * the same key, so simultaneous first tasks build exactly once. */
  private val maxPinned = 8L

  private val shared =
    com.google.common.cache.CacheBuilder.newBuilder()
      .maximumSize(maxPinned)
      .build[(Long, BuildSpec), AsofIndex]()

  /** Observability hook for the build-once contract (AsofJoinSpec
    * pins: many fact partitions, one build per broadcast). */
  private[graft] val buildCount = new AtomicLong(0L)

  /** Group by key and sort each group's candidates by (time,
    * tieBreak). Null-time rows are dropped (they cannot satisfy
    * `rightTime <= leftTime`; the DataFrame API also filters them —
    * this keeps direct plan construction honest). All held rows are
    * copies: the broadcast array's rows are shared across threads. */
  private def build(
      rows: Array[InternalRow],
      rightOutput: Seq[Attribute],
      rightKeys: Seq[Attribute],
      rightTime: Attribute,
      tieBreak: Attribute,
      payload: Seq[Attribute]): AsofIndex = {
    buildCount.incrementAndGet()
    val keyProj = UnsafeProjection.create(rightKeys, rightOutput)
    val timeProj = UnsafeProjection.create(Seq(rightTime), rightOutput)
    val sortProj =
      UnsafeProjection.create(Seq(rightTime, tieBreak), rightOutput)
    val payloadProj =
      UnsafeProjection.create(Seq(CreateStruct(payload)), rightOutput)
    val sortOrd = RowOrdering.createNaturalAscendingOrdering(
      Seq(rightTime.dataType, tieBreak.dataType))
    val grouped = mutable.HashMap.empty[UnsafeRow,
      mutable.ArrayBuffer[(UnsafeRow, UnsafeRow, UnsafeRow)]]
    rows.foreach { r =>
      val t = timeProj(r)
      if (!t.isNullAt(0)) {
        grouped.getOrElseUpdate(keyProj(r).copy(),
            mutable.ArrayBuffer.empty) +=
          ((sortProj(r).copy(), t.copy(), payloadProj(r).copy()))
      }
    }
    val index =
      new java.util.HashMap[UnsafeRow, Entry](grouped.size * 2)
    grouped.foreach { case (k, buf) =>
      val sorted = buf.sortWith((a, b) => sortOrd.compare(a._1, b._1) < 0)
      index.put(k, Entry(sorted.map(_._2).toArray, sorted.map(_._3).toArray))
    }
    // the probe comparator: right-time type == left-time type by the
    // node's construction contract, so candidates and probe times
    // compare under one natural ascending (nulls-first) order
    new AsofIndex(index,
      RowOrdering.createNaturalAscendingOrdering(Seq(rightTime.dataType)))
  }
}
