package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Attribute, CreateStruct, RowOrdering, UnsafeProjection, UnsafeRow}

/** The streaming-merge kernel behind [[AsofJoinExec]], shared by the
  * iterator path and the whole-stage-codegen path so the two can never
  * diverge (the same single-kernel contract [[AsofIndex.probe]] gives
  * the broadcast exec). [[AsofMergerSpec]] is the serializable recipe
  * that ships to tasks — closure-captured on the iterator path, a
  * codegen reference object on the generated path — because neither
  * plan nodes nor [[UnsafeProjection]]s serialize.
  *
  * Null contract (identical to [[AsofIndex.build]], which drops
  * null-time dimension rows so direct plan construction stays honest
  * even though the DataFrame API also filters them): right rows with a
  * null time are SKIPPED in the advance loop — "no timestamp" cannot
  * satisfy `rightTime <= leftTime` — and a null left time answers null
  * without consuming anything (ascending-nulls-first ordering would
  * otherwise let a null left time "match" a null right time, the exact
  * divergence the two physical paths must not have).
  *
  * Staleness bound (`toleranceBound`): an optional LEFT-side attribute
  * holding `leftTime - maxStale` (precomputed by the DataFrame layer,
  * so interval/decimal arithmetic is analyzed once, not re-implemented
  * here). When set, a held winner older than the bound answers null —
  * ONE extra row-local comparison against the held candidate's time,
  * evaluated inside the kernel so the bound never reads the output
  * struct and payload pruning stays transparent
  * ([[graft.plans.PruneAsofPayload]]). Correctness is the bounded-
  * argmax post-condition proof on [[graft.operators.AsofJoin
  * .asofJoinNative]]'s `maxStale`: the unbounded winner is in-window
  * iff any candidate is. A null bound satisfies nothing (SQL comparison
  * semantics — `r.t >= l.t - NULL` is never true).
  */
final case class AsofMergerSpec(
    leftOutput: Seq[Attribute],
    rightOutput: Seq[Attribute],
    leftKeys: Seq[Attribute],
    rightKeys: Seq[Attribute],
    leftTime: Attribute,
    rightTime: Attribute,
    payload: Seq[Attribute],
    toleranceBound: Option[Attribute] = None) extends Serializable {
  /** One merger per co-partition pair; `rIter` is the KEY-clustered,
    * (key, time, tieBreak)-ascending right partition. */
  def newMerger(rIter: Iterator[InternalRow]): AsofMerger =
    new AsofMerger(this, rIter)
}

final class AsofMerger(
    spec: AsofMergerSpec, rIter: Iterator[InternalRow]) {
  private val keyOrd =
    RowOrdering.createNaturalAscendingOrdering(spec.leftKeys.map(_.dataType))
  private val timeOrd =
    RowOrdering.createNaturalAscendingOrdering(Seq(spec.leftTime.dataType))
  private val lKeyProj = UnsafeProjection.create(spec.leftKeys, spec.leftOutput)
  private val lTimeProj = UnsafeProjection.create(Seq(spec.leftTime), spec.leftOutput)
  private val rKeyProj = UnsafeProjection.create(spec.rightKeys, spec.rightOutput)
  private val rTimeProj = UnsafeProjection.create(Seq(spec.rightTime), spec.rightOutput)
  private val payloadProj =
    UnsafeProjection.create(Seq(CreateStruct(spec.payload)), spec.rightOutput)
  private val payloadSize = spec.payload.size
  private val boundProj = spec.toleranceBound.map(b =>
    UnsafeProjection.create(Seq(b), spec.leftOutput)).orNull

  private var rRow: InternalRow = advanceRight()
  private var heldKey: UnsafeRow = null
  private var heldTime: UnsafeRow = null
  private var heldStruct: InternalRow = null

  /** Next right row with a NON-NULL time, or null at exhaustion. */
  private def advanceRight(): InternalRow = {
    while (rIter.hasNext) {
      val r = rIter.next()
      if (!rTimeProj(r).isNullAt(0)) return r
    }
    null
  }

  /** The as-of payload STRUCT for `l` — the latest right row with
    * time <= l's time on l's key (ties on time resolved by the right
    * ordering's max tieBreak: the last consumed tie wins) — or null
    * (no prior right row, or a null left time). Left rows must arrive
    * in (key, time) ascending order (the exec's required ordering);
    * held rows are copies, so returned structs are stable until the
    * NEXT same-key hold — consumers copy if they buffer, per the usual
    * SparkPlan iterator contract. O(1) state: one held payload row. */
  def advance(l: InternalRow): InternalRow = {
    val lk = lKeyProj(l)
    val lt = lTimeProj(l)
    // null left time: nothing can be <= it; skipping the advance is
    // safe — rows of earlier keys get consumed by the next left row
    if (lt.isNullAt(0)) return null
    var advancing = true
    while (advancing && rRow != null) {
      val c = keyOrd.compare(rKeyProj(rRow), lk)
      if (c < 0 ||
          (c == 0 && timeOrd.compare(rTimeProj(rRow), lt) <= 0)) {
        if (c == 0) {
          // latest at-or-before so far for this key: keep it (copies —
          // the child sort reuses ITS row buffers)
          heldKey = rKeyProj(rRow).copy()
          heldTime = rTimeProj(rRow).copy()
          heldStruct = payloadProj(rRow).copy().getStruct(0, payloadSize)
        }
        rRow = advanceRight()
      } else advancing = false
    }
    if (heldStruct != null && keyOrd.compare(heldKey, lk) == 0) {
      if (boundProj == null) heldStruct
      else {
        // staleness bound: the held winner counts only at-or-after
        // `leftTime - maxStale`; one row-local comparison, null bound
        // satisfies nothing (right times are non-null by the advance
        // loop, so the comparison itself never sees a null candidate)
        val bv = boundProj(l)
        if (!bv.isNullAt(0) && timeOrd.compare(heldTime, bv) >= 0)
          heldStruct
        else null
      }
    } else null
  }
}
