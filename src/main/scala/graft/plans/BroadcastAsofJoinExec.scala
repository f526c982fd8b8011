package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow,
  SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{
  CodegenContext, ExprCode, GenerateUnsafeProjection, JavaCode}
import org.apache.spark.sql.catalyst.plans.physical.{
  BroadcastDistribution, Distribution, IdentityBroadcastMode,
  Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{
  BinaryExecNode, CodegenSupport, SparkPlan}
import org.apache.spark.sql.execution.metric.SQLMetrics

/** Broadcast as-of join: the dimension-sized-right twin of
  * [[AsofJoinExec]] — same semantics (latest right row at-or-before
  * each left row's time per key, max-tieBreak tie winner, left-outer),
  * chosen by [[AsofJoinStrategy]] when the right side fits the
  * broadcast threshold (or the caller forces it).
  *
  * Why it exists (the 100 TB argument): the streaming-merge exec asks
  * for ClusteredDistribution on BOTH children, so an as-of lookup of a
  * 100 TB fact stream against a dimension-sized state table (the
  * canonical feature-store shape: prices, account status, config
  * history) pays a full shuffle + sort of the FACT side. This exec
  * asks for nothing from the left child and a broadcast of the right:
  * the fact side is never exchanged or sorted — the same plan-shape
  * win broadcast-hash-join has over sort-merge-join, carried to the
  * as-of semantics. Partitioning and ordering pass through, so
  * downstream operators reuse whatever layout the scan already had.
  *
  * The broadcast rows build a key → time-sorted-candidates probe index
  * ([[AsofIndex]]) ONCE PER EXECUTOR per broadcast — tasks share it
  * through a bounded executor-side cache, so a fact-side stage with thousands
  * of tasks never repeats the dimension group-and-sort (see AsofIndex's
  * scaladoc for why the build cannot live inside the exchange itself).
  * Each left row then answers with one hash probe plus a binary search
  * ([[AsofIndex.probe]]). Null right times are dropped at build
  * (cannot satisfy <=); a null left time matches nothing.
  *
  * The operator participates in WHOLE-STAGE CODEGEN on the fact side
  * (the brief's "widen the WholeStageCodegen spans"): doProduce
  * delegates to the left child and doConsume emits one probe call +
  * struct extraction per row, so scan → as-of → downstream projection
  * compile into a single generated loop with no iterator boundary at
  * the operator — the exact shape BroadcastHashJoin has. The
  * iterator `doExecute` remains as the codegen-off fallback; both ride
  * AsofIndex.probe, so semantics cannot diverge (AsofJoinSpec pins
  * codegen == no-codegen anyway).
  *
  * AsofJoinSpec also pins broadcast == merge == composed on randomized
  * hot-key data, the zero-left-exchange plan shape, and the
  * once-per-broadcast index build; q127 runs it under q73's DuckDB
  * oracle.
  */
case class BroadcastAsofJoinExec(
    leftKeys: Seq[Attribute],
    rightKeys: Seq[Attribute],
    leftTime: Attribute,
    rightTime: Attribute,
    tieBreak: Attribute,
    payload: Seq[Attribute],
    asofOut: Attribute,
    left: SparkPlan,
    right: SparkPlan,
    toleranceBound: Option[Attribute] = None)
    extends BinaryExecNode with CodegenSupport {

  override def output: Seq[Attribute] = left.output :+ asofOut

  override lazy val metrics = Map(
    "numOutputRows" ->
      SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution ::
      BroadcastDistribution(IdentityBroadcastMode) :: Nil

  // one left row in, one out, order preserved — the fact side's
  // layout survives the operator untouched
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  /** Executor-side index access shared by both execution paths; kept
    * in a small serializable spec so generated code never references
    * the plan node itself (plan trees don't ship to executors). */
  private def buildSpec =
    AsofIndex.BuildSpec(right.output, rightKeys, rightTime, tieBreak, payload)

  // ---- iterator path (codegen off) ---------------------------------

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val broadcastRows = right.executeBroadcast[Array[InternalRow]]()
    val lOut = left.output
    val spec = buildSpec
    val (lk_, lt_, asof_, bound_) = (leftKeys, leftTime, asofOut, toleranceBound)
    left.execute().mapPartitions { lIter =>
      val index = spec.indexFor(broadcastRows)
      val lKeyProj = UnsafeProjection.create(lk_, lOut)
      val lTimeProj = UnsafeProjection.create(Seq(lt_), lOut)
      val boundProj = bound_.map(b =>
        UnsafeProjection.create(Seq(b), lOut)).orNull
      val outProj = UnsafeProjection.create(lOut :+ asof_, lOut :+ asof_)
      val nullPayload = new GenericInternalRow(1)
      val joined = new JoinedRow
      lIter.map { l =>
        val p = index.probe(lKeyProj(l), lTimeProj(l),
          if (boundProj == null) null else boundProj(l))
        numOutputRows += 1
        outProj(joined(l, if (p == null) nullPayload else p))
      }
    }
  }

  // ---- whole-stage codegen path -------------------------------------

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    left.asInstanceOf[CodegenSupport].inputRDDs()

  override protected def doProduce(ctx: CodegenContext): String =
    left.asInstanceOf[CodegenSupport].produce(ctx, this)

  override def needCopyResult: Boolean =
    left.asInstanceOf[CodegenSupport].needCopyResult

  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode],
      row: ExprCode): String = {
    // per-partition init: fetch (or build) the executor-shared index
    val broadcastRows = right.executeBroadcast[Array[InternalRow]]()
    val bcastTerm = ctx.addReferenceObj("asofBroadcast", broadcastRows,
      classOf[Broadcast[Array[InternalRow]]].getName)
    val specTerm = ctx.addReferenceObj("asofBuildSpec", buildSpec,
      classOf[AsofIndex.BuildSpec].getName)
    val indexTerm = ctx.addMutableState("graft.plans.AsofIndex",
      "asofIndex", v => s"$v = $specTerm.indexFor($bcastTerm);")
    // probe key + time from the incoming (already evaluated) left vars
    ctx.INPUT_ROW = null
    ctx.currentVars = input
    // bind as Expression: bindReference casts its result back to the
    // argument's static type, and binding an Attribute yields a
    // BoundReference
    val keyEv = GenerateUnsafeProjection.createCode(ctx,
      leftKeys.map(k => BindReferences.bindReference(k: Expression, left.output)))
    val timeEv = GenerateUnsafeProjection.createCode(ctx,
      Seq(BindReferences.bindReference(leftTime: Expression, left.output)))
    // the optional staleness bound (leftTime - maxStale, a left column)
    // rides the 3-arg probe; unbounded joins call the 2-arg overload
    val boundEv = toleranceBound.map(b =>
      GenerateUnsafeProjection.createCode(ctx,
        Seq(BindReferences.bindReference(b: Expression, left.output))))
    val matched = ctx.freshName("asofPayloadRow")
    val asofIsNull = ctx.freshName("asofIsNull")
    val asofValue = ctx.freshName("asofValue")
    val numOutputRows = metricTerm(ctx, "numOutputRows")
    val rowCls = "org.apache.spark.sql.catalyst.InternalRow"
    val asofEv = ExprCode(
      JavaCode.isNullVariable(asofIsNull),
      JavaCode.variable(asofValue, asofOut.dataType))
    s"""
       |${keyEv.code}
       |${timeEv.code}
       |${boundEv.map(_.code.toString).getOrElse("")}
       |$rowCls $matched = $indexTerm.probe(${keyEv.value}, ${timeEv.value}${
         boundEv.map(b => s", ${b.value}").getOrElse("")});
       |boolean $asofIsNull = ($matched == null);
       |$rowCls $asofValue =
       |  $asofIsNull ? null : $matched.getStruct(0, ${payload.size});
       |$numOutputRows.add(1);
       |${consume(ctx, input :+ asofEv)}
     """.stripMargin
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BroadcastAsofJoinExec =
    copy(left = newLeft, right = newRight)
}
