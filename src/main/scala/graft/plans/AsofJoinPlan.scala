package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{
  And, Attribute, AttributeMap, AttributeReference, AttributeSet,
  CreateStruct, Expression, GetStructField, NamedExpression,
  PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{
  BinaryNode, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Logical as-of join — the whole-operator form of
  * [[graft.operators.AsofJoin.asofJoin]]'s semantics (for every left
  * row, the LATEST right row with rightTime <= leftTime on the same
  * key; ties on rightTime resolved to the max tieBreak; left-outer).
  *
  * Why a custom plan node when the composed union+window formulation
  * already runs in one shuffle: the composition pays two scale taxes a
  * dedicated operator doesn't. (1) Width amplification on the wire —
  * the union forces every row of BOTH inputs through the shuffle at
  * the COMBINED schema width (left rows carry a null right-payload
  * struct, right rows carry every left column as null), so the
  * exchange moves ~2× the bytes the inputs hold. (2) Partition
  * buffering — WindowExec materializes each key's full partition in an
  * ExternalAppendOnlyUnsafeRowArray before emitting, so a hot key
  * buffers (and at scale, spills) L+R rows. This node shuffles each
  * side at its OWN width and the exec streams the sorted partitions
  * with O(1) held state ([[AsofJoinExec]]).
  *
  * The node is constructed already-resolved (attributes are taken from
  * the analyzed child plans — [[ResolveAsofJoin.lower]], which both
  * the DataFrame and the SQL front door go through)
  * and planned by [[AsofJoinStrategy]];
  * [[PushFilterThroughAsofJoin]] keeps Catalyst's filter pushdown
  * working across it. Column pruning does NOT traverse the node (the
  * payload is every non-key right column by contract), so callers
  * should project inputs first — which the DataFrame-level API shape
  * already encourages.
  *
  * Reference analog: the per-entity "latest snapshot at or before a
  * date" lookup the reference runs at read time
  * (faexport_db/scripts/read_data.py — latest-snapshot pick), lifted
  * to a whole-corpus operator like the rest of the merge family.
  *
  * @param payload the right columns carried into the output `asof`
  *                struct (all non-key right columns, in right-side
  *                order) — an explicit field so the node's references
  *                cover everything the exec reads.
  * @param asofOut the output struct attribute; its type is fixed at
  *                construction to CreateStruct(payload).dataType.
  * @param broadcast physical-path override: Some(true) forces the
  *                broadcast exec, Some(false) the shuffle merge, None
  *                lets the strategy pick by the right side's size
  *                estimate vs autoBroadcastJoinThreshold — the same
  *                auto-selection contract as Spark's own join
  *                strategies.
  * @param toleranceBound optional STALENESS BOUND: a left-side
  *                attribute holding `leftTime - maxStale` (type must
  *                equal rightTime's). When set, a winner older than
  *                the bound answers null — evaluated inside the
  *                kernels ([[AsofMerger]]/[[AsofIndex.probe]]) as one
  *                row-local comparison on the candidate's own time, so
  *                the bound never references the `asof` struct and
  *                [[PruneAsofPayload]] stays fully effective.
  */
case class AsofJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Attribute],
    rightKeys: Seq[Attribute],
    leftTime: Attribute,
    rightTime: Attribute,
    tieBreak: Attribute,
    payload: Seq[Attribute],
    asofOut: AttributeReference,
    broadcast: Option[Boolean] = None,
    toleranceBound: Option[Attribute] = None) extends BinaryNode {

  override def output: Seq[Attribute] = left.output :+ asofOut

  override def producedAttributes: AttributeSet = AttributeSet(asofOut)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsofJoinPlan]] as [[BroadcastAsofJoinExec]] when the right
  * side is dimension-sized — forced by the node's `broadcast` flag, or
  * chosen automatically when the right side's size estimate fits
  * `spark.sql.autoBroadcastJoinThreshold` (the same stats + threshold
  * contract as Spark's own JoinSelection, so a tuned threshold governs
  * both) — and as the shuffle streaming-merge [[AsofJoinExec]]
  * otherwise. Injected via [[graft.GraftExtensions]] (conf-only
  * deployments) or [[GraftPlans.install]] (library use,
  * `experimental.extraStrategies`).
  */
class AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: AsofJoinPlan =>
      val threshold =
        org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
      val useBroadcast = p.broadcast.getOrElse(
        threshold > 0 && p.right.stats.sizeInBytes <= threshold)
      if (useBroadcast)
        BroadcastAsofJoinExec(p.leftKeys, p.rightKeys, p.leftTime,
          p.rightTime, p.tieBreak, p.payload, p.asofOut,
          planLater(p.left), planLater(p.right), p.toleranceBound) :: Nil
      else
        AsofJoinExec(p.leftKeys, p.rightKeys, p.leftTime, p.rightTime,
          p.tieBreak, p.payload, p.asofOut,
          planLater(p.left), planLater(p.right), p.toleranceBound) :: Nil
    case _ => Nil
  }
}

/** Filter pushdown across [[AsofJoinPlan]] — without it, Catalyst
  * stops every predicate at the (to it, opaque) node and the scans
  * read the full inputs. Two sound moves, both row-local:
  *
  *  - a deterministic predicate over LEFT columns only commutes with
  *    the join (every output row is one left row extended), so it
  *    pushes into the left child — from where the built-in rules carry
  *    it down to the scan (PushedFilters);
  *  - a predicate over the left KEYS alone additionally mirrors onto
  *    the right keys (a right row can only ever surface as the payload
  *    of an equal-key left row), pruning the right scan too — the
  *    as-of analog of Spark's own inferFiltersFromConstraints on
  *    equi-joins.
  *
  * Predicates referencing the `asof` output or right columns stay
  * above the node. Runs in the operator-optimization batch to a fixed
  * point: after one push the remaining conjuncts are non-pushable, so
  * the rule is convergent.
  */
object PushFilterThroughAsofJoin extends Rule[LogicalPlan]
    with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, a: AsofJoinPlan) =>
      val (pushable, kept) = splitConjunctivePredicates(cond)
        .partition(p => p.deterministic &&
          p.references.subsetOf(a.left.outputSet))
      if (pushable.isEmpty) f
      else {
        val keyMap = AttributeMap(a.leftKeys.zip(a.rightKeys))
        val mirrored: Seq[Expression] = pushable
          .filter(_.references.subsetOf(AttributeSet(a.leftKeys)))
          .map(_.transform {
            case ar: AttributeReference => keyMap.getOrElse(ar, ar)
          })
        val pushed = a.copy(
          left = Filter(pushable.reduce(And), a.left),
          right = mirrored.reduceOption(And)
            .map(Filter(_, a.right)).getOrElse(a.right))
        kept.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

/** Column pruning across [[AsofJoinPlan]] — the built-in ColumnPruning
  * rule cannot traverse an unknown node, so without this a query that
  * reads two fields of the `asof` struct still shuffles the right
  * side's FULL payload and every left column. Payload width is the
  * operator's dominant shuffle cost at scale, which makes this the
  * as-of analog of projection pushdown on a scan. For a Project
  * directly above the node — or above a Filter above the node (the
  * residual-Filter shape left behind when
  * [[PushFilterThroughAsofJoin]] cannot move a predicate that reads
  * the `asof` struct) — three narrowings, all guarded to strict
  * shrinkage so the fixed point converges:
  *
  *  - payload: only the `asof` struct fields the project AND the
  *    intervening filter extract survive into the node's payload
  *    (ordinals remapped in both, a fresh `asof` attribute minted
  *    since its type changes);
  *  - right child: projected to keys + time + tieBreak + surviving
  *    payload, so the built-in rules carry the pruning to the scan;
  *  - left child: projected to the left columns the project or filter
  *    use plus keys + time (the node's output shrinks with it, by
  *    construction).
  *
  * A reference to the WHOLE `asof` struct (or none of the guards
  * shrinking anything) leaves the node untouched.
  */
object PruneAsofPayload extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p @ Project(projectList, a: AsofJoinPlan) =>
      prune(p, projectList, None, a)
    case p @ Project(projectList, Filter(cond, a: AsofJoinPlan)) =>
      prune(p, projectList, Some(cond), a)
  }

  private def prune(p: Project, projectList: Seq[NamedExpression],
      filterCond: Option[Expression], a: AsofJoinPlan): LogicalPlan = {
    // how the query uses the asof struct: whole-struct reference vs a
    // set of extracted field ordinals (the scan must not descend into
    // a matched GetStructField, whose child IS the whole-struct
    // attribute); the filter's usages count — a payload field the
    // predicate reads must survive the prune
    var whole = false
    val used = scala.collection.mutable.SortedSet.empty[Int]
    def scanExpr(e: Expression): Unit = e match {
      case g @ GetStructField(ar: AttributeReference, ord, _)
          if ar.exprId == a.asofOut.exprId =>
        used += ord
      case ar: AttributeReference if ar.exprId == a.asofOut.exprId =>
        whole = true
      case other => other.children.foreach(scanExpr)
    }
    projectList.foreach(scanExpr)
    filterCond.foreach(scanExpr)
    val pruneFields =
      !whole && used.nonEmpty && used.size < a.payload.size
    val newPayload =
      if (pruneFields) used.toSeq.map(a.payload(_)) else a.payload
    // right child: keys + merge columns + surviving payload
    val rightNeeded = (a.rightKeys ++
      Seq(a.rightTime, a.tieBreak) ++ newPayload).distinct
    val pruneRight = rightNeeded.size < a.right.output.size
    // left child: what the project or filter reads plus the merge keys
    val needed = AttributeSet(
      projectList.flatMap(_.references) ++
        filterCond.toSeq.flatMap(_.references))
    val leftNeeded = a.left.output.filter(attr =>
      needed.contains(attr) ||
        a.leftKeys.exists(_.exprId == attr.exprId) ||
        a.leftTime.exprId == attr.exprId ||
        a.toleranceBound.exists(_.exprId == attr.exprId))
    val pruneLeft = leftNeeded.size < a.left.output.size
    if (!pruneFields && !pruneRight && !pruneLeft) p
    else {
      // the fresh struct attribute keeps the node's declared name and
      // nullability (asofOut is minted nullable by construction —
      // left-outer semantics — and downstream resolution is by exprId,
      // but drifting the name would desync explain output and any
      // .as-rename above the Project)
      def remap(fresh: AttributeReference, ordinalOf: Map[Int, Int])(
          e: Expression): Expression = e.transform {
        case GetStructField(ar: AttributeReference, ord, name)
            if ar.exprId == a.asofOut.exprId =>
          GetStructField(fresh, ordinalOf(ord), name)
      }
      val (asofOut, outList, outCond) = if (pruneFields) {
        val fresh = AttributeReference(a.asofOut.name,
          CreateStruct(newPayload).dataType,
          nullable = a.asofOut.nullable)()
        val ordinalOf = used.toSeq.zipWithIndex.toMap
        (fresh,
          projectList.map(e =>
            remap(fresh, ordinalOf)(e).asInstanceOf[NamedExpression]),
          filterCond.map(remap(fresh, ordinalOf)))
      } else (a.asofOut, projectList, filterCond)
      val pruned = a.copy(
        left = if (pruneLeft) Project(leftNeeded, a.left) else a.left,
        right = if (pruneRight) Project(rightNeeded, a.right) else a.right,
        payload = newPayload,
        asofOut = asofOut)
      Project(outList,
        outCond.map(Filter(_, pruned)).getOrElse(pruned))
    }
  }
}

/** Runtime installation of the as-of planner pieces into an
  * already-built session (the library-use twin of the
  * [[graft.GraftExtensions]] conf-time injection, exactly like
  * GraftFunctions.registerAll vs the extension's injectFunction).
  * Idempotent — safe to call per query. */
object GraftPlans {
  def install(s: SparkSession): Unit = synchronized {
    val em = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .experimental
    if (!em.extraStrategies.exists(_.isInstanceOf[AsofJoinStrategy]))
      em.extraStrategies = em.extraStrategies :+ new AsofJoinStrategy
    if (!em.extraOptimizations.contains(PushFilterThroughAsofJoin))
      em.extraOptimizations =
        em.extraOptimizations :+ PushFilterThroughAsofJoin
    if (!em.extraOptimizations.contains(PruneAsofPayload))
      em.extraOptimizations = em.extraOptimizations :+ PruneAsofPayload
  }
}
