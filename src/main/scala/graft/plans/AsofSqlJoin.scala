package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.{
  Add, Alias, Attribute, AttributeReference, Cast, CreateNamedStruct,
  CreateStruct, Descending, Divide, EqualTo, Explode, Expression,
  ExpressionInfo, Floor, GetStructField, Greatest, GreaterThan, If,
  IsNotNull, IsNull, Least, LessThan, Literal, Murmur3Hash,
  NamedExpression, Pmod, RowFrame, RowNumber, ScalarSubquery, Sequence,
  SortOrder, SpecifiedWindowFrame, Subtract, TimestampAddInterval,
  UnaryMinus, UnboundedPreceding, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Max, Min}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.plans.logical.{
  Aggregate, BinaryNode, Filter, Generate, LogicalPlan, Project, Union,
  Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{
  ArrayType, DataType, DayTimeIntervalType, DoubleType, FloatType,
  IntegerType, MapType, NumericType, StringType, StructType,
  TimestampNTZType, TimestampType}

/** The SQL surface of the native as-of operator family: a
  * table-valued function
  *
  * {{{
  * SELECT l.*, asof.price
  * FROM asof_join('facts', 'price_history',
  *                'instrument_id', 'trade_ts', 'price_ts', 'seq')
  * -- optional 7th arg: 'auto' (default), 'broadcast', 'merge',
  * --                   'split' (or 'split:N' for N time buckets, or
  * --                   'split:N:lo:hi' with caller-supplied time-axis
  * --                   bounds that skip the bounds subquery)
  * -- optional 8th arg: a staleness bound — a bare numeric literal,
  * --                   INTERVAL literal, or their string forms
  * }}}
  *
  * so a pure-SQL user reaches the exact operator the DataFrame API
  * plans ([[AsofJoinPlan]] → [[AsofJoinExec]]/[[BroadcastAsofJoinExec]])
  * — until round 13 the engine's flagship custom operator was
  * DataFrame-only and the SQL surface stopped at scalar functions.
  *
  * Mechanics: the TVF builder runs during analysis and only sees its
  * argument EXPRESSIONS (the table names as string literals), so it
  * returns an [[UnresolvedAsofJoin]] carrying [[UnresolvedRelation]]
  * children plus the column NAMES; once the analyzer has resolved the
  * children, [[ResolveAsofJoin]] lowers the node. The DataFrame door
  * ([[graft.operators.AsofJoin.asofJoinNative]]) builds the same node
  * over its inputs' analyzed plans and calls the same lowering, so the
  * two front doors cannot drift. The lowered plan then meets
  * [[PushFilterThroughAsofJoin]] and [[PruneAsofPayload]] in the
  * optimizer (the SQL spec pins pushdown + pruning firing).
  *
  * SKEW: the deployment knob `spark.graft.asof.skewSplits` routes
  * merge-planned joins (an explicit 'merge', or an 'auto' whose right
  * side's size estimate exceeds autoBroadcastJoinThreshold) through the
  * time-bucketed split construction ([[ResolveAsofJoin.lowerSplit]]),
  * so a hot key spreads over `skewSplits` tasks instead of serializing
  * on one. The explicit `'split'` path argument requests the same
  * construction unconditionally. Unless supplied, the split's bucket
  * bounds are UNCORRELATED SCALAR SUBQUERIES (min/max of the two time
  * axes), not a driver-side job: analysis stays jobless and Spark's
  * subquery machinery executes — and reuses — the tiny bounds
  * aggregate before the main stages.
  *
  * Registered by [[graft.GraftExtensions]] (injectTableFunction +
  * injectResolutionRule). Both pieces are session-BUILD-time hooks, so
  * the SQL surface needs `spark.sql.extensions=graft.GraftExtensions`
  * (which [[graft.GraftSession]] sets for every engine entry point);
  * a runtime [[GraftPlans.install]] cannot add analyzer rules to an
  * already-built session — use the DataFrame API there.
  */
object AsofSqlJoin {

  /** Argument shape: (left_table, right_table, keys_csv, left_time,
    * right_time, tie_break[, path[, max_stale]]) — path is 'auto' |
    * 'broadcast' | 'merge' | 'split'[':N'[':lo:hi']] as a string
    * literal, the SQL spelling of [[graft.operators.AsofJoin
    * .asofJoinNative]]'s `broadcast`/`numSplits`/`splitBounds`;
    * max_stale is the staleness bound (that method's `maxStale`
    * semantics) as a foldable literal in
    * the time axis's own arithmetic — `86400000000` (or '86400000000')
    * for a day of epoch micros, `INTERVAL 1 DAY` (or 'INTERVAL 1 DAY')
    * for a timestamp axis. 'split:N:lo:hi' supplies the time axis's
    * (lo, hi) as doubles — a caller that already knows the range (a
    * manifest note, a partition listing) skips the bounds subquery and
    * its extra scan of both time columns; conservative or stale bounds
    * are answer-safe (the bucket expression clamps), degenerate ones
    * (hi <= lo) fall back to the unsplit merge. */
  val usage: String = "asof_join(left_table, right_table, " +
    "'k1,k2', left_time, right_time, tie_break[, " +
    "'auto'|'broadcast'|'merge'|'split'[':N'[':lo:hi']][, max_stale]])"

  private def stringArg(e: Expression, what: String): String = e match {
    case Literal(v, StringType) if v != null => v.toString
    case other if other.foldable && other.dataType == StringType &&
        other.eval() != null => other.eval().toString
    case other => throw new IllegalArgumentException(
      s"asof_join: $what must be a string literal, got $other — $usage")
  }

  /** The TVF builder ([[graft.GraftExtensions]] injects it as
    * `asof_join`). */
  val builder: Seq[Expression] => LogicalPlan = args => {
    if (args.length < 6 || args.length > 8)
      throw new IllegalArgumentException(
        s"asof_join takes 6 to 8 arguments, got ${args.length} — $usage")
    val (broadcast, numSplits, splitBounds)
        : (Option[Boolean], Option[Int], Option[(Double, Double)]) =
      if (args.length >= 7)
        stringArg(args(6), "path") match {
          case "auto" => (None, None, None)
          case "broadcast" => (Some(true), None, None)
          case "merge" => (Some(false), None, None)
          case "split" => (Some(false), Some(8), None)
          case s if s.startsWith("split:") =>
            def malformed: Nothing = throw new IllegalArgumentException(
              s"asof_join: malformed split path '$s' — use 'split', " +
                "'split:N' with integer N >= 2, or 'split:N:lo:hi' " +
                "with lo/hi the time axis's bounds as finite doubles")
            val parts = s.stripPrefix("split:").split(":", -1).toSeq
            val n = try parts.head.toInt
              catch { case _: NumberFormatException => malformed }
            val bounds = parts.tail match {
              case Seq() => None
              case Seq(loRaw, hiRaw) =>
                val (lo, hi) = try (loRaw.toDouble, hiRaw.toDouble)
                  catch { case _: NumberFormatException => malformed }
                if (!java.lang.Double.isFinite(lo) ||
                    !java.lang.Double.isFinite(hi)) malformed
                Some((lo, hi))
              case _ => malformed
            }
            (Some(false), Some(n), bounds)
          case other => throw new IllegalArgumentException(
            s"asof_join: unknown path '$other' " +
              "(auto|broadcast|merge|split[:N[:lo:hi]])")
        }
      else (None, None, None)
    // max_stale resolves NOW (fail fast on syntax) and must fold to a
    // literal — the bound is a constant of the query, not a per-row
    // expression. Accepted shapes: a bare foldable numeric or day-time
    // INTERVAL expression (`86400000000`, `INTERVAL 1 DAY` — what a
    // SQL user writes first), or its string form (back-compat with the
    // round-14 contract).
    val maxStale = if (args.length == 8) Some(args(7) match {
      case e if e.foldable && e.dataType != StringType =>
        e.dataType match {
          case _: NumericType | _: DayTimeIntervalType =>
            Literal.create(e.eval(), e.dataType)
          case other => throw new IllegalArgumentException(
            s"asof_join: max_stale of type $other cannot bound a time " +
              "axis — use a numeric literal for a numeric axis, or a " +
              s"day-time INTERVAL literal for a timestamp axis — $usage")
        }
      case e =>
        val text = stringArg(e, "max_stale")
        // folding stays inside the guard: a foldable-but-context-needing
        // expression (e.g. a timestamp cast wanting a session timezone)
        // must surface as the contract error, not a raw internal throw
        try {
          val parsed = CatalystSqlParser.parseExpression(text)
          require(parsed.foldable,
            s"asof_join: max_stale must be a literal, got '$text'")
          Literal.create(parsed.eval(), parsed.dataType)
        } catch {
          case ex: IllegalArgumentException => throw ex
          case ex: Exception => throw new IllegalArgumentException(
            s"asof_join: cannot evaluate max_stale '$text' as a " +
              s"literal (${ex.getClass.getSimpleName}: ${ex.getMessage}) " +
              s"— $usage")
        }
    }) else None
    def rel(i: Int, what: String) = UnresolvedRelation(
      CatalystSqlParser.parseMultipartIdentifier(stringArg(args(i), what)))
    val keys = stringArg(args(2), "keys")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(keys.nonEmpty, s"asof_join: keys must be non-empty — $usage")
    UnresolvedAsofJoin(rel(0, "left_table"), rel(1, "right_table"), keys,
      stringArg(args(3), "left_time"), stringArg(args(4), "right_time"),
      stringArg(args(5), "tie_break"), broadcast, maxStale, numSplits,
      splitBounds)
  }

  /** What [[graft.GraftExtensions]] passes to injectTableFunction. */
  val description: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan) =
    (FunctionIdentifier("asof_join"),
      new ExpressionInfo(AsofSqlJoin.getClass.getCanonicalName, "asof_join"),
      builder)
}

/** The as-of arguments in plan form, field for field the SQL path
  * string: `broadcast` ('auto' = None, 'broadcast', 'merge'),
  * `numSplits` and `splitBounds` ('split:N[:lo:hi]'), `maxStale`.
  * [[AsofSqlJoin.builder]] returns it over still-unresolved relations
  * (the typed [[AsofJoinPlan]], whose attributes and output struct type
  * need the children's schemas, cannot be built yet);
  * [[graft.operators.AsofJoin.asofJoinNative]] builds it over analyzed
  * plans and lowers it at once. `resolved` is
  * pinned false so the analyzer keeps iterating until
  * [[ResolveAsofJoin]] lowers it; like Spark's own unresolved nodes it
  * exposes no output. */
case class UnresolvedAsofJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    keys: Seq[String],
    leftTime: String,
    rightTime: String,
    tieBreak: String,
    broadcast: Option[Boolean],
    maxStale: Option[Literal] = None,
    numSplits: Option[Int] = None,
    splitBounds: Option[(Double, Double)] = None) extends BinaryNode {
  override lazy val resolved: Boolean = false
  override def output: Seq[Attribute] = Nil
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): UnresolvedAsofJoin =
    copy(left = newLeft, right = newRight)
}

/** Lowers [[UnresolvedAsofJoin]] to [[AsofJoinPlan]] once both
  * children are resolved. This is the ONE place as-of arguments become
  * a plan: the SQL TVF reaches it as an analyzer resolution rule
  * (injected by [[graft.GraftExtensions]]), and
  * [[graft.operators.AsofJoin.asofJoinNative]] calls [[lower]] over its
  * inputs' analyzed plans. Both front doors therefore share one set of
  * checks (unique column resolution under the session's
  * case-sensitivity resolver, key/time type equality, float-key
  * rejection, reserved names), one skew routing ([[splitsFor]]) and one
  * split construction ([[lowerSplit]]). */
object ResolveAsofJoin extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case u: UnresolvedAsofJoin if u.childrenResolved => lower(u)
    }

  /** Column lookup honoring spark.sql.caseSensitive like the rest of
    * the analyzer: 'TS' finds a 'ts' column exactly where a plain
    * SELECT or `col("TS")` would. */
  private def attr(p: LogicalPlan, name: String, side: String): Attribute = {
    val hits = p.output.filter(a => conf.resolver(a.name, name))
    require(hits.size == 1,
      s"as-of join: column '$name' resolved to ${hits.size} attributes " +
        s"on the $side side (${p.output.map(_.name).mkString(", ")})")
    hits.head
  }

  /** Floating-point keys bypass Catalyst's NormalizeFloatingNumbers
    * (which only rewrites Join/Window/Aggregate), so -0.0 vs 0.0 and
    * NaN would hash to different shuffle partitions / probe-index
    * entries and silently diverge from the composed path — the native
    * operator rejects rather than normalizes (a float equality key is
    * a modeling bug). */
  private def hasFloat(dt: DataType): Boolean = dt match {
    case FloatType | DoubleType => true
    case s: StructType => s.fields.exists(f => hasFloat(f.dataType))
    case a: ArrayType => hasFloat(a.elementType)
    case m: MapType => hasFloat(m.keyType) || hasFloat(m.valueType)
    case _ => false
  }

  /** A fresh instance of the right side: null right times dropped (they
    * cannot satisfy rightTime <= leftTime), then every column
    * re-aliased so a self-join's sides get disjoint exprIds. */
  private def freshRight(u: UnresolvedAsofJoin): LogicalPlan = {
    val filtered = Filter(
      IsNotNull(attr(u.right, u.rightTime, "right")), u.right)
    Project(filtered.output.map(a => Alias(a, a.name)()), filtered)
  }

  /** How many time buckets the join is split over, if any. An explicit
    * `numSplits` ('split:N' from SQL) always splits; otherwise
    * `spark.graft.asof.skewSplits` >= 2 reroutes joins that would plan
    * the MERGE exec — forced merge, or auto whose right side's size
    * estimate exceeds the broadcast threshold (the same stats +
    * threshold AsofJoinStrategy plans by, read from the session conf in
    * scope). Broadcast-planned joins are exempt: the fact side is never
    * shuffled there, so key skew cannot concentrate a task. The
    * estimate is the analyzed (pre-prune) right fragment's, so a wide
    * right that would prune under the threshold errs toward the split,
    * which is answer-identical; a caller who knows better forces
    * broadcast, which the knob never overrides. Degenerate supplied
    * bounds (hi <= lo: an empty or constant axis per the caller's own
    * manifest) never split — buckets could not spread work anyway. */
  private[graft] def splitsFor(u: UnresolvedAsofJoin): Option[Int] = {
    val skewSplits =
      conf.getConfString("spark.graft.asof.skewSplits", "0").toInt
    def statsPickMerge: Boolean = {
      val threshold = conf.autoBroadcastJoinThreshold
      threshold <= 0 || freshRight(u).stats.sizeInBytes > threshold
    }
    if (u.splitBounds.exists { case (lo, hi) => !(hi > lo) }) None
    else u.numSplits.orElse(
      if (skewSplits >= 2 && (u.broadcast.contains(false) ||
          (u.broadcast.isEmpty && statsPickMerge))) Some(skewSplits)
      else None)
  }

  private[graft] def lower(u: UnresolvedAsofJoin): LogicalPlan = {
    val resolver = conf.resolver
    // the output would otherwise hold two same-named columns and die
    // downstream with a generic ambiguity instead of this contract error
    require(u.left.output.forall(a => !resolver(a.name, "asof")),
      "as-of join: the left side already has an 'asof' column")
    u.numSplits.foreach(n => require(n >= 2,
      s"as-of join: split needs N >= 2 buckets, got $n"))
    val lKeys = u.keys.map(attr(u.left, _, "left"))
    val rKeys = u.keys.map(attr(u.right, _, "right"))
    lKeys.zip(rKeys).foreach { case (l, r) =>
      require(l.dataType == r.dataType,
        s"as-of join: key type mismatch: ${l.name} ${l.dataType} vs " +
          s"${r.dataType}")
    }
    lKeys.foreach { k =>
      require(!hasFloat(k.dataType),
        s"as-of join: key '${k.name}' is ${k.dataType}: floating-point " +
          "keys are not supported (-0.0/0.0 and NaN do not normalize " +
          "across partitioning and probe hashing) — cast to an " +
          "integral, decimal, or string type")
    }
    val lT = attr(u.left, u.leftTime, "left")
    val rT = attr(u.right, u.rightTime, "right")
    require(lT.dataType == rT.dataType,
      s"as-of join: time type mismatch: ${lT.dataType} vs ${rT.dataType}")
    // the staleness bound becomes a precomputed `leftTime - maxStale`
    // left column, constructed RESOLVED for the two time-axis shapes the
    // engine supports — a numeric axis minus a numeric literal, and a
    // timestamp axis minus a day-time interval literal
    // (TimestampAddInterval of the negated interval; its session-timezone
    // field is filled by the analyzer's ResolveTimeZone)
    val boundExpr: Option[Expression] = u.maxStale.map { ms =>
      val built = (lT.dataType, ms.dataType) match {
        case (t: NumericType, s: NumericType) =>
          // NEVER narrow the literal into the axis type: a non-ANSI
          // cast would silently wrap (86400000000 over an INT axis) or
          // truncate (1.5 over a LONG axis)
          val widened = org.apache.spark.sql.catalyst.analysis
            .TypeCoercion.findTightestCommonType(t, s)
          require(widened.contains(t),
            s"as-of join: max_stale type $s does not fit the $t time " +
              "axis without narrowing — pass a literal of the axis's " +
              "own arithmetic")
          Subtract(lT, Cast(ms, t))
        case (TimestampType | TimestampNTZType, _: DayTimeIntervalType) =>
          TimestampAddInterval(lT, UnaryMinus(ms))
        case (t, s) => throw new IllegalArgumentException(
          s"as-of join: max_stale of type $s cannot bound a $t time " +
            "axis — use a numeric literal for a numeric axis, or a " +
            "day-time INTERVAL literal for a timestamp axis")
      }
      // the kernels compare the bound and the candidate's time under
      // ONE natural ordering built from the time type — e.g. a decimal
      // axis (where Subtract bumps precision and changes the UnsafeRow
      // format) fails loudly instead of comparing garbage
      require(built.dataType == rT.dataType,
        s"as-of join: staleness bound type ${built.dataType} " +
          s"(left_time - max_stale) must equal the right time type " +
          s"${rT.dataType} — the kernels compare them under one " +
          "natural ordering")
      built
    }
    require(boundExpr.isEmpty ||
      u.left.output.forall(a => !resolver(a.name, "__asof_bound")),
      "as-of join: the left side may not use the reserved name __asof_bound")
    splitsFor(u) match {
      case Some(n) =>
        // bounds priority: caller literals ('split:N:lo:hi') > the
        // catalog's recorded axis (a stored dimension's
        // graft.asof.bounds.<timeCol> table property) > the subquery
        lowerSplit(u, lKeys, lT, boundExpr, n,
          u.splitBounds.orElse(catalogBounds(u.right, u.rightTime)))
      case None =>
        val rFresh = freshRight(u)
        val rKeysF = u.keys.map(attr(rFresh, _, "right"))
        val rKeyIds = rKeysF.map(_.exprId).toSet
        node(u, u.left, rFresh, lKeys, rKeysF, lT,
          attr(rFresh, u.rightTime, "right"),
          attr(rFresh, u.tieBreak, "right"),
          rFresh.output.filterNot(a => rKeyIds.contains(a.exprId)),
          // a requested split whose bounds are degenerate still plans
          // the merge exec it asked for
          if (u.numSplits.isDefined) Some(false) else u.broadcast,
          boundExpr)
    }
  }

  /** The one [[AsofJoinPlan]] construction. The staleness bound rides
    * as a `__asof_bound` left column handed to the kernels as one
    * attribute: inside the exec it is a single row-local comparison on
    * the held candidate's time, never a read of the output struct, so
    * payload pruning above the node stays fully effective. Helper
    * columns (`__asof_bound`, the split's `__b`) are stripped by a
    * Project back to the user's left columns plus `asof`, which
    * collapses into the user's own projection in the optimizer. */
  private def node(u: UnresolvedAsofJoin, left: LogicalPlan,
      right: LogicalPlan, lKeys: Seq[Attribute], rKeys: Seq[Attribute],
      lT: Attribute, rT: Attribute, tie: Attribute, payload: Seq[Attribute],
      broadcast: Option[Boolean], boundExpr: Option[Expression])
      : LogicalPlan = {
    val boundAlias = boundExpr.map(Alias(_, "__asof_bound")())
    val leftB = boundAlias.fold(left)(b => Project(left.output :+ b, left))
    val plan = AsofJoinPlan(leftB, right, lKeys, rKeys, lT, rT, tie,
      payload, AttributeReference(
        "asof", CreateStruct(payload).dataType, nullable = true)(),
      broadcast, boundAlias.map(_.toAttribute))
    if (leftB.output == u.left.output) plan
    else Project(u.left.output :+ plan.asofOut, plan)
  }

  /** The right side's time-axis bounds from catalog TABLE PROPERTIES
    * (`graft.asof.bounds.<timeCol>` = "lo,hi" as doubles — what
    * stored-dimension builders like
    * [[graft.queries.EventsMerge.asofDimStore]] record at build and
    * accept verbs keep widened), so a conf-routed or plain-'split'
    * lowering over a REGISTERED dimension skips its bounds subquery
    * the way 'split:N:lo:hi' does — the catalog is the contract
    * surface, no analyzer → store coupling.
    *
    * Trusted through SHAPE-PRESERVING wrappers only (round 17 — the
    * r16 verdict's item 5): union / project / filter / alias / view
    * over leaf relations, i.e. exactly the base-∪-committed-deltas
    * view a deployment actually queries. Catalog leaves contribute
    * their recorded axis; the widened union (min lo, max hi) of every
    * axis found is used. Non-catalog leaves (temp-view DataFrames,
    * local relations — the delta legs) are permitted and contribute
    * nothing: rows they add past the recorded axis clamp into the
    * edge bucket, and the accept-side bounds refresh keeps the
    * recorded axis covering committed deltas anyway. Any OTHER
    * operator under the right side (a join, an aggregate) mixes time
    * axes across roles — bail to the subquery. SAFETY: both sides
    * bucket through the same monotone clamped floor built from
    * whatever (lo, hi) is used, so even stale or wrong-column bounds
    * can never change answers — only spread quality. Degenerate or
    * malformed values contribute nothing (with none found, the
    * subquery path remains). */
  private def catalogBounds(right: LogicalPlan, timeName: String)
      : Option[(Double, Double)] = {
    import org.apache.spark.sql.catalyst.plans.logical.{
      Filter, LocalRelation, Project, SubqueryAlias, Union, View}
    import org.apache.spark.sql.catalyst.catalog.CatalogTable
    def leafTables(p: LogicalPlan): Option[Seq[CatalogTable]] = p match {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        Some(lr.catalogTable.toSeq)
      case h: org.apache.spark.sql.catalyst.catalog.HiveTableRelation =>
        Some(Seq(h.tableMeta))
      case _: LocalRelation => Some(Nil)
      case u: Union =>
        val kids = u.children.map(leafTables)
        if (kids.forall(_.isDefined)) Some(kids.flatten.flatten) else None
      case p: Project => leafTables(p.child)
      case f: Filter => leafTables(f.child)
      case a: SubqueryAlias => leafTables(a.child)
      case v: View => leafTables(v.child)
      case _ => None
    }
    def recordedAxis(ct: CatalogTable): Option[(Double, Double)] =
      ct.properties.collectFirst {
        case (k, v) if k.startsWith("graft.asof.bounds.") &&
            conf.resolver(k.stripPrefix("graft.asof.bounds."), timeName) => v
      }.flatMap { v =>
        v.split(",") match {
          case Array(loRaw, hiRaw) =>
            try {
              val (lo, hi) = (loRaw.toDouble, hiRaw.toDouble)
              if (java.lang.Double.isFinite(lo) &&
                  java.lang.Double.isFinite(hi) && hi > lo)
                Some((lo, hi))
              else None
            } catch { case _: NumberFormatException => None }
          case _ => None
        }
      }
    leafTables(right).flatMap { tables =>
      val found = tables.flatMap(recordedAxis)
      if (found.isEmpty) None
      else Some((found.map(_._1).min, found.map(_._2).max))
    }
  }

  /** The split construction: the join planned over (keys, coarse time
    * bucket), so one hot entity (the classic feature-store hot user —
    * 25%+ of both sides on one key) spreads over up to `numSplits`
    * merge tasks instead of serializing on the one the merge exec's
    * ClusteredDistribution gives it (AQE's OptimizeSkewedJoin does not
    * know custom nodes). Completeness is the composed
    * [[graft.operators.AsofJoin.asofJoinSplit]]'s argument: bucket
    * assignment is a monotone floor of the time axis, equal times share
    * a bucket, and each (key, bucket)'s LAST right row (max (time,
    * tieBreak)) is replicated into every later bucket, so replicas never
    * tie with native rows and the in-bucket argmax IS the global argmax
    * at-or-before (and the staleness check on that winner equals the
    * unsplit one). Null-time left rows spread by a deterministic row
    * hash: they answer null in ANY bucket, and pinning them to one would
    * re-create the hot spot this exists to remove. Cost vs the unsplit
    * merge: one extra window pass over the right side (the per-bucket
    * last pick) and ≤ numSplits²/2 replicated rows per key.
    *
    * The bucket bounds are `suppliedBounds` as literals when known (the
    * caller's 'split:N:lo:hi' / `splitBounds`, or a catalog-recorded
    * axis), else UNCORRELATED SCALAR SUBQUERIES — a single min/max
    * aggregate over the union of both time axes — so building the plan
    * runs no job; Spark's subquery machinery executes the tiny bounds
    * aggregate before the main stages and ReuseSubquery collapses the
    * canonically-equal references into one execution. Stale or
    * conservative bounds are answer-safe (the bucket expression
    * clamps). A degenerate computed axis (empty inputs, all-null or
    * constant times) makes the bucket expression answer 0 for every
    * row — the unsplit semantics, with a few harmless carried replicas
    * into empty buckets.
    *
    * ID DISCIPLINE (load-bearing): every occurrence of the right table
    * — the bucketed union branch, the carried-replica branch, and each
    * bounds subquery — is built as its OWN alias-capped instance, and
    * every attribute this method stores in the [[AsofJoinPlan]] node
    * points only at ids owned uniquely by one branch. Re-USING one
    * resolved subtree in several tree positions hands correctness to
    * DeduplicateRelations' conflict rewrite, which re-instances
    * whichever occurrence it visits second and strands any reference
    * captured before the rewrite (observed, not hypothetical). Leaf
    * relations may repeat — that is the ordinary self-join shape the
    * analyzer handles — but nothing above a leaf is shared. */
  private def lowerSplit(
      u: UnresolvedAsofJoin,
      lKeys: Seq[Attribute], lT: Attribute,
      boundExpr: Option[Expression], numSplits: Int,
      suppliedBounds: Option[(Double, Double)]): LogicalPlan = {
    val reserved = Seq("__b", "__rn", "__t", "__bounds")
    (u.left.output ++ u.right.output).foreach { a =>
      require(!reserved.exists(r => conf.resolver(a.name, r)),
        s"as-of join: input columns may not use the reserved names " +
          s"${reserved.mkString(", ")} (found '${a.name}')")
    }
    // a FRESH instance of the right table per use site, plus resolved
    // handles into it
    def freshHandles(): (LogicalPlan, Attribute, Attribute, Seq[Attribute]) = {
      val capped = freshRight(u)
      (capped, attr(capped, u.rightTime, "right"),
        attr(capped, u.tieBreak, "right"),
        u.keys.map(attr(capped, _, "right")))
    }
    // the time axis's (lo, hi) as one single-row aggregate, built fresh
    // per bucket expression (canonically equal — ReuseSubquery collapses
    // the physical executions)
    def boundsAgg(): Aggregate = {
      val lTimes = Project(
        Seq(Alias(Cast(attr(u.left, u.leftTime, "left"), DoubleType),
          "__t")()), u.left)
      val rTimes = Project(
        Seq(Alias(Cast(attr(u.right, u.rightTime, "right"), DoubleType),
          "__t")()),
        Filter(IsNotNull(attr(u.right, u.rightTime, "right")), u.right))
      val times = Union(Seq(lTimes, rTimes))
      val tAttr = times.output.head
      Aggregate(Nil, Seq(Alias(CreateNamedStruct(Seq(
        Literal("lo"), Min(tAttr).toAggregateExpression(),
        Literal("hi"), Max(tAttr).toAggregateExpression())),
        "__bounds")()), times)
    }
    def bucketOf(t: Expression): Expression = {
      val (lo: Expression, hi: Expression) = suppliedBounds match {
        case Some((l, h)) =>
          (Literal(l, DoubleType), Literal(h, DoubleType))
        case None =>
          val sq = ScalarSubquery(boundsAgg())
          (GetStructField(sq, 0, Some("lo")),
            GetStructField(sq, 1, Some("hi")))
      }
      val d = Cast(t, DoubleType)
      val width = Divide(Subtract(hi, lo), Literal(numSplits.toDouble))
      val raw = Cast(Floor(Divide(Subtract(d, lo), width)), IntegerType)
      val clamped = Greatest(Seq(Literal(0),
        Least(Seq(Literal(numSplits - 1), raw))))
      If(GreaterThan(hi, lo), clamped, Literal(0))
    }
    // left: bucket by time; null-time rows spread by a row hash
    val lbAlias = Alias(If(IsNull(lT),
      Pmod(new Murmur3Hash(u.left.output), Literal(numSplits)),
      bucketOf(lT)), "__b")()
    val lb = Project(u.left.output :+ lbAlias, u.left)
    // union branch 1: the right table bucketed by time
    val (rFresh1, rT1, tie1, rKeys1) = freshHandles()
    val rbAlias = Alias(bucketOf(rT1), "__b")()
    val rb = Project(rFresh1.output :+ rbAlias, rFresh1)
    // union branch 2: each (key, bucket)'s LAST row (max (time,
    // tieBreak)) replicated into every later bucket — over ITS OWN
    // instance of the bucketed right table
    val (rFresh2, rT2, tie2, rKeys2) = freshHandles()
    val rb2Alias = Alias(bucketOf(rT2), "__b")()
    val rb2 = Project(rFresh2.output :+ rb2Alias, rFresh2)
    val partSpec: Seq[Expression] = rKeys2 :+ rb2Alias.toAttribute
    val orderSpec = Seq(
      SortOrder(rT2, Descending), SortOrder(tie2, Descending))
    val rnAlias = Alias(WindowExpression(RowNumber(),
      WindowSpecDefinition(partSpec, orderSpec,
        SpecifiedWindowFrame(RowFrame, UnboundedPreceding,
          org.apache.spark.sql.catalyst.expressions.CurrentRow))),
      "__rn")()
    val win = Window(Seq(rnAlias), partSpec, orderSpec, rb2)
    val lastPick = Filter(EqualTo(rnAlias.toAttribute, Literal(1)), win)
    val seqExpr = new Sequence(Add(rb2Alias.toAttribute, Literal(1)),
      Literal(numSplits - 1))
    val emptyArr = Literal.create(Seq.empty[Int],
      ArrayType(IntegerType, containsNull = false))
    val carrySeq = If(
      LessThan(rb2Alias.toAttribute, Literal(numSplits - 1)),
      seqExpr, emptyArr)
    val bNew = AttributeReference("__b", IntegerType, nullable = false)()
    val gen = Generate(Explode(carrySeq), unrequiredChildIndex = Nil,
      outer = false, qualifier = None, generatorOutput = Seq(bNew),
      child = lastPick)
    // positional alignment with rb: same column order (both caps
    // project u.right's order), fresh output aliases
    val carried = Project(
      (rFresh2.output.map(a => Alias(a, a.name)()) :+ Alias(bNew, "__b")())
        .map(e => e: NamedExpression),
      gen)
    val rAll = Union(Seq(rb, carried))
    // the union's output carries the FIRST child's exprIds (with merged
    // nullability) — point every right-side node reference at it
    def inUnion(a: Attribute): Attribute =
      rAll.output.find(_.exprId == a.exprId).getOrElse(a)
    val rKeyIds1 = rKeys1.map(_.exprId).toSet
    node(u, lb, rAll, lKeys :+ lbAlias.toAttribute,
      (rKeys1 :+ rbAlias.toAttribute).map(inUnion), lT, inUnion(rT1),
      inUnion(tie1),
      rFresh1.output.filterNot(a => rKeyIds1.contains(a.exprId)).map(inUnion),
      broadcast = Some(false), boundExpr)
  }
}
