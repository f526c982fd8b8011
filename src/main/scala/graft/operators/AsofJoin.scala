package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.internal.SQLConf

import graft.plans.{GraftPlans, ResolveAsofJoin, UnresolvedAsofJoin}

/** As-of (temporal) join: for every left row, attach the LATEST right
  * row with rightTime <= leftTime on the same key — the canonical
  * feature-store / market-data lookup ("what was the last known state
  * when this event happened"). The reference resolves this per entity
  * in Python at read time (latest snapshot before a date); here it is
  * a whole-corpus operator.
  *
  * Spark has no built-in as-of join, and the naive formulations are
  * scale traps: an inequality theta-join explodes to O(L·R) rows per
  * key before a per-left argmax; a windowed subquery per left row
  * re-scans the right side. This implementation uses the union +
  * ordered-window formulation instead: tag right rows side=0 and left
  * rows side=1, sort within each key by (time, side, tieBreak), and
  * carry the last non-null right payload forward. ONE shuffle on the
  * key, O((L+R) log(L+R)) per partition, zero row amplification.
  *
  * 100 TB: the only shuffle is the window's hash-partition on the key
  * — the same cost class as any keyed aggregation over both inputs.
  * A skewed key (one entity holding a large share of both sides, the
  * classic feature-store hot user) serializes on a single task in
  * [[asofJoin]]; [[asofJoinSplit]] pre-splits the time axis into
  * coarse buckets and carries each bucket's last right row into every
  * later bucket, so the window partitions on (key, bucket) and the hot
  * key's work spreads over `numSplits` tasks with IDENTICAL results
  * (AsofJoinSpec proves split == unsplit on generated data, hot key
  * included).
  *
  * Determinism: right rows tied on rightTime are ordered by `tieBreak`
  * and the LAST wins (i.e. the max tieBreak), so results are stable
  * under any partitioning. A right row at exactly leftTime matches
  * (<= semantics, side 0 sorts before side 1).
  *
  * Null times: right rows with a null rightTime are EXCLUDED — "no
  * timestamp" cannot satisfy `rightTime <= leftTime`, matching SQL
  * comparison semantics (a correlated `WHERE r.t <= l.t` drops them).
  * Left rows with a null leftTime get a null `asof` payload for the
  * same reason (they sort before every timestamped right row).
  *
  * Null KEYS, by contrast, are a real group: the window's partitionBy
  * collects them, so null-key left rows match null-key right rows —
  * grouping semantics, NOT a SQL equi-join's NULL = NULL (which is
  * never true). Every implementation in this family agrees
  * (AsofJoinSpec pins 4-path parity); pre-filter null keys if SQL
  * join semantics are wanted.
  *
  * Output: every left row and column, plus an `asof` struct of the
  * right side's non-key columns (null when no prior right row exists
  * — left-outer semantics).
  */
object AsofJoin {

  /** Build the tagged union sides shared by [[asofJoin]] and
    * [[asofJoinSplit]]: left rows (side=1, null payload) and
    * timestamped right rows (side=0, struct payload). */
  private def sides(
      left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String, tieBreak: String)
      : (DataFrame, DataFrame) = {
    require(left.columns.forall(_ != "asof"),
      "left side already has an 'asof' column")
    val reserved = Set("__t", "__side", "__tie", "__payload", "__b")
    require((left.columns ++ right.columns).forall(!reserved.contains(_)),
      s"input columns may not use the reserved names ${reserved.mkString(", ")}")
    val leftCols = left.columns.filterNot(keys.contains).toSeq
    val rightPayloadCols = right.columns.filterNot(keys.contains).toSeq
    val rStruct = struct(rightPayloadCols.map(col): _*)
    val rType = right.select(rStruct.as("r")).schema("r").dataType
    val tieType = right.schema(tieBreak).dataType
    val leftSchema = left.schema

    val lSide = left.select(
      keys.map(col) ++ leftCols.map(col) ++ Seq(
        col(leftTime).as("__t"),
        lit(1).as("__side"),
        lit(null).cast(tieType).as("__tie"),
        lit(null).cast(rType).as("__payload")): _*)
    val rSide = right.filter(col(rightTime).isNotNull).select(
      keys.map(col) ++ leftCols.map(c =>
        lit(null).cast(leftSchema(c).dataType).as(c)) ++ Seq(
        col(rightTime).as("__t"),
        lit(0).as("__side"),
        col(tieBreak).as("__tie"),
        rStruct.as("__payload")): _*)
    (lSide, rSide)
  }

  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      tieBreak: String): DataFrame = {
    val (lSide, rSide) =
      sides(left, right, keys, leftTime, rightTime, tieBreak)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__t"), col("__side"), col("__tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lSide.unionByName(rSide)
      .withColumn("asof", last(col("__payload"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .drop("__t", "__side", "__tie", "__payload")
  }

  /** Skew-resistant as-of join: identical semantics to [[asofJoin]],
    * but the window partitions on (key, COARSE TIME BUCKET) instead of
    * the key alone, so one hot entity's rows spread over `numSplits`
    * tasks instead of serializing on one.
    *
    * Completeness across bucket boundaries: each bucket's LAST right
    * row (max (time, tieBreak)) is replicated into every later bucket,
    * so a left row whose latest prior right row lives in an earlier
    * bucket still sees it — specifically the replica from the nearest
    * earlier bucket with any right rows, which sorts after every other
    * carried replica (later bucket ⇒ strictly later time) and before
    * every native row of the left row's bucket (bucket assignment is a
    * monotone floor of the time axis). Replication cost is bounded by
    * numSplits²/2 rows per key — noise next to the inputs.
    *
    * The bucket boundaries come from one tiny min/max job over both
    * time columns (same cost class as the sampling pass behind Spark's
    * own range partitioning; documented driver action, one row). When
    * the time axis is degenerate (empty inputs, all-null or constant
    * times) the operator falls back to the unsplit path — buckets
    * could not spread work anyway.
    *
    * Trade-off vs [[asofJoin]]: one extra window pass over the right
    * side (the per-bucket last pick) and the replicated rows; use it
    * when a key can dominate a partition, the plain path when keys are
    * well-distributed. AsofJoinSpec asserts split == unsplit on
    * randomized data with a hot key; q84 runs it under q73's oracle.
    */
  def asofJoinSplit(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      tieBreak: String,
      numSplits: Int = 8,
      bounds: Option[(Double, Double)] = None): DataFrame = {
    require(numSplits >= 2, "numSplits must be >= 2 (use asofJoin for 1)")
    val (boundsLo, boundsHi) = bounds match {
      case Some((l, h)) => (l, h)
      case None =>
        val row = left.select(col(leftTime).cast("double").as("t"))
          .unionByName(right.select(col(rightTime).cast("double").as("t")))
          .agg(min(col("t")).as("lo"), max(col("t")).as("hi")).head()
        if (row.isNullAt(0) || row.isNullAt(1)) (Double.NaN, Double.NaN)
        else (row.getDouble(0), row.getDouble(1))
    }
    if (!(boundsHi > boundsLo))
      return asofJoin(left, right, keys, leftTime, rightTime, tieBreak)
    val lo = boundsLo
    val width = (boundsHi - lo) / numSplits
    // monotone bucket of a non-null time value (right rows with null
    // times are excluded at the source in `sides`)
    def bucketOf(t: Column): Column = {
      val d = t.cast("double")
      greatest(lit(0), least(lit(numSplits - 1),
        floor((d - lit(lo)) / lit(width)).cast("int")))
    }

    val (lSide, rSide) =
      sides(left, right, keys, leftTime, rightTime, tieBreak)
    // Null-time LEFT rows spread across buckets by a deterministic row
    // hash: null __t sorts before every non-null row in the window
    // (nulls-first ascending), so the running last-non-null payload is
    // null for them in ANY bucket, carried replicas included — the
    // unsplit semantics (null asof) hold wherever they land. Spreading
    // matters because a hot key whose left side is dominated by null
    // timestamps would otherwise re-concentrate on one (key, bucket)
    // task — the very skew this operator exists to remove.
    val lb = lSide.withColumn("__b",
      when(col("__t").isNull,
        pmod(hash(lSide.columns.map(col): _*), lit(numSplits)).cast("int"))
        .otherwise(bucketOf(col("__t"))))
    val rb = rSide.withColumn("__b", bucketOf(col("__t")))
    val byBucket = (keys :+ "__b").map(col)
    val wLast = Window.partitionBy(byBucket: _*)
      .orderBy(col("__t").desc, col("__tie").desc)
    val carried = rb
      .withColumn("__rn", row_number().over(wLast))
      .filter(col("__rn") === 1).drop("__rn")
      .withColumn("__b", explode(
        when(col("__b") < numSplits - 1,
          sequence(col("__b") + 1, lit(numSplits - 1)))
          .otherwise(array().cast("array<int>"))))
    val w = Window.partitionBy(byBucket: _*)
      .orderBy(col("__t"), col("__side"), col("__tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lb.unionByName(rb).unionByName(carried)
      .withColumn("asof", last(col("__payload"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .drop("__t", "__side", "__tie", "__payload", "__b")
  }

  /** The same semantics as [[asofJoin]] through the engine's custom
    * Catalyst operator ([[graft.plans.AsofJoinPlan]] →
    * [[graft.plans.AsofJoinExec]] / [[graft.plans.BroadcastAsofJoinExec]])
    * instead of the union+window composition. Same output schema, same
    * null/tie contract (AsofJoinSpec pins native == composed on
    * randomized data); the plan differences are the point — each input
    * is shuffled once AT ITS OWN WIDTH (no union of padded schemas) and
    * the merge streams with O(1) held state (no WindowExec partition
    * buffering), so a hot key degrades to sequential scan speed, not to
    * a spilling buffer. [[asofJoin]] remains the composition baseline
    * (q73 vs q126 bench twins).
    *
    * One lowering: the arguments become a
    * [[graft.plans.UnresolvedAsofJoin]] over the inputs' analyzed plans
    * and go through [[graft.plans.ResolveAsofJoin.lower]], the code the
    * `asof_join` SQL TVF lowers through, under the LEFT plan's own
    * session conf (the thread-local SQLConf.get can belong to another
    * session). Column resolution (the session's case sensitivity), the
    * argument checks, skew routing and the split construction are
    * therefore the SQL door's, and building the DataFrame starts no
    * Spark job (except a split streaming join's bounds job, below).
    *
    * Filters applied ABOVE the result push through the node
    * ([[graft.plans.PushFilterThroughAsofJoin]] moves left-column
    * predicates into the left scan and mirrors key predicates onto the
    * right scan), and [[graft.plans.PruneAsofPayload]] narrows the
    * payload to the fields the query reads.
    *
    * @param broadcast physical path: None (default) picks by the right
    *                side's size estimate vs autoBroadcastJoinThreshold —
    *                a dimension-sized right plans as
    *                [[graft.plans.BroadcastAsofJoinExec]], where the fact
    *                side is never shuffled OR sorted; Some(true) /
    *                Some(false) force broadcast / merge (the gate queries
    *                force each path so both execs stay oracle-checked).
    *                SQL: 'auto', 'broadcast', 'merge'.
    * @param maxStale optional STALENESS BOUND, the feature-store
    *                tolerance `rightTime >= leftTime - maxStale` ("the
    *                last known state, unless it is too old to trust"): a
    *                literal in the time column's own arithmetic, e.g.
    *                `lit(86400000000L)` for a day of epoch micros or
    *                `expr("INTERVAL 1 DAY")` for a timestamp axis. It is
    *                evaluated INSIDE the kernels as one comparison of the
    *                held candidate's own time against a precomputed
    *                `leftTime - maxStale` left column, so it never reads
    *                the `asof` struct and payload pruning is unaffected.
    *                Correct by a bounded-argmax argument: the unbounded
    *                argmax picks the LATEST candidate at-or-before
    *                leftTime, so either that winner is inside the window
    *                (then it is also the bounded argmax — every other
    *                in-window candidate is earlier), or it is older than
    *                the bound (then NO candidate is in the window:
    *                anything in-window would be later than the winner
    *                yet still <= leftTime, contradicting the argmax).
    *                Nulling stale winners therefore equals re-running the
    *                join with the bounded predicate — on the split too,
    *                whose in-bucket winner IS the global winner. q131
    *                runs it under a DuckDB bounded-window oracle.
    * @param splitBounds optional (lo, hi) of the time axis as doubles,
    *                used when the join is split: a stored dimension that
    *                already knows its range (e.g. a manifest note —
    *                [[graft.storage.DurableStores.readNote]]) passes it,
    *                and the plan carries literals instead of a bounds
    *                subquery over both time columns. Stale or
    *                conservative bounds are answer-safe (the bucket
    *                expression clamps); degenerate ones (hi <= lo) plan
    *                the unsplit merge. SQL: 'split:N:lo:hi'.
    * @param numSplits split the join over this many (>= 2) coarse time
    *                buckets, the skew answer for a hot key
    *                ([[graft.plans.ResolveAsofJoin.lowerSplit]]); plans
    *                the merge exec. Without it,
    *                `spark.graft.asof.skewSplits` >= 2 splits
    *                merge-planned joins from conf alone. SQL: 'split:N'.
    *                A split over a streaming left with no `splitBounds`
    *                takes its axis from one min/max job over the static
    *                right side when the DataFrame is built, because a
    *                bounds subquery cannot run over an unbounded stream
    *                (stream rows outside that axis clamp into the edge
    *                buckets: the spread changes, never the answers).
    */
  def asofJoinNative(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      tieBreak: String,
      broadcast: Option[Boolean] = None,
      maxStale: Option[Column] = None,
      splitBounds: Option[(Double, Double)] = None,
      numSplits: Option[Int] = None): DataFrame = {
    val s = left.sparkSession.asInstanceOf[SparkSession]
    GraftPlans.install(s)
    def underLeftConf[T](f: => T): T =
      SQLConf.withExistingConf(s.sessionState.conf)(f)
    val u = UnresolvedAsofJoin(left.queryExecution.analyzed,
      right.queryExecution.analyzed, keys, leftTime, rightTime, tieBreak,
      broadcast, maxStale.map(literalOf(s, _)), numSplits, splitBounds)
    val streamBounds =
      if (left.isStreaming && splitBounds.isEmpty &&
          underLeftConf(ResolveAsofJoin.splitsFor(u)).isDefined) {
        val t = col(rightTime).cast("double")
        val row = right.agg(min(t), max(t)).head()
        Some(if (row.isNullAt(0)) (Double.NaN, Double.NaN)
          else (row.getDouble(0), row.getDouble(1)))
      } else None
    PlanBridge.ofRows(s, underLeftConf(ResolveAsofJoin.lower(
      streamBounds.fold(u)(b => u.copy(splitBounds = Some(b))))))
  }

  /** `maxStale` folded to the literal the lowering takes: the bound is
    * a constant of the query, not a per-row expression. */
  private def literalOf(s: SparkSession, c: Column): Literal =
    s.emptyDataFrame.select(c).queryExecution.analyzed.expressions.head
      match {
        case Alias(e, _) if e.foldable => Literal.create(e.eval(), e.dataType)
        case other => throw new IllegalArgumentException(
          s"maxStale must fold to a literal, got $other")
      }
}
