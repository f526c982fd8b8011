package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ENSURE_REQUIREMENTS, Exchange, REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.internal.SQLConf

/** The one reader of physical plans: `PlanSweep`'s audit and every
  * plan-asserting spec walk the operator tree here instead of matching
  * rendered plan text. The walk is Spark's [[AdaptiveSparkPlanHelper]]:
  * through an adaptive plan to its current tree and through query
  * stages to their exchanges, into expression subqueries, with reused
  * exchanges and subqueries as leaves (work that runs once counts
  * once); added here, a cached relation's scan descends into the
  * relation's own plan. The tree is final only after `df` has run;
  * before that it is the plan AQE starts from. */
object PlanShape extends AdaptiveSparkPlanHelper {

  override protected def allChildren(p: SparkPlan): Seq[SparkPlan] = p match {
    case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
    case _ => super.allChildren(p)
  }

  /** Every physical node of `df`'s plan, parents before children,
    * subqueries after the plan that holds them. */
  def nodes(df: DataFrame): Seq[SparkPlan] =
    collectWithSubqueries(df.queryExecution.executedPlan) { case p => p }

  /** One line per node, as the plan's tree rendering prints it, in
    * [[nodes]] order: for assertions on expression text (table names,
    * pushed filters, join keys). */
  def render(df: DataFrame): String = {
    val maxFields = SQLConf.get.maxToStringFields
    nodes(df).map(_.verboseString(maxFields)).mkString("\n")
  }

  /** The hash-partitioned shuffles among `ns`. */
  def hashShuffles(ns: Seq[SparkPlan]): Seq[ShuffleExchangeExec] = ns.collect {
    case s: ShuffleExchangeExec if s.outputPartitioning.isInstanceOf[HashPartitioning] => s
  }

  /** A hash shuffle's keys: attributes by name, other expressions by
    * their rendering (a literal renders as its value, which is also
    * the name Spark gives a literal it groups on). Expression ids are
    * left out, so one column keeps its name across a re-alias. */
  def hashKeys(s: ShuffleExchangeExec): Set[String] = s.outputPartitioning match {
    case h: HashPartitioning => h.expressions.map(keyName).toSet
    case _ => Set.empty
  }

  private def keyName(e: Expression): String = e match {
    case a: Attribute => a.name
    case other => other.toString
  }

  /** The nearest exchanges below `p` (through query stages). */
  def feedingExchanges(p: SparkPlan): Seq[Exchange] = allChildren(p).flatMap {
    case e: Exchange => Seq(e)
    case c => feedingExchanges(c)
  }

  /** The operators compiled into `df`'s whole-stage-codegen spans (a
    * span stops at its input adapters). */
  def codegenOps(df: DataFrame): Seq[SparkPlan] = {
    def ops(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case _ => p +: p.children.flatMap(ops)
    }
    nodes(df).collect { case w: WholeStageCodegenExec => ops(w.child) }.flatten
  }

  /** The plan-shape numbers `PlanSweep` records per query. */
  final case class Counts(exchanges: Int, broadcasts: Int, cartesian: Int,
      bnlj: Int, wscg: Int, scans: Int, scansNoPushdown: Int)

  def counts(df: DataFrame): Counts = {
    val ns = nodes(df)
    val scans = ns.collect { case f: FileSourceScanExec => f }
    Counts(
      exchanges = hashShuffles(ns).size,
      broadcasts = ns.count(_.isInstanceOf[BroadcastExchangeExec]),
      cartesian = ns.count(_.isInstanceOf[CartesianProductExec]),
      bnlj = ns.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      wscg = ns.count(_.isInstanceOf[WholeStageCodegenExec]),
      scans = scans.size,
      scansNoPushdown = scans.count(_.metadata.get("PushedFilters").contains("[]")))
  }

  /** Stacked exchanges: a shuffle inserted to meet a distribution
    * (`ENSURE_REQUIREMENTS`) whose nearest exchange below is a
    * `REPARTITION_BY_NUM` hash shuffle on a subset of its keys. Rows
    * hash-clustered on a subset of the keys are already clustered on
    * all of them, so the upper exchange moves every row a second time
    * for nothing (round 18's inline merge did this to the heavy merge
    * structs, `plans/r18/q65_incremental_merge_after.txt`). One line
    * per hit. */
  def stackedExchanges(df: DataFrame): Seq[String] =
    for {
      upper <- hashShuffles(nodes(df)) if upper.shuffleOrigin == ENSURE_REQUIREMENTS
      lower <- hashShuffles(feedingExchanges(upper))
      if lower.shuffleOrigin == REPARTITION_BY_NUM && hashKeys(lower).subsetOf(hashKeys(upper))
    } yield s"${upper.simpleString(SQLConf.get.maxToStringFields)} over " +
      lower.simpleString(SQLConf.get.maxToStringFields)
}
