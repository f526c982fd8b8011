package graft

import org.apache.spark.sql.SparkSession

/** The engine's recommended Spark session configuration — one place
  * for the settings every entry point (Bench, Verify, library users)
  * needs, so they can't drift:
  *
  *  - AQE on, INCLUDING cached plans: operators persist sketch tables,
  *    and without `canChangeCachedPlanOutputPartitioning` their builds
  *    are statically planned (sort-merge joins, fixed-width shuffles —
  *    measured 3× slower on the dedup family).
  *  - shuffle partitions sized to the cores actually available rather
  *    than the 200 default (local mode; a real cluster would size to
  *    executor cores × executors, with AQE coalescing the remainder).
  *  - UTC session time zone: the reference stores UTC timestamps, and
  *    the DuckDB oracle compares rendered datetimes.
  */
object GraftSession {
  /** @param extraExtensions the deployment's OWN
    *   `spark.sql.extensions` entries, kept ahead of the engine's in
    *   the comma-separated list — configure() must never clobber a
    *   user-supplied extensions chain (Spark applies every entry in
    *   order; they compose). */
  def configure(b: SparkSession.Builder, shufflePartitions: Int,
      extraExtensions: Seq[String] = Nil): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions)
      // the engine's full SQL surface (custom expressions + the
      // asof_join table function + its resolution rule) is a
      // session-BUILD-time injection — runtime registration can add
      // functions and planner pieces (GraftFunctions.registerAll /
      // GraftPlans.install) but never analyzer rules, so every engine
      // entry point builds with the extension
      .config("spark.sql.extensions",
        (extraExtensions :+ "graft.GraftExtensions").distinct.mkString(","))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // let bucketed scans report their at-rest SORT order (off by
      // default since Spark 3.1 for listing-cost predictability, not
      // correctness — the one-file-per-bucket safety check still runs
      // per scan, so multi-file buckets simply report no order). The
      // engine's sorted stores (asof_dim) write exactly one file per
      // bucket so a merge-ordered reader skips its Sort entirely
      // (AsofJoinSpec pins the plan).
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.ui.enabled", "false")

  /** Detect the silent-reuse failure mode: `builder.getOrCreate()`
    * IGNORES every config — including `spark.sql.extensions` — when a
    * session already exists in the JVM, and the engine's SQL surface
    * (the `asof_join` table function + its resolution rule) then
    * "disappears" with only a generic "undefined function" error at
    * first use. This check turns that into a pointed failure at
    * session acquisition: call it on the session configure()'s builder
    * returned. Verifies the table-function registry directly (the one
    * piece ONLY a session-build extension can install — expressions
    * and planner strategies have runtime fallbacks). */
  def requireSqlSurface(s: SparkSession): SparkSession = {
    val installed = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.tableFunctionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("asof_join"))
    if (!installed) throw new IllegalStateException(
      "this SparkSession lacks the graft SQL surface (the asof_join " +
        "table function is not registered): builder.getOrCreate() " +
        "reused an existing session, which silently ignores " +
        "spark.sql.extensions. Stop the existing session (or build the " +
        "FIRST session in this JVM with " +
        "spark.sql.extensions=graft.GraftExtensions / " +
        "GraftSession.configure), or use the DataFrame API, whose " +
        "planner pieces install at runtime (GraftPlans.install)")
    s
  }
}
