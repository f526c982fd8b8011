package graft

import org.apache.spark.sql.SparkSession

/** Dev-only: write each named query's `.explain("formatted")` output to
  * `<outDir>/<query>_<suffix>.txt` — the before/after plan evidence the
  * optimization rounds commit under plans/rNN/. Uses the full engine
  * session (GraftSession.configure) so SQL-surface queries analyze, and
  * the default durable-store root so store-backed queries plan against
  * the same at-rest layout the bench measures. */
object PlanDump {

  /** Operator-level frames for plan evidence where the QUERY-level
    * explain hides the hot pipeline: the connected-components callers
    * (q62/q67/q102/q119/...) execute their pair pipeline EAGERLY (the
    * edge materialization inside connectedComponentsWithStats), so the
    * returned frame's plan shows only a LocalTableScan of driver
    * union-find labels joined to the narrow gates — the verification
    * join whose width round 18 fixes never appears in it. These
    * entries dump the pair-operator frames directly. */
  private val opPlans: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
    "op_multi_sketch_pairs" -> ((s, d) =>
      graft.operators.Dedup.multiSketchPairs(
        Tables.t(s, d, "documents"), "doc_id", "text", threshold = 0.8)),
    "op_verified_pairs_simhash" -> ((s, d) =>
      graft.operators.SimhashPairs.verifiedPairs(
        Tables.t(s, d, "documents"), "doc_id", "text",
        threshold = 0.8, chunks = 8)),
    "op_minhash_lsh_pairs" -> ((s, d) =>
      graft.operators.Dedup.multiSketchPairs(
        Tables.t(s, d, "documents"), "doc_id", "text",
        threshold = 0.8, k = 32, bands = 4)))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val outDir = args(0)
    val suffix = args(1)
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus.toInt)
      .getOrCreate()
    GraftSession.requireSqlSurface(spark)
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (q <- args.drop(2)) {
      val df = opPlans.getOrElse(q, SparkEntry.queries(q))(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${q}_$suffix.txt"),
        plan.getBytes("UTF-8"))
      graft.engine.CacheRegistry.releaseAll()
      spark.catalog.clearCache()
      System.err.println(s"[plandump] wrote $outDir/${q}_$suffix.txt")
    }
    spark.stop()
  }
}
