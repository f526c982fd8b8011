package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare (tools/selfcheck.py).
  *
  * Usage: `Verify <sfDir> <outDir> [query ...]`. With no query names
  * every query is dumped and the plan audit runs afterwards; with
  * names, only those queries are dumped (and only their oracle SQL
  * written) and the audit is skipped — the targeted loop for a query
  * under repair. An unknown name fails before any query runs. */
object Verify {

  /** Run one query to parquet inside a [[graft.engine.CacheRegistry
    * .withRetained]] scope: operators persist sketch tables internally
    * (Dedup, Similarity), and the scope unpersists exactly those frames
    * once the write has materialized — the long-lived Verify session
    * never accumulates cached blocks across queries. */
  def runOne(spark: SparkSession, sfDir: String, outDir: String,
      name: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
    graft.engine.CacheRegistry.withRetained {
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query ...]")
    val Array(sfDir, outDir) = args.take(2)
    val named = args.drop(2).toSet
    val unknown = named -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    def selected[V](all: Map[String, V]): Map[String, V] =
      if (named.isEmpty) all else all.filter { case (n, _) => named(n) }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus.toInt)
      // INT96 is the legacy default; micros keeps pyarrow/duckdb reading
      // our output with the same logical type the oracle emits.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    GraftSession.requireSqlSurface(spark)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    selected(SparkEntry.queries).foreach { case (name, fn) =>
      runOne(spark, sfDir, outDir, name, fn)
      // frames retained during the query were released by the scope;
      // anything still live would accumulate over an 85-query run
      if (graft.engine.CacheRegistry.liveCount != 0)
        System.err.println(s"[verify] $name leaked " +
          s"${graft.engine.CacheRegistry.liveCount} retained frames")
      spark.catalog.clearCache()
    }
    writeOracleJson(outDir, selected(SparkEntry.oracleSql))
    spark.stop()
    // PLAN_AUDIT.json must still describe the plans (its own session)
    if (named.isEmpty)
      PlanSweep.check(sfDir).foreach(m => System.err.println(s"[verify] plan audit: $m"))
  }

  /** Dump oracle SQL as the driver's oracle_sql.json. JSON string
    * escape covers backslash, quote, and ALL control chars (<0x20) —
    * a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's
    * correctness. A dump of named queries writes only their SQL, so it
    * is selfcheck-ready too. */
  def writeOracleJson(outDir: String, sql: Map[String, String]): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = sql.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
