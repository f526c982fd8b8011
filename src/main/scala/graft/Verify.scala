package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
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
    val Array(sfDir, outDir) = args
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
    SparkEntry.queries.foreach { case (name, fn) =>
      runOne(spark, sfDir, outDir, name, fn)
      // frames retained during the query were released by the scope;
      // anything still live would accumulate over an 85-query run
      if (graft.engine.CacheRegistry.liveCount != 0)
        System.err.println(s"[verify] $name leaked " +
          s"${graft.engine.CacheRegistry.liveCount} retained frames")
      spark.catalog.clearCache()
    }
    writeOracleJson(outDir, SparkEntry.oracleSql)
    spark.stop()
    // PLAN_AUDIT.json must still describe the plans (its own session)
    PlanSweep.check(sfDir).foreach(m => System.err.println(s"[verify] plan audit: $m"))
  }

  /** Dump oracle SQL as the driver's oracle_sql.json. JSON string
    * escape covers backslash, quote, and ALL control chars (<0x20) —
    * a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's
    * correctness. Shared with [[VerifyOne]] so a single-query dev dump
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
