package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** Whole-surface physical-plan audit: runs every SparkEntry query at
  * fixture scale and records, per query, the plan-shape numbers a
  * 100 TB reviewer asks first ([[PlanShape.counts]]) in one JSON
  * artifact, PLAN_AUDIT.json, so plan claims are auditable in bulk.
  * `Verify` reruns the audit ([[check]]) and reports every committed
  * row it no longer reproduces. Each query is EXECUTED before its plan
  * is read: under AQE the final plan (stage coalescing, broadcast
  * conversions, codegen collapse) only exists after the run.
  *
  * Usage: `runMain graft.PlanSweep [sfDir] [out]` (defaults: the
  * sf0.001 fixture directory and `PLAN_AUDIT.json`); a row already in `out`
  * stays when a rerun reproduces it, so only moved plans change the file.
  * A query that throws keeps its row on file (a failed run measures no
  * plan), is named on stderr, and makes the sweep exit non-zero.
  */
object PlanSweep {

  /** Task slots and shuffle partitions the audit runs at, whatever the
    * machine: plan shape depends on both (AQE coalescing, the scan
    * spread), so a committed row is only comparable at one width. */
  val Width = 4

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = if (args.length > 1) args(1) else AuditFile
    val spark = session()
    spark.sparkContext.setLogLevel("ERROR")
    val filed = filedRows(new java.io.File(out))
    val fresh = audit(spark, sfDir, Width, filed)
    val bad = fresh.filter(_.has("err"))
    val rows: Seq[JsonNode] = fresh.map(r =>
      if (r.has("err")) filed.getOrElse(r.get("q").asText, r) else r)
    val carts = rows.filter(r => Seq("cartesian", "bnlj").exists(f => r.path(f).asInt > 0))
      .map(_.get("q").asText)
    val head = json.createObjectNode()
      .put("what", "EXECUTED (final AQE) plan shape per query, counted by " +
        "graft.PlanShape (subqueries and cached relations included, a " +
        "reused exchange once): hash exchanges, broadcast exchanges, " +
        "cartesian/nested-loop joins, WholeStageCodegen spans, file scans " +
        "and those with NO pushed filters (legitimate under an unfilterable " +
        "projection; watch a scan under a selective predicate)")
      .put("notes", "CartesianProduct appears only in the declared " +
        "brute-force oracle twins; BroadcastNestedLoopJoin only in " +
        "deliberate non-equi joins over broadcast-size sides (fuzzy-search " +
        "OR conditions, k-sized centroid/vocab tables, scalar totals); the " +
        "single-partition exchanges of q88/q96/q98 carry only bucket totals " +
        "(PlanAuditSpec asserts these on the curated cases)")
      .put("sf", new java.io.File(sfDir).getName)
      .put("width", Width)
    val cartesianQueries = head.putArray("cartesian_queries")
    carts.foreach(cartesianQueries.add)
    // one row per line, so a moved row reads as a one-line diff
    val text = json.writeValueAsString(head).stripSuffix("}") +
      rows.map(json.writeValueAsString).mkString(",\"queries\":[\n", ",\n", "\n]}\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(out), text.getBytes("UTF-8"))
    System.err.println(s"[plansweep] ${rows.size} queries audited, " +
      s"${carts.size} with nested-loop joins (declared brute twins / " +
      s"broadcast-size non-equi sides), ${bad.size} errors")
    bad.foreach(r => System.err.println(
      s"[plansweep] ERR ${r.get("q").asText}: ${r.get("err").asText}"))
    spark.stop()
    if (bad.nonEmpty) sys.exit(1)
  }

  /** Reruns of a query whose row differs from the one on file. A few
    * final plans depend on which of two concurrent stages AQE sees
    * finish first: it picks a runtime broadcast join's build side, and
    * with it the codegen spans (q38 moves `wscg` by one in about one
    * run in six). A row on file that a rerun reproduces is
    * kept; one that no rerun reproduces has moved. */
  private val Retries = 4

  private val json = new ObjectMapper()

  private val AuditFile = "PLAN_AUDIT.json"

  /** One row per SparkEntry query, sorted by name: its
    * [[PlanShape.Counts]] after a run, or the error it raised. Runs on
    * `spark`, whose task slots must equal `width`, with an isolated
    * store root and an empty cache before each query, so a row depends
    * only on its query; `filed` holds the rows on file by query name. */
  def audit(spark: SparkSession, sfDir: String, width: Int,
      filed: Map[String, JsonNode]): Seq[ObjectNode] = {
    require(spark.sparkContext.defaultParallelism == width,
      s"the audit runs at $width task slots, the session has " +
        spark.sparkContext.defaultParallelism)
    spark.conf.set("spark.sql.shuffle.partitions", width.toString)
    // the lifecycle gates ACCEPT batches into their durable stores: keep
    // them out of the shared warehouse root
    val auditRoot = java.nio.file.Files.createTempDirectory("graft_plansweep_root")
    spark.conf.set("spark.graft.store.root", auditRoot.toString)
    try SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, q) =>
      def run(): ObjectNode = {
        graft.engine.CacheRegistry.releaseAll()
        spark.catalog.clearCache()
        val row = json.createObjectNode().put("q", name)
        try {
          val df = graft.engine.CacheRegistry.withRetained(q(spark, sfDir))
          df.collect() // not a noop write: that runs a separate execution
          val c = PlanShape.counts(df)
          row.put("exchanges", c.exchanges).put("broadcasts", c.broadcasts)
            .put("cartesian", c.cartesian).put("bnlj", c.bnlj).put("wscg", c.wscg)
            .put("scans", c.scans).put("scans_no_pushdown", c.scansNoPushdown)
        } catch {
          // getMessage is null for NPE and many wrapped errors — the
          // error path must not itself throw and abort the sweep
          case e: Throwable => row.put("err",
            Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
        }
      }
      val first = run()
      filed.get(name).filter(_ != first).fold(first) { want =>
        Iterator.continually(run()).take(Retries).find(_ == want).getOrElse(first)
      }
    } finally {
      spark.conf.unset("spark.graft.store.root")
      graft.storage.DurableStores.deleteDir(spark, auditRoot.toString)
    }
  }

  /** An audit file's rows by query name (none when there is no file). */
  private def filedRows(file: java.io.File): Map[String, JsonNode] =
    if (!file.exists) Map.empty
    else json.readTree(file).get("queries").elements().asScala
      .map(r => r.get("q").asText -> r).toMap

  private def session(): SparkSession = GraftSession.requireSqlSurface(
    GraftSession.configure(SparkSession.builder().master(s"local[$Width]"), Width)
      .getOrCreate())

  /** Verify's plan-audit step: reruns the audit on the data next to
    * `sfDir` at the scale PLAN_AUDIT.json records, and returns one line
    * per committed row the audit no longer reproduces. Starts and stops
    * its own session, so no other may be running. */
  def check(sfDir: String): Seq[String] = {
    val f = new java.io.File(AuditFile)
    if (!f.exists) return Seq(s"no ${f.getAbsolutePath} to check")
    val head = json.readTree(f)
    if (head.path("width").asInt != Width) return Seq(s"$AuditFile is not at width $Width")
    val data = new java.io.File(new java.io.File(sfDir).getAbsoluteFile.getParentFile,
      head.get("sf").asText)
    if (!data.isDirectory) return Seq(s"no $data to audit")
    val filed = filedRows(f)
    val spark = session()
    spark.sparkContext.setLogLevel("ERROR")
    val fresh = try audit(spark, data.getPath, Width, filed) finally spark.stop()
    val now = fresh.map(r => r.get("q").asText -> r).toMap
    (filed.keySet ++ now.keySet).toSeq.sorted.filter(q => filed.get(q) != now.get(q))
      .map(q => s"$q moved: on file ${filed.get(q).orNull}, now ${now.get(q).orNull}")
  }

}
