package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Evidence main for the cross-PROCESS accept→probe→compact chain
  * recorded in STORE_DURABILITY.json. Each invocation is one JVM
  * phase against a shared `GRAFT_STORE_ROOT`:
  *
  *   accept  <dataDir> — accept a fixed evidence batch (batch id
  *                       "dur_b1": a twin pair of documents with text
  *                       that exists nowhere in the corpus, one
  *                       embedding, one nested snapshot for a new
  *                       merge entity, and one as-of state row for a
  *                       sentinel user) into the sketch, cluster-label,
  *                       cosine, merge and asof accept stores.
  *   probe   <dataDir> — WITHOUT accepting anything, probe all five
  *                       stores for the accepted rows from a cold
  *                       catalog and print one JSON line of answers —
  *                       a later JVM proving it sees an earlier JVM's
  *                       accept purely from at-rest files + markers.
  *   compact <dataDir> — fold every committed delta into the bases
  *                       (StoreAdmin compact semantics), then run the
  *                       SAME probe: its JSON must equal the
  *                       pre-compact probe's byte for byte.
  *
  * The probe texts/vectors are unique to this chain, and the probes
  * partition-prune to the chain's own batch id, so gate batches
  * accepted by an interleaved Verify run neither affect these answers
  * nor are affected by them (the same lineage isolation q121/q122/q124
  * use). */
object StoreChain {

  private val bid = "dur_b1"
  private val txt = "durability evidence twin document with a " +
    "deliberately unique phrase xyzzy plugh quux"
  private def vec: Seq[Float] =
    Array.tabulate(64)(i => math.sin(i * 7 + 3).toFloat).toSeq

  /** One nested snapshot for a NEW entity, chain-unique ids — the
    * merge family's evidence batch. Schema borrowed from a real
    * store row so the heavyweight nested children types stay exact. */
  private def mergeBatch(s: SparkSession, d: String): DataFrame =
    queries.MergeScaleQ.bucketedNested(s, d)
      .orderBy("submission_snapshot_id").limit(1)
      .withColumn("submission_snapshot_id", lit(990000001L))
      .withColumn("site_submission_id", lit("dur_entity"))
      .withColumn("title", lit("durability merge title"))
      .withColumn("scan_datetime", lit("2002-01-01").cast("timestamp"))

  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println(
        "usage: runMain graft.StoreChain <accept|probe|compact> <dataDir>")
      sys.exit(2)
    }
    val Array(phase, dataDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus.toInt)
      .getOrCreate()
    GraftSession.requireSqlSurface(spark)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    def docs: DataFrame =
      Seq((990000001L, txt), (990000002L, txt)).toDF("doc_id", "text")
    phase match {
      case "accept" =>
        graft.engine.CacheRegistry.withRetained {
          queries.LlmOps.acceptSketchBatch(spark, dataDir, bid,
            docs, "doc_id", "text", lineage = Some(Set(bid)))
          queries.LlmOps.acceptClusterRelabel(spark, dataDir, bid,
            docs, "doc_id", "text", lineage = Some(Set(bid)))
          queries.LlmOps.acceptCosineBatch(spark, dataDir, bid,
            Seq((990000001L, vec)).toDF("vec_id", "embedding"),
            lineage = Some(Set(bid)))
          queries.MergeScaleQ.acceptMergeBatch(spark, dataDir, bid,
            mergeBatch(spark, dataDir), lineage = Some(Set(bid)))
          queries.EventsMerge.acceptAsofDimBatch(spark, dataDir, bid,
            Seq((990000077L, 990000601L, 500000L, 9.9))
              .toDF("user_id", "event_id", "ts", "value"),
            lineage = Some(Set(bid)))
        }
        println(s"""{"phase":"accept","batch":"$bid"}""")
      case "probe" | "compact" =>
        if (phase == "compact") graft.engine.CacheRegistry.withRetained {
          queries.MergeScaleQ.compactMergeStore(spark, dataDir)
          queries.LlmOps.compactSketchStore(spark, dataDir)
          queries.LlmOps.compactClusterStore(spark, dataDir)
          queries.LlmOps.compactCosineStore(spark, dataDir)
          queries.EventsMerge.compactAsofDimStore(spark, dataDir)
        }
        val asofRows = graft.engine.CacheRegistry.withRetained {
          // the accepted state row answers a sentinel click through the
          // effective as-of probe; after compact the SAME answer must
          // come from the folded sorted base (the delta leg is empty)
          queries.EventsMerge.asofJoinEffective(spark, dataDir,
              Seq((990000077L, 1L, 1000000L)).toDF("user_id", "event_id", "ts"),
              lineage = Some(Set(bid)))
            .selectExpr("user_id", "asof_eff.event_id AS pid",
              "asof_eff.value AS v")
            .collect()
            .map(r => s"[${r.getLong(0)},${r.getLong(1)},${r.getDouble(2)}]")
            .sorted
        }
        val (sp, cp, cl, mg) = graft.engine.CacheRegistry.withRetained {
          import graft.operators.{Dedup, EmbeddingDedup}
          val (sh, bands) = queries.LlmOps.sketchStore(spark, dataDir)
          val (ash, abands) = queries.LlmOps.sketchAcceptStore(spark, dataDir)
          def own(df: DataFrame): DataFrame =
            df.filter(col("batch_id") === bid).drop("batch_id")
          val sketchPairs = Dedup.incrementalMinhashPairsFromStore(
            sh.unionByName(own(ash)), bands.unionByName(own(abands)),
            Seq((990000100L, txt)).toDF("doc_id", "text"),
            "doc_id", "text", threshold = 0.8)
            .collect()
            .map(r => s"[${r.getLong(0)},${r.getLong(1)},${r.getDouble(2)}]")
            .sorted
          val (cents, members) = queries.LlmOps.cosineStore(spark, dataDir)
          val cosDelta = queries.LlmOps.cosineAcceptStore(spark, dataDir)
            .filter(col("batch_id") === bid).drop("batch_id")
          val cosinePairs = EmbeddingDedup.cosinePairsFromStore(cents,
            members.unionByName(cosDelta),
            Seq((990000100L, vec)).toDF("vec_id", "embedding"),
            "vec_id", "embedding", threshold = 0.99)
            .collect()
            .map(r => s"[${r.getLong(0)},${r.getLong(1)},${r.getDouble(2)}]")
            .sorted
          val labels = queries.LlmOps.effectiveClusterLabels(spark, dataDir,
              lineage = Some(Set(bid)))
            .filter(col("node").isin(990000001L, 990000002L))
            .collect().map(r => s"[${r.getLong(0)},${r.getLong(1)}]").sorted
          val mergedRows = queries.MergeScaleQ.effectiveMerged(spark, dataDir,
              lineage = Some(Set(bid)))
            .filter(col("site_submission_id") === "dur_entity")
            .select(col("site_submission_id"), col("snapshot_count"),
              col("title"))
            .collect()
            .map(r => s"""["${r.getString(0)}",${r.getLong(1)},"${r.getString(2)}"]""")
            .sorted
          (sketchPairs, cosinePairs, labels, mergedRows)
        }
        println(s"""{"phase":"$phase",""" +
          s""""sketch_pairs":[${sp.mkString(",")}],""" +
          s""""cosine_pairs":[${cp.mkString(",")}],""" +
          s""""cluster_labels":[${cl.mkString(",")}],""" +
          s""""merged_rows":[${mg.mkString(",")}],""" +
          s""""asof_rows":[${asofRows.mkString(",")}]}""")
      // ---- two-PROCESS writer-lease contention evidence ------------
      // `leasehold` takes the sketch_accept writer lease and sleeps
      // (GRAFT_LEASE_HOLD_SECS, default 120) — a stand-in for a slow
      // accept/compact in another JVM; `leasetry` attempts a real
      // accept against the same store and prints whether it acquired
      // the lease or failed fast on the holder. durchain.sh runs them
      // OVERLAPPED (real concurrent processes, real pids), then
      // re-runs leasetry after the holder exits to show the retry
      // succeeds. GRAFT_LEASE_STALE_MS (both phases) shortens
      // spark.graft.store.leaseStaleMs so the hold can CROSS the
      // staleness horizon: the contender then stays out only because
      // the holder's heartbeat keeps renewing the lease's mtime — the
      // cross-process form of StoreSpec's heartbeat pin.
      case "leasehold" =>
        sys.env.get("GRAFT_LEASE_STALE_MS").foreach(
          spark.conf.set("spark.graft.store.leaseStaleMs", _))
        val secs = sys.env.getOrElse("GRAFT_LEASE_HOLD_SECS", "120").toInt
        graft.storage.DurableStores.withWriterLease(
            spark, dataDir, "sketch_accept") {
          println(s"""{"phase":"leasehold","held":true,"secs":$secs,""" +
            s""""pid":${ProcessHandle.current().pid()}}""")
          Console.flush()
          Thread.sleep(secs * 1000L)
        }
        println(s"""{"phase":"leasehold","released":true}""")
      case "leasetry" =>
        sys.env.get("GRAFT_LEASE_STALE_MS").foreach(
          spark.conf.set("spark.graft.store.leaseStaleMs", _))
        import spark.implicits._
        val out =
          try {
            queries.LlmOps.acceptSketchBatch(spark, dataDir, "dur_lease",
              Seq((990000200L,
                "lease contention probe document unique kwyjibo embiggen"))
                .toDF("doc_id", "text"),
              "doc_id", "text", lineage = Some(Set("dur_lease")))
            s"""{"phase":"leasetry","acquired":true,""" +
              s""""pid":${ProcessHandle.current().pid()}}"""
          } catch {
            case e: IllegalStateException
                if e.getMessage.contains("another process") =>
              val holder = e.getMessage
                .split("\\(", 2)(1).split(", lease", 2)(0)
              // the contender's OBSERVED lease age: with the holder
              // held far past leaseStaleMs, an age below staleMs is
              // the heartbeat's doing — the cross-process evidence
              val age = "age (\\d+)\\s*ms".r
                .findFirstMatchIn(e.getMessage)
                .map(_.group(1)).getOrElse("-1")
              val elapsed = "since=(\\d+)".r
                .findFirstMatchIn(holder)
                .map(m => System.currentTimeMillis() - m.group(1).toLong)
                .getOrElse(-1L)
              s"""{"phase":"leasetry","acquired":false,""" +
                s""""pid":${ProcessHandle.current().pid()},""" +
                s""""observed_lease_age_ms":$age,""" +
                s""""holder_held_for_ms":$elapsed,""" +
                s""""holder":"$holder"}"""
          }
        println(out)
      // ---- two-PROCESS commit-marker fence evidence ----------------
      // `fencehold` takes the writer lease with its store root on the
      // brokenmtime:// scheme ([[graft.storage.BrokenMtimeFileSystem]]
      // — a local FS whose setTimes always throws), so the heartbeat
      // RUNS but every renewal fails: the REAL production failure mode
      // (a connector without mtime renewal) rather than the round-15
      // kill-switch conf that silently skipped scheduling renewals.
      // The lease ages past the stale horizon, `fencetake` (a healthy
      // plain-file process on the same root) legitimately stale-takes
      // it and commits its OWN marker (the rightful writer is not
      // fenced), and the preempted holder's publish must abort FENCED
      // with no marker landing. Exit code: 0 ONLY when the fence fired
      // — a falsified run (marker landed, or the contender never
      // arrived and this process would publish under its own
      // still-valid lease) exits 1 so durchain.sh's set -e catches it
      // instead of relying on manual jvm6a.json inspection.
      case "fencehold" =>
        sys.env.get("GRAFT_LEASE_STALE_MS").foreach(
          spark.conf.set("spark.graft.store.leaseStaleMs", _))
        spark.sparkContext.hadoopConfiguration.set("fs.brokenmtime.impl",
          classOf[graft.storage.BrokenMtimeFileSystem].getName)
        val plainRoot = new java.io.File(sys.env("GRAFT_STORE_ROOT"))
          .getAbsolutePath
        spark.conf.set("spark.graft.store.root", s"brokenmtime://$plainRoot")
        val syncPath = new org.apache.hadoop.fs.Path(
          plainRoot, "_meta/fence_takeover.sync")
        val fsys = syncPath.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        var fenced = false
        graft.storage.DurableStores.withWriterLease(
            spark, dataDir, "fence_evidence") {
          println(s"""{"phase":"fencehold","held":true,""" +
            s""""renewal_broken":"brokenmtime://",""" +
            s""""pid":${ProcessHandle.current().pid()}}""")
          Console.flush()
          // wait for the contender's takeover signal (written INSIDE
          // its own held lease), then try to publish
          val deadline = System.currentTimeMillis() + 300000L
          while (!fsys.exists(syncPath) &&
              System.currentTimeMillis() < deadline)
            Thread.sleep(500)
          val contenderSeen = fsys.exists(syncPath)
          val out =
            if (!contenderSeen)
              s"""{"phase":"fencehold","fenced":false,""" +
                s""""sync_timeout":true,""" +
                s""""error":"the contender's takeover signal never """ +
                s"""arrived — nothing contested this lease"}"""
            else try {
              graft.storage.DurableStores.markBatchCommitted(
                spark, dataDir, "fence_evidence", "fence_preempted_b1")
              s"""{"phase":"fencehold","fenced":false,""" +
                s""""error":"MARKER LANDED — the fence did not fire"}"""
            } catch {
              case e: IllegalStateException
                  if e.getMessage.contains("FENCED") =>
                fenced = true
                val present = graft.storage.DurableStores
                  .committedBatches(spark, dataDir, "fence_evidence")
                  .contains("fence_preempted_b1")
                val msg = e.getMessage.replace("\\", "\\\\")
                  .replace("\"", "\\\"").takeWhile(_ != '\n')
                s"""{"phase":"fencehold","fenced":true,""" +
                  s""""marker_present":$present,""" +
                  s""""pid":${ProcessHandle.current().pid()},""" +
                  s""""error":"$msg"}"""
            }
          println(out)
        }
        if (!fenced) { spark.stop(); sys.exit(1) }
      case "fencetake" =>
        sys.env.get("GRAFT_LEASE_STALE_MS").foreach(
          spark.conf.set("spark.graft.store.leaseStaleMs", _))
        val lp = new org.apache.hadoop.fs.Path(
          graft.storage.DurableStores.leaseLocation(
            spark, dataDir, "fence_evidence"))
        val fsys = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val observedAge = System.currentTimeMillis() -
          fsys.getFileStatus(lp).getModificationTime
        graft.storage.DurableStores.withWriterLease(
            spark, dataDir, "fence_evidence") {
          // the rightful (new) holder is NOT fenced: its marker lands
          graft.storage.DurableStores.markBatchCommitted(
            spark, dataDir, "fence_evidence", "fence_takeover_b1")
          val ownMarker = graft.storage.DurableStores
            .committedBatches(spark, dataDir, "fence_evidence")
            .contains("fence_takeover_b1")
          println(s"""{"phase":"fencetake","took_over":true,""" +
            s""""observed_lease_age_ms":$observedAge,""" +
            s""""own_marker_committed":$ownMarker,""" +
            s""""pid":${ProcessHandle.current().pid()}}""")
          Console.flush()
          // signal the preempted holder and stay holding while it
          // attempts (and fails) to publish
          val syncPath = new org.apache.hadoop.fs.Path(
            sys.env("GRAFT_STORE_ROOT"), "_meta/fence_takeover.sync")
          val out = fsys.create(syncPath, true)
          out.write("taken".getBytes("UTF-8")); out.close()
          Thread.sleep(
            sys.env.getOrElse("GRAFT_FENCE_HOLD_SECS", "25").toInt * 1000L)
        }
        println(s"""{"phase":"fencetake","released":true}""")
      // ---- two-PROCESS http (CAS endpoint) lease evidence ----------
      // The jvm7 chain (r16 verdict item 4): the pluggable HTTP lease
      // backend was spec-proven in-JVM (StoreSpec's CasLeaseServer);
      // these phases drive the SAME contention + takeover + fenced-
      // publish story across REAL processes against a real endpoint
      // (tools/cas_server.py — If-None-Match/If-Match CAS, the
      // object-store conditional-request shape). `httphold` acquires
      // and publishes its lease KEY (so the orchestrator can look up
      // the token), waits; durchain runs `httptry` while renewals are
      // healthy (must fail fast on the live holder), then tells the
      // endpoint to 503 the holder's renewals — the real "holder
      // partitioned from the endpoint" failure — so the lease ages
      // out, `httptake` legitimately stale-takes it with ONE
      // conditional PUT, and the preempted holder's publish must
      // abort FENCED. httphold exits nonzero unless the fence fired
      // (set -e catches falsified runs, the jvm6 pattern).
      case "httphold" =>
        sys.env.get("GRAFT_LEASE_STALE_MS").foreach(
          spark.conf.set("spark.graft.store.leaseStaleMs", _))
        spark.conf.set("spark.graft.store.lease.backend", "http")
        spark.conf.set("spark.graft.store.lease.http.url",
          sys.env("GRAFT_LEASE_HTTP_URL"))
        val meta = new java.io.File(sys.env("GRAFT_STORE_ROOT"), "_meta")
        meta.mkdirs()
        val heldSync = new java.io.File(meta, "http_held.sync")
        val takeSync = new java.io.File(meta, "http_takeover.sync")
        var fenced = false
        graft.storage.DurableStores.withWriterLease(
            spark, dataDir, "http_evidence") {
          val key = graft.storage.DurableStores.leaseLocation(
            spark, dataDir, "http_evidence")
          println(s"""{"phase":"httphold","held":true,"backend":"http",""" +
            s""""pid":${ProcessHandle.current().pid()}}""")
          Console.flush()
          // publish the lease key so the orchestrator can read the
          // token off the endpoint and partition our renewals
          val w = new java.io.FileWriter(heldSync)
          try w.write(key) finally w.close()
          val deadline = System.currentTimeMillis() + 300000L
          while (!takeSync.exists() &&
              System.currentTimeMillis() < deadline)
            Thread.sleep(500)
          val out =
            if (!takeSync.exists())
              s"""{"phase":"httphold","fenced":false,""" +
                s""""sync_timeout":true,""" +
                s""""error":"the contender's takeover signal never """ +
                s"""arrived — nothing contested this lease"}"""
            else try {
              graft.storage.DurableStores.markBatchCommitted(
                spark, dataDir, "http_evidence", "http_preempted_b1")
              s"""{"phase":"httphold","fenced":false,""" +
                s""""error":"MARKER LANDED — the fence did not fire"}"""
            } catch {
              case e: IllegalStateException
                  if e.getMessage.contains("FENCED") =>
                fenced = true
                val present = graft.storage.DurableStores
                  .committedBatches(spark, dataDir, "http_evidence")
                  .contains("http_preempted_b1")
                val msg = e.getMessage.replace("\\", "\\\\")
                  .replace("\"", "\\\"").takeWhile(_ != '\n')
                s"""{"phase":"httphold","fenced":true,""" +
                  s""""marker_present":$present,""" +
                  s""""pid":${ProcessHandle.current().pid()},""" +
                  s""""error":"$msg"}"""
            }
          println(out)
        }
        if (!fenced) { spark.stop(); sys.exit(1) }
      case "httptry" =>
        sys.env.get("GRAFT_LEASE_STALE_MS").foreach(
          spark.conf.set("spark.graft.store.leaseStaleMs", _))
        spark.conf.set("spark.graft.store.lease.backend", "http")
        spark.conf.set("spark.graft.store.lease.http.url",
          sys.env("GRAFT_LEASE_HTTP_URL"))
        val out =
          try {
            graft.storage.DurableStores.withWriterLease(
              spark, dataDir, "http_evidence")(())
            s"""{"phase":"httptry","acquired":true,""" +
              s""""pid":${ProcessHandle.current().pid()}}"""
          } catch {
            case e: IllegalStateException
                if e.getMessage.contains("another process") =>
              // anchored regex with a graceful fallback (ADVICE r17):
              // a drift in the contention message's shape degrades the
              // JSON field instead of crashing the evidence phase with
              // an ArrayIndexOutOfBoundsException
              val holder = """\((.*?), lease """.r
                .findFirstMatchIn(e.getMessage)
                .map(_.group(1)).getOrElse("<unparsed>")
                .replace("\\", "\\\\").replace("\"", "\\\"")
              val age = "age (\\d+)\\s*ms".r
                .findFirstMatchIn(e.getMessage)
                .map(_.group(1)).getOrElse("-1")
              s"""{"phase":"httptry","acquired":false,""" +
                s""""pid":${ProcessHandle.current().pid()},""" +
                s""""observed_lease_age_ms":$age,""" +
                s""""holder":"$holder"}"""
          }
        println(out)
      case "httptake" =>
        sys.env.get("GRAFT_LEASE_STALE_MS").foreach(
          spark.conf.set("spark.graft.store.leaseStaleMs", _))
        spark.conf.set("spark.graft.store.lease.backend", "http")
        spark.conf.set("spark.graft.store.lease.http.url",
          sys.env("GRAFT_LEASE_HTTP_URL"))
        // the contender's own observation of the dead holder's lease
        // age, read through the SAME backend protocol
        val observedAge = new graft.storage.HttpLeaseBackend(
          sys.env("GRAFT_LEASE_HTTP_URL"),
          graft.storage.DurableStores.leaseLocation(
            spark, dataDir, "http_evidence"))
          .observe().map(_.ageMs).getOrElse(-1L)
        graft.storage.DurableStores.withWriterLease(
            spark, dataDir, "http_evidence") {
          // the rightful (new) holder is NOT fenced: its marker lands
          graft.storage.DurableStores.markBatchCommitted(
            spark, dataDir, "http_evidence", "http_takeover_b1")
          val ownMarker = graft.storage.DurableStores
            .committedBatches(spark, dataDir, "http_evidence")
            .contains("http_takeover_b1")
          println(s"""{"phase":"httptake","took_over":true,""" +
            s""""observed_lease_age_ms":$observedAge,""" +
            s""""own_marker_committed":$ownMarker,""" +
            s""""pid":${ProcessHandle.current().pid()}}""")
          Console.flush()
          val takeSync = new java.io.File(
            new java.io.File(sys.env("GRAFT_STORE_ROOT"), "_meta"),
            "http_takeover.sync")
          val w = new java.io.FileWriter(takeSync)
          try w.write("taken") finally w.close()
          Thread.sleep(
            sys.env.getOrElse("GRAFT_FENCE_HOLD_SECS", "25").toInt * 1000L)
        }
        println(s"""{"phase":"httptake","released":true}""")
      case other => sys.error(
        s"unknown phase '$other' " +
          "(accept|probe|compact|leasehold|leasetry|fencehold|fencetake|" +
          "httphold|httptry|httptake)")
    }
    spark.stop()
  }
}
