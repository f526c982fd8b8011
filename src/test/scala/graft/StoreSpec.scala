package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, EmbeddingDedup}

/** The at-rest index/sketch contract (VERDICT r7 "missing" #1): q91/q92
  * must answer from the PERSISTED corpus tables — the corpus text /
  * embeddings are never re-read once the store is written. The gate
  * proves answer parity with q86/q90's oracles; these specs pin the
  * plan shape (catalog tables in the scan, no corpus-side re-sketch,
  * partition-prunable member layout).
  */
class StoreSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("q91 answers from the persisted sketch tables and matches the in-cache path") {
    val s = spark
    val q91 = graft.queries.LlmOps.queries("q91_incremental_dedup_stored")(s, sf)
    q91.collect()
    val plan = PlanShape.render(q91)
    for (tbl <- Seq("graft_sketch_shingles", "graft_sketch_bands",
        "graft_sketch_chunks"))
      assert(plan.contains(tbl), s"persisted table $tbl not in plan:\n$plan")
    val stored = q91.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inCache = graft.queries.LlmOps.queries("q86_incremental_dedup")(s, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(stored === inCache)
    graft.engine.CacheRegistry.releaseAll()
  }

  test("a batch from OUTSIDE the corpus source needs no document scan at all") {
    val s = spark
    import s.implicits._
    // the store exists (built from documents.parquet); a later ingest
    // batch arrives as a fresh in-memory frame — the plan must contain
    // no parquet scan of the documents table anywhere, proving the
    // corpus text is never re-read once the sketch is at rest
    val (sh, bands, chunks) = graft.queries.LlmOps.sketchStore(s, sf)
    val corpusText = Tables.t(s, sf, "documents")
      .filter($"doc_id" % 10 =!= 0)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val batch = Seq((1000000L, corpusText.head._2), // dup of a corpus doc
      (1000001L, "a fresh never seen sentence about nothing in particular"))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalMinhashPairsFromStore(sh, bands, chunks,
      batch, "doc_id", "text", k = 32, bands = 4, threshold = 0.8)
    out.collect()
    val plan = PlanShape.render(out)
    assert(!plan.contains("documents.parquet"),
      s"corpus text re-read from parquet:\n$plan")
    val pairs = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1000000L, corpusText.head._1)))
    assert(!pairs.exists(_._1 == 1000001L))
    graft.engine.CacheRegistry.releaseAll()
  }

  test("q92 answers from the persisted cosine index; member layout is cell-prunable") {
    val s = spark
    val q92 = graft.queries.LlmOps.queries("q92_embedding_incremental_stored")(s, sf)
    q92.collect()
    val plan = PlanShape.render(q92)
    for (tbl <- Seq("graft_cosidx_cents", "graft_cosidx_members"))
      assert(plan.contains(tbl), s"persisted table $tbl not in plan:\n$plan")
    val stored = q92.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inCache = graft.queries.LlmOps.queries("q90_embedding_incremental")(s, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(stored === inCache)
    graft.engine.CacheRegistry.releaseAll()
    // the layout supports partition pruning: a single-cell probe reads
    // exactly one hive partition of the member table
    val (_, members) = graft.queries.LlmOps.cosineStore(s, sf)
    val oneCell = members.select("cell").limit(1).collect()(0).get(0)
    val pruned = members.filter(col("cell") === lit(oneCell))
    pruned.collect()
    val prunedPlan = PlanShape.render(pruned)
    assert(prunedPlan.contains("PartitionFilters") &&
      prunedPlan.contains("cell"),
      s"cell filter not a partition filter:\n$prunedPlan")
    val scans = PlanShape.nodes(pruned).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, s"no file scan found:\n$prunedPlan")
    assert(scans.head.metrics("numPartitions").value === 1L,
      "single-cell probe read more than one hive partition")
  }

  test("incremental probes push bounded candidate-key predicates into the store scans") {
    val s = spark
    import s.implicits._
    // a batch-bounded probe must not STREAM the corpus-scale sketch
    // tables: the candidate doc ids (verification) and the batch's
    // band/chunk keys (candidate generation) are collected — bounded,
    // batch-proportional — and pushed into the parquet scans as an
    // exact InSet row filter plus a range-cover pushdown, so sorted
    // row groups/pages outside the candidate set never decode. The
    // pin: every corpus-side sketch scan in the probe plan carries
    // PushedFilters on its sorted key column. (Forced past the
    // size gate — the production threshold would skip pruning on
    // this gate-scale fixture.)
    System.setProperty("graft.probe.prune", "force")
    try {
    val (sh, bands, chunks) = graft.queries.LlmOps.sketchStore(s, sf)
    val corpusText = Tables.t(s, sf, "documents")
      .filter($"doc_id" % 10 =!= 0)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val batch = Seq((1000000L, corpusText.head._2),
      (1000001L, "a fresh never seen sentence about nothing at all"))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalMinhashPairsFromStore(sh, bands, chunks,
      batch, "doc_id", "text", k = 32, bands = 4, threshold = 0.8)
    out.collect()
    val plan = PlanShape.render(out)
    for ((tbl, key) <- Seq("graft_sketch_shingles" -> "doc",
        "graft_sketch_bands" -> "band_hash",
        "graft_sketch_chunks" -> "chunk_value")) {
      val scanLine = plan.linesIterator
        .find(l => l.contains(tbl) && l.contains("PushedFilters"))
      assert(scanLine.exists(l => l.contains(s"($key,")),
        s"no candidate-key pushdown on $tbl's scan:\n$plan")
    }
    // and the probe's answer is unchanged by the pruning (the dup of
    // a corpus doc is found; the novel doc pairs with nothing)
    val found = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.contains((1000000L, corpusText.head._1)))
    assert(!found.exists(_._1 == 1000001L))
    } finally {
      System.clearProperty("graft.probe.prune")
      graft.engine.CacheRegistry.releaseAll()
    }
  }

  test("q119's near-dup stage reads the persisted sketch tables and no corpus text") {
    val s = spark
    // the connected-components step may run eagerly (driver union-find
    // short-circuit at this edge count), so the store contract is
    // pinned on the PAIRS plan — the stage the store exists to
    // amortize; the full query's decision ledger is checked after
    val (sh, bands, chunks) = graft.queries.LlmOps.sketchStore(s, sf)
    val pairs = Dedup.multiSketchPairsFromStore(sh, bands, chunks,
      threshold = 0.8)
    pairs.collect()
    val pairsPlan = PlanShape.render(pairs)
    for (tbl <- Seq("graft_sketch_shingles", "graft_sketch_bands",
        "graft_sketch_chunks"))
      assert(pairsPlan.contains(tbl),
        s"persisted table $tbl not in pairs plan:\n$pairsPlan")
    assert(!pairsPlan.contains("documents.parquet"),
      s"near-dup stage re-read corpus text:\n$pairsPlan")
    val q119 = graft.queries.LlmOps.queries("q119_curation_stored")(s, sf)
    val decisions = q119.collect().map(_.getString(1)).toSet
    assert(decisions.contains("keep"))
    graft.engine.CacheRegistry.releaseAll()
  }

  test("q120 semantic dedup touches ONLY the cosine store — no embedding scan at all") {
    val s = spark
    import graft.operators.EmbeddingDedup
    val (cents, members) = graft.queries.LlmOps.cosineStore(s, sf)
    val pairs = EmbeddingDedup.cosinePairsWithinStore(cents, members,
      threshold = 0.4)
    pairs.collect()
    val pairsPlan = PlanShape.render(pairs)
    for (tbl <- Seq("graft_cosidx_cents", "graft_cosidx_members"))
      assert(pairsPlan.contains(tbl),
        s"persisted table $tbl not in pairs plan:\n$pairsPlan")
    assert(!pairsPlan.contains("embeddings.parquet"),
      s"original embeddings re-read in pairs plan:\n$pairsPlan")
    // the full query (CC may collapse to an eager LocalTableScan of
    // labels): its lazy plan must still draw the id universe from the
    // member table, never the original embedding parquet
    val q120 = graft.queries.LlmOps.queries("q120_semantic_dedup_stored")(s, sf)
    q120.collect()
    val plan = PlanShape.render(q120)
    assert(plan.contains("graft_cosidx_members"),
      s"id universe not read from the member table:\n$plan")
    assert(!plan.contains("embeddings.parquet"),
      s"original embeddings re-read from parquet:\n$plan")
    val rows = q120.collect()
    assert(rows.nonEmpty)
    // every stored vector gets a decision; representatives are kept
    assert(rows.forall(r => r.getLong(3) >= 1L))
    assert(rows.filter(r => r.getLong(0) == r.getLong(1))
      .forall(r => r.getLong(2) == 1L))
    graft.engine.CacheRegistry.releaseAll()
  }

  test("accept path: idempotent per-batch overwrite, accumulation, probe sees accepted docs") {
    val s = spark
    import s.implicits._
    import graft.storage.DurableStores
    try {
      val b1 = Seq((900001L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
        .toDF("doc_id", "text")
      graft.queries.LlmOps.acceptSketchBatch(s, sf, "spec_b1", b1, "doc_id", "text",
        lineage = Some(Set("spec_b1", "spec_b2")))
      val n1 = graft.queries.LlmOps.sketchAcceptStore(s, sf)._1.count()
      // re-accepting the same batch rewrites its own partition only
      graft.queries.LlmOps.acceptSketchBatch(s, sf, "spec_b1", b1, "doc_id", "text",
        lineage = Some(Set("spec_b1", "spec_b2")))
      assert(graft.queries.LlmOps.sketchAcceptStore(s, sf)._1.count() === n1)
      // a distinct batch accumulates as its own partition
      val b2 = Seq((900002L, "one two three four five six seven eight nine ten"))
        .toDF("doc_id", "text")
      graft.queries.LlmOps.acceptSketchBatch(s, sf, "spec_b2", b2, "doc_id", "text",
        lineage = Some(Set("spec_b1", "spec_b2")))
      val (ash, abands, achunks) = graft.queries.LlmOps.sketchAcceptStore(s, sf)
      assert(ash.count() === n1 + 1)
      assert(ash.select("batch_id").distinct().collect().map(_.getString(0)).toSet
        === Set("spec_b1", "spec_b2"))
      // a later probe batch duplicating an ACCEPTED doc finds it through
      // base ∪ delta — the lifecycle the accept path exists for
      val (sh, bands, chunks) = graft.queries.LlmOps.sketchStore(s, sf)
      val probe = Seq((900100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
        .toDF("doc_id", "text")
      val pairs = Dedup.incrementalMinhashPairsFromStore(
        sh.unionByName(ash.drop("batch_id")),
        bands.unionByName(abands.drop("batch_id")),
        chunks.unionByName(achunks.drop("batch_id")),
        probe, "doc_id", "text", k = 32, bands = 4, threshold = 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(pairs.toSeq === Seq((900100L, 900001L, 1.0)))
      graft.engine.CacheRegistry.releaseAll()
      // the GATE query must be immune to these foreign batches: its
      // delta scan is partition-pruned to its own batch_id, so the
      // spec's accepted docs must never surface on its corpus side
      val q121 = graft.queries.LlmOps.queries("q121_sketch_accept_probe")(s, sf)
      val corpusSide = q121.collect().map(_.getLong(1)).toSet
      assert(!corpusSide.contains(900001L) && !corpusSide.contains(900002L),
        "foreign accepted batches leaked into q121's oracle-checked corpus side")
      graft.engine.CacheRegistry.releaseAll()
    } finally {
      DurableStores.drop(s, sf, "sketch_accept")
      graft.engine.CacheRegistry.releaseAll()
    }
  }

  test("cosine accept path: idempotent overwrite; probe finds the accepted vector") {
    val s = spark
    import s.implicits._
    import graft.operators.EmbeddingDedup
    import graft.storage.DurableStores
    try {
      val v = Array.tabulate(64)(i => math.sin(i * 3 + 1).toFloat).toSeq
      val b1 = Seq((900001L, v)).toDF("vec_id", "embedding")
      graft.queries.LlmOps.acceptCosineBatch(s, sf, "spec_b1", b1,
        lineage = Some(Set("spec_b1")))
      val n1 = graft.queries.LlmOps.cosineAcceptStore(s, sf).count()
      graft.queries.LlmOps.acceptCosineBatch(s, sf, "spec_b1", b1,
        lineage = Some(Set("spec_b1")))
      val delta = graft.queries.LlmOps.cosineAcceptStore(s, sf)
      assert(delta.count() === n1)
      val (cents, members) = graft.queries.LlmOps.cosineStore(s, sf)
      val probe = Seq((900100L, v)).toDF("vec_id", "embedding")
      val pairs = EmbeddingDedup.cosinePairsFromStore(cents,
        members.unionByName(delta.drop("batch_id")),
        probe, "vec_id", "embedding", threshold = 0.99)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(pairs.toSeq === Seq((900100L, 900001L, 1.0)))
      graft.engine.CacheRegistry.releaseAll()
    } finally {
      DurableStores.drop(s, sf, "cosine_accept")
      graft.engine.CacheRegistry.releaseAll()
    }
  }

  test("cluster relabel write-back: delta-sized store, idempotent replay, effective labels = full CC") {
    val s = spark
    import graft.storage.DurableStores
    try {
      val labels1 = graft.queries.LlmOps
        .queries("q124_cluster_accept_probe")(s, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      graft.engine.CacheRegistry.releaseAll()
      // TWO-BATCH COMPOUNDING (the sequence q124 itself carried
      // through round 12, kept here per its scaladoc): batch 2
      // (doc_id % 20 = 10) relabels against the UPDATED labels
      // (base ⊕ batch 1's delta) and the effective labeling over both
      // deltas must equal the one-shot clustering of the WHOLE table
      // (q62) — bridge merges across both batches included
      import s.implicits._
      val docs = graft.Tables.t(s, sf, "documents")
      val own2 = Some(Set("b1", "b2"))
      graft.queries.LlmOps.acceptSketchBatch(s, sf, "b2",
        docs.filter($"doc_id" % 20 === 10), "doc_id", "text", lineage = own2)
      graft.queries.LlmOps.acceptClusterRelabel(s, sf, "b2",
        docs.filter($"doc_id" % 20 === 10), "doc_id", "text", lineage = own2)
      val compounded = graft.queries.LlmOps
        .effectiveClusterLabels(s, sf, lineage = own2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val full = graft.queries.LlmOps.queries("q62_dedup_clusters")(s, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(compounded === full)
      graft.engine.CacheRegistry.releaseAll()
      // the persisted deltas are label-DELTAS, not full relabels: far
      // fewer rows than the effective labeling, only batches b1/b2
      val acc = graft.queries.LlmOps.clusterAcceptStore(s, sf)
      val accBatches = acc.select("batch_id").distinct()
        .collect().map(_.getString(0)).toSet
      assert(accBatches.subsetOf(Set("b1", "b2")))
      val accRows = acc.count()
      assert(accRows > 0 && accRows < full.size,
        s"accept store holds $accRows rows vs ${full.size} labels — " +
          "deltas should be batch-adjacency-sized, not corpus-sized")
      // replaying the gate reproduces identical store state and
      // answers (log-replay contract; b2's presence is invisible to
      // the gate's lineage)
      val labels2 = graft.queries.LlmOps
        .queries("q124_cluster_accept_probe")(s, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(labels2 === labels1)
      assert(graft.queries.LlmOps.clusterAcceptStore(s, sf).count() === accRows)
      graft.engine.CacheRegistry.releaseAll()
      // a FOREIGN batch accepted into the shared delta store (ids
      // sorting before AND after the gate's own) must not leak into
      // the gate's lineage-scoped label universe
      import s.implicits._
      // distinct ids per foreign batch: the cross-delta id guard
      // (correctly) rejects the same doc id under two batch ids
      for ((foreign, base) <- Seq(("a_foreign", 920001L),
          ("zz_foreign", 920003L))) {
        val fdocs = Seq(
          (base, "an island document shared with nobody else at all"),
          (base + 1, "an island document shared with nobody else at all"))
          .toDF("doc_id", "text")
        graft.queries.LlmOps.acceptSketchBatch(s, sf, foreign,
          fdocs, "doc_id", "text", lineage = Some(Set(foreign)))
        graft.queries.LlmOps.acceptClusterRelabel(s, sf, foreign,
          fdocs, "doc_id", "text", lineage = Some(Set(foreign)))
        graft.engine.CacheRegistry.releaseAll()
      }
      val labels3 = graft.queries.LlmOps
        .queries("q124_cluster_accept_probe")(s, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(labels3 === labels1,
        "foreign accepted batches leaked into q124's label universe")
      graft.engine.CacheRegistry.releaseAll()
    } finally {
      DurableStores.drop(s, sf, "cluster_accept")
      DurableStores.drop(s, sf, "sketch_accept")
      graft.engine.CacheRegistry.releaseAll()
    }
  }

  test("accepts enforce the lexicographic batch-id contract; replay stays legal") {
    val s = spark
    import s.implicits._
    import graft.storage.DurableStores
    try {
      val b1 = Seq((910001L, "monotone contract doc one two three four five"))
        .toDF("doc_id", "text")
      val b2 = Seq((910002L, "monotone contract doc six seven eight nine ten"))
        .toDF("doc_id", "text")
      val lin = Some(Set("mono_b1", "mono_b2", "mono_b3"))
      graft.queries.LlmOps.acceptSketchBatch(
        s, sf, "mono_b2", b2, "doc_id", "text", lineage = lin)
      // a NEW id sorting before an accepted one fails fast — an
      // out-of-order id would silently win/lose every latest-batch-wins
      // override instead of erroring
      val ex = intercept[IllegalArgumentException] {
        graft.queries.LlmOps.acceptSketchBatch(
          s, sf, "mono_b1", b1, "doc_id", "text", lineage = lin)
      }
      assert(ex.getMessage.contains("lexicographically monotone"),
        s"unexpected error: ${ex.getMessage}")
      // replaying the EXISTING id is the legal crash-healing /
      // checkpoint-replay path
      graft.queries.LlmOps.acceptSketchBatch(
        s, sf, "mono_b2", b2, "doc_id", "text", lineage = lin)
      // and a fresh LATER id accepts normally
      graft.queries.LlmOps.acceptSketchBatch(
        s, sf, "mono_b3", b1, "doc_id", "text", lineage = lin)
      assert(DurableStores.committedBatches(s, sf, "sketch_accept")
        .intersect(Set("mono_b2", "mono_b3")) === Set("mono_b2", "mono_b3"))
      // an id from an UNRELATED lineage is not constrained by this one
      graft.queries.LlmOps.acceptSketchBatch(
        s, sf, "aa_other_lineage", b2
          .select(($"doc_id" + 10).as("doc_id"), $"text"),
        "doc_id", "text", lineage = Some(Set("aa_other_lineage")))
      graft.engine.CacheRegistry.releaseAll()
    } finally {
      DurableStores.drop(s, sf, "sketch_accept")
      graft.engine.CacheRegistry.releaseAll()
    }
  }

  test("writer lease: a second process fails fast; stale leases are taken over") {
    val s = spark
    import s.implicits._
    import graft.storage.DurableStores
    import org.apache.hadoop.fs.Path
    try {
      val b = Seq((920001L, "writer lease contention doc one two three"))
        .toDF("doc_id", "text")
      // plant a FOREIGN process's lease file (what a concurrent accept
      // or compact from another JVM looks like on the shared root) —
      // the verb must fail fast with the holder's identity, not
      // interleave writes
      val lp = new Path(DurableStores.leaseLocation(s, sf, "sketch_accept"))
      val fs = lp.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.mkdirs(lp.getParent)
      val out = fs.create(lp, false)
      out.write("pid=99999 host=other-host since=0".getBytes("UTF-8"))
      out.close()
      val ex = intercept[IllegalStateException] {
        graft.queries.LlmOps.acceptSketchBatch(s, sf, "lease_b1", b,
          "doc_id", "text", lineage = Some(Set("lease_b1")))
      }
      assert(ex.getMessage.contains("another process") &&
        ex.getMessage.contains("pid=99999"), ex.getMessage)
      // nothing was written under the contended lease
      assert(!DurableStores.committedBatches(s, sf, "sketch_accept")
        .contains("lease_b1"))
      // age the lease past the stale threshold (the holder died):
      // the next writer takes it over and the verb completes
      fs.setTimes(lp, System.currentTimeMillis() - 3600L * 1000L, -1)
      val prevStale = s.conf.getOption("spark.graft.store.leaseStaleMs")
      s.conf.set("spark.graft.store.leaseStaleMs", "60000")
      try {
        graft.queries.LlmOps.acceptSketchBatch(s, sf, "lease_b1", b,
          "doc_id", "text", lineage = Some(Set("lease_b1")))
        assert(DurableStores.committedBatches(s, sf, "sketch_accept")
          .contains("lease_b1"))
        // and the lease was released on the way out
        assert(!fs.exists(lp), "lease should be released after the verb")
      } finally prevStale match {
        case Some(v) => s.conf.set("spark.graft.store.leaseStaleMs", v)
        case None => s.conf.unset("spark.graft.store.leaseStaleMs")
      }
      // same-process nesting shares the lease: compact (which holds
      // the lease itself) runs fine right after an accept
      assert(graft.queries.LlmOps.compactSketchStore(s, sf))
      graft.engine.CacheRegistry.releaseAll()
    } finally {
      DurableStores.drop(s, sf, "sketch_accept")
      graft.engine.CacheRegistry.releaseAll()
    }
  }

  test("writer lease: concurrent in-JVM threads all fail fast on a live foreign lease, which survives intact") {
    // the round-13 race: thread B incremented the holder count while
    // thread A was still acquiring the file, so B ran its verb in the
    // unprotected window — and when A's acquisition failed on a live
    // foreign holder, B (last holder out) DELETED the foreign
    // process's lease. Acquisition is now atomic with registration
    // under the per-key monitor, and release only deletes a lease this
    // JVM created.
    val s = spark
    import graft.storage.DurableStores
    import org.apache.hadoop.fs.Path
    val lp = new Path(DurableStores.leaseLocation(s, sf, "lease_race_spec"))
    val fs = lp.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(lp.getParent)
    val foreign = "pid=88888 host=foreign-host since=0"
    val out = fs.create(lp, false)
    out.write(foreign.getBytes("UTF-8"))
    out.close()
    try {
      val ran = new java.util.concurrent.atomic.AtomicInteger(0)
      val failures = new java.util.concurrent.atomic.AtomicInteger(0)
      val threads = (1 to 4).map(_ => new Thread(() =>
        try DurableStores.withWriterLease(s, sf, "lease_race_spec") {
          ran.incrementAndGet(); ()
        } catch { case _: IllegalStateException => failures.incrementAndGet() }))
      threads.foreach(_.start())
      threads.foreach(_.join(30000))
      assert(ran.get() === 0,
        "no verb body may run while a foreign process holds the lease")
      assert(failures.get() === 4, "every contending thread must fail fast")
      // the FOREIGN lease was not deleted or rewritten by our failures
      assert(fs.exists(lp), "foreign lease must survive our failed attempts")
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        fs.open(lp), "UTF-8"))
      val content = try in.readLine() finally in.close()
      assert(content === foreign, "foreign lease content must be untouched")
    } finally fs.delete(lp, false)
  }

  test("writer lease: the heartbeat keeps a long verb's lease fresh past leaseStaleMs") {
    val s = spark
    import graft.storage.DurableStores
    import org.apache.hadoop.fs.Path
    val lp = new Path(DurableStores.leaseLocation(s, sf, "lease_hb_spec"))
    val fs = lp.getFileSystem(s.sparkContext.hadoopConfiguration)
    val prevStale = s.conf.getOption("spark.graft.store.leaseStaleMs")
    // staleMs chosen so the heartbeat (every staleMs/3 = 400 ms) has
    // wide slack against scheduler starvation on a loaded shared
    // machine: the beat would have to stall >800 ms for the assertion
    // to flake, and the verb sleeps long enough for several beats
    s.conf.set("spark.graft.store.leaseStaleMs", "1200")
    try {
      DurableStores.withWriterLease(s, sf, "lease_hb_spec") {
        // stall well past staleMs: without the heartbeat the lease
        // would age out and a contender's takeover would double-grant;
        // with it, the mtime keeps advancing and a contender observes
        // a FRESH lease and fails fast
        Thread.sleep(3000)
        val age = System.currentTimeMillis() -
          fs.getFileStatus(lp).getModificationTime
        assert(age < 1200,
          s"heartbeat must keep the held lease fresh (age $age ms)")
        // a foreign contender arriving NOW sees a live lease
        val ex = intercept[IllegalStateException] {
          DurableStores.takeOverStaleLease(s, fs, lp, "lease_hb_spec",
            observedMtime = 0L) // what a stale observation from before the beat looks like
        }
        assert(ex.getMessage.contains("changed during the stale takeover"))
      }
      assert(!fs.exists(lp), "lease released after the verb")
    } finally prevStale match {
      case Some(v) => s.conf.set("spark.graft.store.leaseStaleMs", v)
      case None => s.conf.unset("spark.graft.store.leaseStaleMs")
    }
  }

  test("stale takeover: conditional delete and verified create guard the double-grant") {
    val s = spark
    import graft.storage.DurableStores
    import org.apache.hadoop.fs.Path
    val lp = new Path(DurableStores.leaseLocation(s, sf, "lease_to_spec"))
    val fs = lp.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(lp.getParent)
    def plant(content: String, mtime: Long): Long = {
      fs.delete(lp, false)
      val out = fs.create(lp, false)
      out.write(content.getBytes("UTF-8"))
      out.close()
      fs.setTimes(lp, mtime, -1)
      fs.getFileStatus(lp).getModificationTime
    }
    try {
      // 1. honest takeover of a genuinely dead holder: observed mtime
      //    unchanged → delete + create + verify succeeds, we hold it
      val dead = System.currentTimeMillis() - 3600000L
      val observed = plant("pid=7 host=dead since=0", dead)
      DurableStores.takeOverStaleLease(s, fs, lp, "lease_to_spec", observed)
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        fs.open(lp), "UTF-8"))
      val content = try in.readLine() finally in.close()
      assert(content.contains(s"pid=${ProcessHandle.current().pid()}"),
        s"takeover must leave OUR token in the lease, got: $content")
      fs.delete(lp, false)
      // 2. the double-grant scenario: between OUR stale observation and
      //    our delete, a racing process completed ITS takeover (fresh
      //    mtime, its token). The conditional delete must refuse —
      //    deleting here is exactly the second-holder bug — and the
      //    racer's lease survives.
      val staleObserved = plant("pid=7 host=dead since=0", dead)
      plant("pid=9999 host=racer since=1", System.currentTimeMillis())
      val ex = intercept[IllegalStateException] {
        DurableStores.takeOverStaleLease(s, fs, lp, "lease_to_spec",
          staleObserved)
      }
      assert(ex.getMessage.contains("changed during the stale takeover"))
      val in2 = new java.io.BufferedReader(new java.io.InputStreamReader(
        fs.open(lp), "UTF-8"))
      val racer = try in2.readLine() finally in2.close()
      assert(racer.contains("pid=9999"),
        "the racing winner's lease must survive our refused takeover")
    } finally fs.delete(lp, false)
  }

  test("commit-marker fence: a verb whose lease was replaced mid-verb aborts before publishing") {
    // the round-14 residual: after a legitimate stale takeover the
    // PREEMPTED verb kept writing — both holders' rows landed and the
    // preempted one's batch still became visible when its marker wrote.
    // Markers gate read-side visibility, so the fence re-verifies the
    // held token immediately before every marker write: the preempted
    // verb now aborts loudly and its writes stay invisible orphans.
    val s = spark
    import graft.storage.DurableStores
    import org.apache.hadoop.fs.Path
    val lp = new Path(DurableStores.leaseLocation(s, sf, "lease_fence_spec"))
    val fs = lp.getFileSystem(s.sparkContext.hadoopConfiguration)
    try {
      val usurper = "pid=4242 host=usurper since=1 nonce=u"
      val ex = intercept[IllegalStateException] {
        DurableStores.withWriterLease(s, sf, "lease_fence_spec") {
          // simulate the takeover landing mid-verb: the holder's lease
          // file is replaced by a contender's
          fs.delete(lp, false)
          val out = fs.create(lp, false)
          out.write(usurper.getBytes("UTF-8"))
          out.close()
          DurableStores.markBatchCommitted(s, sf, "lease_fence_spec",
            "fence_b1")
        }
      }
      assert(ex.getMessage.contains("FENCED"), ex.getMessage)
      assert(!DurableStores.committedBatches(s, sf, "lease_fence_spec")
        .contains("fence_b1"),
        "the fenced verb's marker must never appear")
      // the release path is token-verified too: the usurper's live
      // lease survives the preempted verb's exit
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        fs.open(lp), "UTF-8"))
      val content = try in.readLine() finally in.close()
      assert(content === usurper,
        "release must not delete the new holder's lease")
      // the ledger write is fenced by the same check
      val ex2 = intercept[IllegalStateException] {
        DurableStores.withWriterLease(s, sf, "lease_fence_spec") {
          // acquisition failed? no — the usurper file is fresh, so this
          // acquire throws on the live foreign holder first
          ()
        }
      }
      assert(ex2.getMessage.contains("another process"), ex2.getMessage)
    } finally fs.delete(lp, false)
  }

  test("heartbeat renewal verifies the token: a foreign lease is never freshened") {
    // ADVICE r14: a tick racing the release-time delete could setTimes
    // a lease file just re-created by a NEW foreign holder, artificially
    // freshening the foreign lease and delaying a later legitimate
    // stale takeover by up to one stale horizon. The tick now reads the
    // token first and refuses to touch a file it does not own.
    val s = spark
    import graft.storage.DurableStores
    import org.apache.hadoop.fs.Path
    val lp = new Path(DurableStores.leaseLocation(s, sf, "lease_hbtok_spec"))
    val fs = lp.getFileSystem(s.sparkContext.hadoopConfiguration)
    val prevStale = s.conf.getOption("spark.graft.store.leaseStaleMs")
    s.conf.set("spark.graft.store.leaseStaleMs", "900") // ticks every 300 ms
    try {
      DurableStores.withWriterLease(s, sf, "lease_hbtok_spec") {
        // a foreign holder replaces the lease mid-verb, with an mtime
        // pinned WELL in the past — if any tick setTimes this file, the
        // mtime jumps to "now" and the assertion below catches it
        fs.delete(lp, false)
        val out = fs.create(lp, false)
        out.write("pid=31337 host=foreign since=2 nonce=f".getBytes("UTF-8"))
        out.close()
        val pinned = System.currentTimeMillis() - 60000L
        fs.setTimes(lp, pinned, -1)
        Thread.sleep(1200) // several tick periods
        val age = System.currentTimeMillis() -
          fs.getFileStatus(lp).getModificationTime
        assert(age > 30000L,
          s"a heartbeat tick freshened the FOREIGN lease (age $age ms)")
        // and the loss is now known: the fence aborts the next publish
        val ex = intercept[IllegalStateException] {
          DurableStores.markBatchCommitted(s, sf, "lease_hbtok_spec",
            "hbtok_b1")
        }
        assert(ex.getMessage.contains("FENCED"), ex.getMessage)
      }
    } finally {
      fs.delete(lp, false)
      prevStale match {
        case Some(v) => s.conf.set("spark.graft.store.leaseStaleMs", v)
        case None => s.conf.unset("spark.graft.store.leaseStaleMs")
      }
    }
  }

  test("writer lease refuses a filesystem without atomic create-new unless explicitly allowed") {
    // local/HDFS create-new is atomic; S3A is documented best-effort.
    // A user pointing the store root at S3A must get a loud contract
    // statement, not a silently weaker lock.
    val s = spark
    import graft.storage.DurableStores
    import org.apache.hadoop.fs.Path
    class FakeS3Fs extends org.apache.hadoop.fs.RawLocalFileSystem {
      override def getScheme: String = "s3a"
    }
    val fake = new FakeS3Fs
    val lp = new Path("/tmp/graft_lease_scheme_spec.lease")
    val ex = intercept[IllegalStateException] {
      DurableStores.assertAtomicLeaseFs(s, fake, lp)
    }
    assert(ex.getMessage.contains("atomic create-new") &&
      ex.getMessage.contains("allowNonAtomicCreate"), ex.getMessage)
    // the refusal names the REAL alternative: the conditional-write
    // HTTP lease backend (round 16), not just the advisory opt-out
    assert(ex.getMessage.contains("spark.graft.store.lease.backend=http"),
      ex.getMessage)
    // the explicit opt-in demotes the stop to a once-per-scheme warning
    s.conf.set("spark.graft.store.lease.allowNonAtomicCreate", "true")
    try DurableStores.assertAtomicLeaseFs(s, fake, lp)
    finally s.conf.unset("spark.graft.store.lease.allowNonAtomicCreate")
    // a local lease path passes with no conf at all
    val real = lp.getFileSystem(s.sparkContext.hadoopConfiguration)
    DurableStores.assertAtomicLeaseFs(s, real, lp)
  }

  /** An in-JVM conditional-write endpoint implementing the
    * [[graft.storage.HttpLeaseBackend]] protocol — `If-None-Match: *`
    * create, `If-Match: <etag>` replace/delete — with a synchronized
    * CAS store, i.e. exactly the primitives an object store's
    * conditional requests give a deployment. */
  private final class CasLeaseServer {
    final case class Entry(body: String, etag: String, mtimeMs: Long)
    private var entry: Option[Entry] = None
    private var n = 0
    private def newEtag(): String = { n += 1; s"e$n" }
    def get(): Option[Entry] = synchronized(entry)
    /** Test hooks: seed/replace/age the lease out-of-band (the "other
      * process"). */
    def force(body: String, mtimeMs: Long): Unit = synchronized {
      entry = Some(Entry(body, newEtag(), mtimeMs))
    }
    def clear(): Unit = synchronized { entry = None }
    /** Fault injection: the next `n` requests answer 503 (a transient
      * endpoint fault — the flaky-server renewal case). */
    private var failRemaining = 0
    def failNext(n: Int): Unit = synchronized { failRemaining = n }
    /** Protocol-conformance injection: serve 200s WITHOUT the named
      * header — the non-conforming endpoint [[HttpLeaseBackend]] must
      * refuse to treat as fresh/versioned. */
    @volatile var omitMtime = false
    @volatile var omitEtag = false
    val server: com.sun.net.httpserver.HttpServer =
      com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/lease", { ex =>
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      def respond(code: Int, text: String, e: Option[Entry]): Unit = {
        e.foreach { en =>
          if (!omitEtag) ex.getResponseHeaders.set("ETag", en.etag)
          if (!omitMtime)
            ex.getResponseHeaders.set("X-Lease-Mtime-Ms", en.mtimeMs.toString)
        }
        val bytes = text.getBytes("UTF-8")
        ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
        if (bytes.nonEmpty) {
          val out = ex.getResponseBody
          try out.write(bytes) finally out.close()
        }
        ex.close()
      }
      def header(k: String): Option[String] =
        Option(ex.getRequestHeaders.getFirst(k))
      synchronized {
        if (failRemaining > 0) {
          failRemaining -= 1
          respond(503, "injected transient fault", None)
        } else
        (ex.getRequestMethod, header("If-None-Match"), header("If-Match")) match {
          case ("GET", _, _) => entry match {
            case Some(e) => respond(200, e.body, Some(e))
            case None => respond(404, "", None)
          }
          case ("PUT", Some("*"), _) => entry match {
            case Some(_) => respond(412, "", None)
            case None =>
              entry = Some(Entry(body, newEtag(), System.currentTimeMillis()))
              respond(201, "", entry)
          }
          case ("PUT", _, Some(tag)) => entry match {
            case Some(e) if e.etag == tag =>
              entry = Some(Entry(body, newEtag(), System.currentTimeMillis()))
              respond(200, "", entry)
            case _ => respond(412, "", None)
          }
          case ("DELETE", _, Some(tag)) => entry match {
            case Some(e) if e.etag == tag => entry = None; respond(204, "", None)
            case _ => respond(412, "", None)
          }
          case _ => respond(400, "unconditional writes are not served", None)
        }
      }
    })
    server.start()
    def url: String =
      s"http://127.0.0.1:${server.getAddress.getPort}/lease"
    def stop(): Unit = server.stop(0)
  }

  test("http lease backend: conditional-write acquire, contention, takeover, and fence") {
    // VERDICT r15 item 3: object-store deployments get a REAL lease —
    // every step of the protocol is a genuine compare-and-swap on the
    // endpoint, not a narrowed-window file dance. The mock server
    // serves exactly the If-None-Match / If-Match primitives.
    val s = spark
    import graft.storage.DurableStores
    val srv = new CasLeaseServer
    val prevStale = s.conf.getOption("spark.graft.store.leaseStaleMs")
    try {
      s.conf.set("spark.graft.store.lease.backend", "http")
      s.conf.set("spark.graft.store.lease.http.url", srv.url)
      // 1. acquire lands this process's token on the endpoint; release
      //    removes it via token-verified conditional DELETE
      DurableStores.withWriterLease(s, sf, "http_lease_spec") {
        val held = srv.get()
        assert(held.exists(_.body.contains(
          s"pid=${ProcessHandle.current().pid()}")),
          s"the lease must live on the endpoint, got $held")
      }
      assert(srv.get().isEmpty, "release must conditional-DELETE the lease")
      // 2. a live foreign holder fails fast with its identity
      srv.force("pid=4242 host=foreign since=1 nonce=f",
        System.currentTimeMillis())
      val ex = intercept[IllegalStateException] {
        DurableStores.withWriterLease(s, sf, "http_lease_spec")(())
      }
      assert(ex.getMessage.contains("another process") &&
        ex.getMessage.contains("pid=4242"), ex.getMessage)
      assert(srv.get().exists(_.body.contains("pid=4242")),
        "a failed acquisition must not disturb the foreign lease")
      // 3. a stale foreign lease is taken over with ONE CAS (If-Match
      //    PUT on the stale observation), then released normally
      s.conf.set("spark.graft.store.leaseStaleMs", "500")
      srv.force("pid=4242 host=dead since=1 nonce=d",
        System.currentTimeMillis() - 60000L)
      DurableStores.withWriterLease(s, sf, "http_lease_spec") {
        assert(srv.get().exists(_.body.contains(
          s"pid=${ProcessHandle.current().pid()}")),
          "takeover must install this process's token")
      }
      assert(srv.get().isEmpty)
      // 4. the fence: a takeover landing MID-VERB aborts the publish
      //    and the release leaves the new holder's lease intact
      s.conf.set("spark.graft.store.leaseStaleMs", "60000")
      val usurper = "pid=777 host=usurper since=2 nonce=u"
      val ex2 = intercept[IllegalStateException] {
        DurableStores.withWriterLease(s, sf, "http_lease_spec") {
          srv.force(usurper, System.currentTimeMillis())
          DurableStores.markBatchCommitted(s, sf, "http_lease_spec",
            "http_fence_b1")
        }
      }
      assert(ex2.getMessage.contains("FENCED"), ex2.getMessage)
      assert(!DurableStores.committedBatches(s, sf, "http_lease_spec")
        .contains("http_fence_b1"),
        "the fenced verb's marker must never appear")
      assert(srv.get().exists(_.body == usurper),
        "release must not delete the new holder's lease")
    } finally {
      s.conf.unset("spark.graft.store.lease.backend")
      s.conf.unset("spark.graft.store.lease.http.url")
      prevStale match {
        case Some(v) => s.conf.set("spark.graft.store.leaseStaleMs", v)
        case None => s.conf.unset("spark.graft.store.leaseStaleMs")
      }
      srv.stop()
    }
  }

  test("http lease renewals retry with backoff in-tick: multi-call blips never fence, a sustained outage still does") {
    // VERDICT r17 item 4: the r16 single immediate retry absorbed one
    // dropped call; a correlated TWO-call blip per tick still produced
    // Failed ticks and could fence a healthy holder. With bounded
    // backoff+jitter inside the tick budget, an endpoint dropping two
    // consecutive calls per tick must never produce a Failed tick,
    // while a sustained outage exhausts the budget and keeps failing —
    // and a foreign token stays definitive (never retried into a false
    // Renewed).
    import graft.storage.{HttpLeaseBackend, RenewOutcome}
    val srv = new CasLeaseServer
    try {
      val be = new HttpLeaseBackend(srv.url, "retry_spec",
        connectTimeoutMs = 500, readTimeoutMs = 1000,
        renewRetryBudgetMs = 3000)
      assert(be.tryCreate("tok_mine"))
      // transient: the tick's first GET eats the injected 503; a
      // retry completes GET+PUT and the tick reports Renewed
      srv.failNext(1)
      assert(be.renew("tok_mine") == RenewOutcome.Renewed)
      // two consecutive dropped calls per tick (the r17 advisor's
      // correlated-blip case): attempts 1 and 2 each eat a 503,
      // attempt 3 renews — the tick must still report Renewed
      srv.failNext(2)
      assert(be.renew("tok_mine") == RenewOutcome.Renewed)
      // sustained outage: every attempt fails until the tick budget is
      // exhausted, the tick reports Failed (three such ticks arm the
      // fence exactly as before)
      srv.failNext(1000)
      assert(be.renew("tok_mine").isInstanceOf[RenewOutcome.Failed])
      srv.failNext(0)
      // foreign is definitive: no retry may launder it into Renewed
      srv.force("tok_foreign", System.currentTimeMillis())
      assert(be.renew("tok_mine") == RenewOutcome.Foreign("tok_foreign"))
      // retries are bounded by the tick budget, never open-ended: a
      // persistently failing endpoint (here: lease absent, every
      // attempt a fast 404) returns Failed within budget + one
      // attempt, so a tick can never outgrow its renewal period and
      // queue other leases on the shared heartbeat pool (the hung-
      // endpoint variant is stricter still: the fit check sees the
      // timeout-bounded attempt cost and refuses any retry at all —
      // the ADVICE r17 floor-dominated regime)
      srv.clear() // token absent: every renewOnce fails fast on 404
      srv.failNext(0)
      val t0 = System.nanoTime()
      assert(be.renew("tok_mine").isInstanceOf[RenewOutcome.Failed])
      val tookMs = (System.nanoTime() - t0) / 1000000L
      assert(tookMs < 3000 + 1500,
        s"tick must stay inside budget + one attempt, took $tookMs ms")
    } finally srv.stop()
  }

  test("http lease 200s without freshness or ETag are protocol errors, not fresh leases") {
    // ADVICE r16: synthesizing ageMs=0 for an endpoint that reports no
    // freshness makes a dead holder's lease immortal, and an empty
    // ETag turns takeover into If-Match: "" which can never succeed —
    // the store wedges with a misleading "age 0 ms" error. The backend
    // must name the missing header instead.
    import graft.storage.{HttpLeaseBackend, RenewOutcome}
    val srv = new CasLeaseServer
    try {
      val be = new HttpLeaseBackend(srv.url, "proto_spec",
        connectTimeoutMs = 500, readTimeoutMs = 1000)
      srv.force("tok_dead", System.currentTimeMillis() - 3600000L)
      srv.omitMtime = true
      val e1 = intercept[IllegalStateException](be.observe())
      assert(e1.getMessage.contains("X-Lease-Mtime-Ms"), e1.getMessage)
      srv.omitMtime = false
      srv.omitEtag = true
      val e2 = intercept[IllegalStateException](be.observe())
      assert(e2.getMessage.contains("ETag"), e2.getMessage)
      // renewal against the ETag-less endpoint reports Failed (naming
      // the header), never a silent unconditional write
      be.renew("tok_dead") match {
        case RenewOutcome.Failed(why) => assert(why.contains("ETag"), why)
        case other => fail(s"expected Failed, got $other")
      }
      // and an acquisition that must observe the held lease fails
      // loudly instead of reporting a perpetually-fresh holder
      val s = spark
      s.conf.set("spark.graft.store.lease.backend", "http")
      s.conf.set("spark.graft.store.lease.http.url", srv.url)
      try {
        val e3 = intercept[IllegalStateException] {
          graft.storage.DurableStores.withWriterLease(
            s, sf, "proto_err_spec")(())
        }
        assert(e3.getMessage.contains("ETag") ||
          e3.getMessage.contains("X-Lease-Mtime-Ms"), e3.getMessage)
      } finally {
        s.conf.unset("spark.graft.store.lease.backend")
        s.conf.unset("spark.graft.store.lease.http.url")
      }
    } finally srv.stop()
  }

  test("a broken-renewal filesystem (setTimes throws) loses the lease and the fence fires") {
    // the cross-process jvm6 evidence's in-JVM twin, WITHOUT any test
    // hook in production code (the r15 disableHeartbeatForTesting conf
    // is deleted): the store root rides brokenmtime://, the heartbeat
    // runs but every renewal fails loudly, the lease ages, a contender
    // takes it over, and the preempted verb's publish aborts FENCED.
    val s = spark
    import graft.storage.DurableStores
    import org.apache.hadoop.fs.Path
    s.sparkContext.hadoopConfiguration.set("fs.brokenmtime.impl",
      classOf[graft.storage.BrokenMtimeFileSystem].getName)
    val plainRoot = java.nio.file.Files
      .createTempDirectory("graft_broken_root").toString
    val prevRoot = s.conf.getOption("spark.graft.store.root")
    val prevStale = s.conf.getOption("spark.graft.store.leaseStaleMs")
    s.conf.set("spark.graft.store.root", s"brokenmtime://$plainRoot")
    s.conf.set("spark.graft.store.leaseStaleMs", "600") // ticks every 200ms
    try {
      val lp = new Path(DurableStores.leaseLocation(s, sf, "broken_hb_spec"))
      val plainLp = new Path("file://" +
        lp.toUri.getPath) // the contender's healthy view of the same file
      val pfs = plainLp.getFileSystem(s.sparkContext.hadoopConfiguration)
      val ex = intercept[IllegalStateException] {
        DurableStores.withWriterLease(s, sf, "broken_hb_spec") {
          // wait past the stale horizon: renewals are all failing, so
          // the lease REALLY ages (no kill switch involved)
          Thread.sleep(1000)
          val age = System.currentTimeMillis() -
            pfs.getFileStatus(plainLp).getModificationTime
          assert(age > 600L,
            s"broken setTimes must leave the lease aging (age $age ms)")
          // the contender's legitimate stale takeover (healthy FS view)
          DurableStores.takeOverStaleLease(s, pfs, plainLp,
            "broken_hb_spec", pfs.getFileStatus(plainLp).getModificationTime)
          Thread.sleep(500) // let a heartbeat tick read the foreign token
          DurableStores.markBatchCommitted(s, sf, "broken_hb_spec",
            "broken_b1")
        }
      }
      assert(ex.getMessage.contains("FENCED"), ex.getMessage)
      assert(!DurableStores.committedBatches(s, sf, "broken_hb_spec")
        .contains("broken_b1"))
    } finally {
      prevRoot match {
        case Some(v) => s.conf.set("spark.graft.store.root", v)
        case None => s.conf.unset("spark.graft.store.root")
      }
      prevStale match {
        case Some(v) => s.conf.set("spark.graft.store.leaseStaleMs", v)
        case None => s.conf.unset("spark.graft.store.leaseStaleMs")
      }
      DurableStores.resetVerifiedForTest()
      val root = new java.io.File(plainRoot)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(root)
    }
  }

  test("asof dim store records its time axis at build; a split-routed probe reuses it unchanged") {
    val s = spark
    import s.implicits._
    import graft.storage.DurableStores
    def canon(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
      .sortBy(r => (r._1, r._2)).toSeq
    val q128 = graft.queries.EventsMerge.queries("q128_asof_join_stored")
    // a store built before the note existed serves fine without it
    // (readers fall back to their own bounds job) — force one fresh
    // build so this spec exercises the note-writing path
    if (graft.queries.EventsMerge.asofDimTimeBounds(s, sf).isEmpty)
      DurableStores.drop(s, sf, "asof_dim")
    val baseRows = canon(q128(s, sf))
    // the build recorded the dimension's true time axis as a manifest
    // sidecar note (data-derived, so NOT in the params contract)
    val bounds = graft.queries.EventsMerge.asofDimTimeBounds(s, sf)
    assert(bounds.isDefined, "asof_dim build must record ts_bounds")
    val truth = s.table(
      graft.storage.Storage.tableNameFor("graft_asof_dim", sf))
      .agg(min($"ts".cast("double")), max($"ts".cast("double"))).head()
    assert(bounds.get === ((truth.getDouble(0), truth.getDouble(1))),
      "the note must be the dim's actual min/max")
    // a deployment that routes the stored probe through the skew split
    // hands the note to the split as its bounds (no per-query min/max
    // job — AsofJoinSpec pins the zero-job property at operator level);
    // answers must not move
    val prev = s.conf.getOption("spark.graft.asof.skewSplits")
    s.conf.set("spark.graft.asof.skewSplits", "4")
    try assert(canon(q128(s, sf)) === baseRows,
      "split-routed stored probe must equal the unrouted plan")
    finally prev match {
      case Some(v) => s.conf.set("spark.graft.asof.skewSplits", v)
      case None => s.conf.unset("spark.graft.asof.skewSplits")
    }
    // notes overwrite atomically and die with the store
    DurableStores.writeNote(s, sf, "asof_dim", "spec_probe", "v1")
    DurableStores.writeNote(s, sf, "asof_dim", "spec_probe", "v2")
    assert(DurableStores.readNote(s, sf, "asof_dim", "spec_probe")
      === Some("v2"))
    DurableStores.drop(s, sf, "asof_dim")
    assert(DurableStores.readNote(s, sf, "asof_dim", "ts_bounds") === None,
      "drop must remove sidecar notes")
    assert(DurableStores.readNote(s, sf, "asof_dim", "spec_probe") === None)
    // and a rebuild restores both the store and its bounds note
    assert(canon(q128(s, sf)) === baseRows)
    assert(graft.queries.EventsMerge.asofDimTimeBounds(s, sf) === bounds)
    graft.engine.CacheRegistry.releaseAll()
  }

  test("a COMMITTED batch's replay is a no-op; a marker-less partial accept heals") {
    // round 16 (headline-tail trim with a contract argument): the
    // commit marker writes LAST and certifies every delta table holds
    // the batch, and batch ids identify immutable content (the id
    // guards forbid a row id under two batch ids) — so replaying a
    // committed batch may skip the sketch + partition rewrites
    // entirely. The path that must do work — healing a crashed accept
    // that never reached its marker — still runs in full.
    val s = spark
    import s.implicits._
    import graft.storage.{DurableStores, Storage}
    import org.apache.hadoop.fs.Path
    try {
      val b = Seq(
        (910051L, "replay shortcircuit evidence document unique veeblefetzer"))
        .toDF("doc_id", "text")
      val own = Some(Set("rp_b1"))
      graft.queries.LlmOps.acceptSketchBatch(s, sf, "rp_b1", b,
        "doc_id", "text", lineage = own)
      def partitionMtimes(): Map[String, Long] = {
        val root = DurableStores.root(s)
        Seq("graft_sketchacc_shingles", "graft_sketchacc_bands",
          "graft_sketchacc_chunks").flatMap { t =>
          val p = new Path(
            s"$root/${Storage.tableNameFor(t, sf)}/batch_id=rp_b1")
          val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
          f.listStatus(p).toSeq.filterNot(_.getPath.getName.startsWith("_"))
            .map(x => s"$t/${x.getPath.getName}" -> x.getModificationTime)
        }.toMap
      }
      val committedAt = partitionMtimes()
      assert(committedAt.nonEmpty)
      // the replay: not one partition file is rewritten
      graft.queries.LlmOps.acceptSketchBatch(s, sf, "rp_b1", b,
        "doc_id", "text", lineage = own)
      assert(partitionMtimes() === committedAt,
        "a committed batch's replay must not rewrite partitions")
      // crash simulation: a second batch's rows land in ONE table with
      // no marker (the mid-accept crash window) — the accept must NOT
      // short-circuit, it heals all three tables and then commits
      val b2 = Seq(
        (910052L, "healing path evidence document unique hobgoblinry"))
        .toDF("doc_id", "text")
      val own2 = Some(Set("rp_b1", "rp_b2"))
      val sk = Dedup.corpusSketch(b2, "doc_id", "text")
      DurableStores.writeBatchPartition(s,
        Storage.tableNameFor("graft_sketchacc_shingles", sf), "rp_b2",
        sk.select(col("doc"), col("sh")))
      assert(!DurableStores.committedBatches(s, sf, "sketch_accept")
        .contains("rp_b2"))
      graft.queries.LlmOps.acceptSketchBatch(s, sf, "rp_b2", b2,
        "doc_id", "text", lineage = own2)
      assert(DurableStores.committedBatches(s, sf, "sketch_accept")
        .contains("rp_b2"), "the healing re-accept must commit")
      val (_, abands, _) = graft.queries.LlmOps.sketchAcceptStore(s, sf)
      assert(abands.filter(col("batch_id") === "rp_b2").count() > 0L,
        "the healing re-accept must fill the tables the crash missed")
      graft.engine.CacheRegistry.releaseAll()
    } finally {
      DurableStores.drop(s, sf, "sketch_accept")
      graft.engine.CacheRegistry.releaseAll()
    }
  }

  test("a partial (uncommitted) accept is invisible until its commit marker exists") {
    val s = spark
    import s.implicits._
    import graft.storage.DurableStores
    try {
      // simulate a crash mid-accept: one delta table gets the batch's
      // rows, the others don't, and no marker is written
      graft.queries.LlmOps.sketchAcceptStore(s, sf)
      val tbl = graft.storage.Storage.tableNameFor("graft_sketchacc_shingles", sf)
      val sk = Dedup.corpusSketch(
        Seq((900009L, "orphan partial batch row")).toDF("doc_id", "text"),
        "doc_id", "text")
      DurableStores.writeBatchPartition(s, tbl, "crashed",
        sk.select(col("doc"), col("sh")))
      assert(DurableStores.presentBatchPartitions(s, tbl).contains("crashed"))
      // committed view: the crashed batch is left out
      assert(graft.queries.LlmOps.sketchAcceptStore(s, sf)._1
        .filter(col("batch_id") === "crashed").count() === 0L)
      // once marked committed (what a healing re-accept ends with),
      // the batch becomes visible
      DurableStores.markBatchCommitted(s, sf, "sketch_accept", "crashed")
      assert(graft.queries.LlmOps.sketchAcceptStore(s, sf)._1
        .filter(col("batch_id") === "crashed").count() === 1L)
      graft.engine.CacheRegistry.releaseAll()
    } finally {
      DurableStores.drop(s, sf, "sketch_accept")
      graft.engine.CacheRegistry.releaseAll()
    }
  }

  test("sketch compaction: probes unchanged, deltas truncated, folded doc lives in the base") {
    val s = spark
    import s.implicits._
    import graft.storage.DurableStores
    try {
      val text = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
      graft.queries.LlmOps.acceptSketchBatch(s, sf, "cpt_b1",
        Seq((910001L, text)).toDF("doc_id", "text"), "doc_id", "text",
        lineage = Some(Set("cpt_b1")))
      def probePairs(): Set[(Long, Long, Double)] = {
        val (sh, bands, chunks) = graft.queries.LlmOps.sketchStore(s, sf)
        val (ash, abands, achunks) = graft.queries.LlmOps.sketchAcceptStore(s, sf)
        val out = Dedup.incrementalMinhashPairsFromStore(
          sh.unionByName(ash.drop("batch_id")),
          bands.unionByName(abands.drop("batch_id")),
          chunks.unionByName(achunks.drop("batch_id")),
          Seq((910100L, text)).toDF("doc_id", "text"),
          "doc_id", "text", k = 32, bands = 4, threshold = 0.8)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        graft.engine.CacheRegistry.releaseAll()
        out
      }
      val before = probePairs()
      assert(before.contains((910100L, 910001L, 1.0)))
      assert(graft.queries.LlmOps.compactSketchStore(s, sf))
      // deltas truncated; the marker RETIRES into the folded ledger
      // (the replay no-op keys off the ledger) so committedBatches —
      // and every isin predicate built from it — stays bounded by
      // unfolded traffic, not store lifetime
      assert(graft.queries.LlmOps.sketchAcceptStore(s, sf)._1.count() === 0L)
      assert(DurableStores.foldedBatches(s, sf, "sketch_accept")
        .contains("cpt_b1"))
      assert(!DurableStores.committedBatches(s, sf, "sketch_accept")
        .contains("cpt_b1"))
      // identical probe answers from the base alone
      assert(probePairs() === before)
      val (sh2, _, _) = graft.queries.LlmOps.sketchStore(s, sf)
      assert(sh2.filter(col("doc") === 910001L).count() === 1L)
      // idempotent: nothing left to fold
      assert(!graft.queries.LlmOps.compactSketchStore(s, sf))
      // REPLAYING the folded batch under its own id (a streaming
      // checkpoint replay racing the compact) is a NO-OP: the delta
      // stays empty, probes unchanged — the stream does not wedge
      graft.queries.LlmOps.acceptSketchBatch(s, sf, "cpt_b1",
        Seq((910001L, text)).toDF("doc_id", "text"), "doc_id", "text",
        lineage = Some(Set("cpt_b1")))
      assert(graft.queries.LlmOps.sketchAcceptStore(s, sf)._1.count() === 0L)
      assert(probePairs() === before)
      // a NEW batch id re-presenting the folded doc id is a real
      // collision — it would double every shingle/band/chunk row in
      // probes' base ∪ delta union — and fails fast
      val ex = intercept[IllegalArgumentException] {
        graft.queries.LlmOps.acceptSketchBatch(s, sf, "cpt_b1_again",
          Seq((910001L, text)).toDF("doc_id", "text"), "doc_id", "text",
          lineage = Some(Set("cpt_b1", "cpt_b1_again")))
      }
      assert(ex.getMessage.contains("910001"))
      assert(ex.getMessage.contains("StoreAdmin refresh"))
      // a FRESH id is still accepted normally...
      graft.queries.LlmOps.acceptSketchBatch(s, sf, "cpt_b2",
        Seq((910002L, text)).toDF("doc_id", "text"), "doc_id", "text",
        lineage = Some(Set("cpt_b2")))
      // ...and the same id under ANOTHER batch id is caught by the
      // cross-delta guard (not just the base guard)
      val ex2 = intercept[IllegalArgumentException] {
        graft.queries.LlmOps.acceptSketchBatch(s, sf, "cpt_b3",
          Seq((910002L, text)).toDF("doc_id", "text"), "doc_id", "text",
          lineage = Some(Set("cpt_b2", "cpt_b3")))
      }
      assert(ex2.getMessage.contains("910002"))
      // a second compact folds the batch accepted since the first
      // one; the ledger accumulates, markers stay bounded (empty)
      assert(graft.queries.LlmOps.compactSketchStore(s, sf))
      assert(DurableStores.foldedBatches(s, sf, "sketch_accept")
        .intersect(Set("cpt_b1", "cpt_b2")) === Set("cpt_b1", "cpt_b2"))
      assert(!DurableStores.committedBatches(s, sf, "sketch_accept")
        .contains("cpt_b2"))
      assert(graft.queries.LlmOps.sketchStore(s, sf)._1
        .filter(col("doc") === 910002L).count() === 1L)
      graft.engine.CacheRegistry.releaseAll()
    } finally {
      // restore the pristine source-built base for the other specs/gates
      DurableStores.drop(s, sf, "sketch_accept")
      DurableStores.drop(s, sf, "sketch")
      graft.engine.CacheRegistry.releaseAll()
    }
  }

  test("cosine compaction: accepted member folded into the base, probe answers unchanged") {
    val s = spark
    import s.implicits._
    import graft.operators.EmbeddingDedup
    import graft.storage.DurableStores
    try {
      val v = Array.tabulate(64)(i => math.cos(i * 5 + 2).toFloat).toSeq
      graft.queries.LlmOps.acceptCosineBatch(s, sf, "cpt_b1",
        Seq((910001L, v)).toDF("vec_id", "embedding"),
        lineage = Some(Set("cpt_b1")))
      def probePairs(): Set[(Long, Long, Double)] = {
        val (cents, members) = graft.queries.LlmOps.cosineStore(s, sf)
        val delta = graft.queries.LlmOps.cosineAcceptStore(s, sf)
        val out = EmbeddingDedup.cosinePairsFromStore(cents,
          members.unionByName(delta.drop("batch_id")),
          Seq((910100L, v)).toDF("vec_id", "embedding"),
          "vec_id", "embedding", threshold = 0.99)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        graft.engine.CacheRegistry.releaseAll()
        out
      }
      val before = probePairs()
      assert(before.contains((910100L, 910001L, 1.0)))
      assert(graft.queries.LlmOps.compactCosineStore(s, sf))
      assert(graft.queries.LlmOps.cosineAcceptStore(s, sf).count() === 0L)
      assert(probePairs() === before)
      // folded vec id is a base member now — re-accept fails fast
      // instead of silently doubling its member rows under probes
      val ex = intercept[IllegalArgumentException] {
        graft.queries.LlmOps.acceptCosineBatch(s, sf, "cpt_b1_again",
          Seq((910001L, v)).toDF("vec_id", "embedding"),
          lineage = Some(Set("cpt_b1", "cpt_b1_again")))
      }
      assert(ex.getMessage.contains("910001"))
    } finally {
      DurableStores.drop(s, sf, "cosine_accept")
      DurableStores.drop(s, sf, "cosine_index")
      graft.engine.CacheRegistry.releaseAll()
    }
  }

  test("cluster compaction: the effective labeling becomes the base; answers unchanged") {
    val s = spark
    import graft.storage.DurableStores
    try {
      // two-batch accept sequence populates the label deltas
      graft.queries.LlmOps.queries("q124_cluster_accept_probe")(s, sf)
        .write.format("noop").mode("overwrite").save()
      graft.engine.CacheRegistry.releaseAll()
      val eff = graft.queries.LlmOps.effectiveClusterLabels(s, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(graft.queries.LlmOps.compactClusterStore(s, sf))
      assert(graft.queries.LlmOps.clusterAcceptStore(s, sf).count() === 0L)
      // the base alone now answers with the folded labeling
      val baseOnly = graft.queries.LlmOps.clusterStore(s, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(baseOnly === eff)
      assert(graft.queries.LlmOps.effectiveClusterLabels(s, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet === eff)
      graft.engine.CacheRegistry.releaseAll()
    } finally {
      DurableStores.drop(s, sf, "cluster_accept")
      DurableStores.drop(s, sf, "clusters")
      DurableStores.drop(s, sf, "sketch_accept")
      graft.engine.CacheRegistry.releaseAll()
    }
  }

  test("merge accept lifecycle: write-back persists, replay idempotent, compact folds from the snapshot log") {
    val s = spark
    import graft.storage.DurableStores
    import graft.queries.MergeScaleQ
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    // isolated store root: this test drives the TWO-BATCH compounding
    // sequence (mb1 then mb2 — kept here when q124/q125 trimmed to one
    // accept round), whose snapshot ids overlap q125's single mball
    // batch — the cross-batch id guard correctly refuses both
    // derivations in one store
    val root = java.nio.file.Files.createTempDirectory("graft_mrg_root")
    val prevRoot = s.conf.getOption("spark.graft.store.root")
    s.conf.set("spark.graft.store.root", root.toString)
    try {
      val full = rows(MergeScaleQ.queries("q55_merge_scale")(s, sf))
      // the two-batch accept sequence lands on the full-merge answer:
      // mb2 re-merges its touched entities over base history PLUS
      // mb1's accepted snapshots — the compounding property
      val eff1 = rows(MergeScaleQ.mergeAcceptProbeTwoBatch(s, sf))
      assert(eff1 === full)
      // deltas are batch-scoped (only mb1/mb2 partitions) and the
      // merged delta holds touched entities, not the corpus
      val (snapsD, mergedD) = MergeScaleQ.mergeAcceptStore(s, sf)
      assert(mergedD.select("batch_id").distinct()
        .collect().map(_.getString(0)).toSet === Set("mb1", "mb2"))
      assert(mergedD.count() < full.size)
      // replaying the whole sequence reproduces identical answers
      assert(rows(MergeScaleQ.mergeAcceptProbeTwoBatch(s, sf)) === full)
      // compact folds the merged deltas into the base: the merged
      // delta table empties, the snapshot log SURVIVES (it is the
      // permanent ingest log the id guard and later folds need), and
      // base-only answers are unchanged
      assert(MergeScaleQ.compactMergeStore(s, sf))
      assert(MergeScaleQ.mergeAcceptStore(s, sf)._2.count() === 0L)
      assert(MergeScaleQ.mergeAcceptStore(s, sf)._1.count() > 0L)
      // base-only answers equal the full merge (entity key +
      // snapshot count pin coverage; a doubled snapshot would double
      // the count)
      assert(rows(MergeScaleQ.effectiveMerged(s, sf)
        .select(col("site_submission_id"), col("snapshot_count")))
        === rows(graft.engine.Merge.mergeSubmissions(
          MergeScaleQ.nestedAtScale(s, sf))
          .select(col("site_submission_id"), col("snapshot_count"))))
      // nothing left to fold: second compact is a no-op
      assert(!MergeScaleQ.compactMergeStore(s, sf))
      // a merged_base refresh UN-FOLDS the accepted batches (base
      // rebuilt from source, pre-cutoff only); the coverage probe
      // detects base ≠ log and compact RE-FOLDS from the permanent
      // log — accepted data is never stranded
      DurableStores.drop(s, sf, "merged_base")
      assert(MergeScaleQ.compactMergeStore(s, sf))
      assert(rows(MergeScaleQ.effectiveMerged(s, sf)
        .select(col("site_submission_id"), col("snapshot_count")))
        === rows(graft.engine.Merge.mergeSubmissions(
          MergeScaleQ.nestedAtScale(s, sf))
          .select(col("site_submission_id"), col("snapshot_count"))))
      // the guard spans compaction: a NEW batch id re-presenting an
      // already-accepted snapshot id is rejected via the log
      val nested = MergeScaleQ.bucketedNested(s, sf)
      val mb1Again = nested.filter(
        col("scan_datetime") > lit("2001-06-01").cast("timestamp")
          && col("scan_datetime") <= lit("2001-07-01").cast("timestamp"))
      val ex = intercept[IllegalArgumentException] {
        MergeScaleQ.acceptMergeBatch(s, sf, "zz_mb1_again", mb1Again)
      }
      assert(ex.getMessage.contains("merge accept precondition"))
      // replaying ONLY the folded, NON-latest batch is a NO-OP: a
      // recompute as-of mb1 would re-create mb1's merged delta and
      // effectiveMerged's latest-wins would override the complete
      // folded base row with it, silently regressing every entity
      // mb2 also touched
      MergeScaleQ.acceptMergeBatch(s, sf, "mb1", mb1Again,
        lineage = Some(Set("mb1", "mb2")))
      assert(MergeScaleQ.mergeAcceptStore(s, sf)._2.count() === 0L)
      assert(rows(MergeScaleQ.effectiveMerged(s, sf)
        .select(col("site_submission_id"), col("snapshot_count")))
        === rows(graft.engine.Merge.mergeSubmissions(
          MergeScaleQ.nestedAtScale(s, sf))
          .select(col("site_submission_id"), col("snapshot_count"))))
      // log-replay AFTER compaction still lands on the full answer
      // (folded-ledger no-ops + the intact folded base)
      assert(rows(MergeScaleQ.mergeAcceptProbeTwoBatch(s, sf)) === full)
      graft.engine.CacheRegistry.releaseAll()
    } finally {
      DurableStores.drop(s, sf, "merge_accept")
      DurableStores.drop(s, sf, "merge_log")
      DurableStores.drop(s, sf, "merged_base")
      DurableStores.drop(s, sf, "nested_bucketed")
      prevRoot match {
        case Some(r) => s.conf.set("spark.graft.store.root", r)
        case None => s.conf.unset("spark.graft.store.root")
      }
      graft.storage.DurableStores.resetVerifiedForTest()
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(java.nio.file.Files.walk(root)) {
        _.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(f => java.nio.file.Files.deleteIfExists(f))
      }
      graft.engine.CacheRegistry.releaseAll()
    }
  }

  test("cluster compaction under DIVERGENT lineages: union-of-evidence CC, no stranded labels") {
    val s = spark
    import s.implicits._
    import graft.storage.DurableStores
    try {
      // two component-min label nodes from the real base labeling
      val mins = graft.queries.LlmOps.clusterStore(s, sf)
        .filter(col("node") === col("cluster"))
        .orderBy("node").limit(2)
        .collect().map(_.getLong(0))
      val Array(n1, n2) = mins
      val f = 987654321L // a novel doc id, larger than every corpus id
      graft.queries.LlmOps.clusterAcceptStore(s, sf)
      val tbl = graft.storage.Storage.tableNameFor("graft_clusacc_labels", sf)
      def putDelta(batch: String, rows: Seq[(Long, Long)]): Unit = {
        DurableStores.writeBatchPartition(s, tbl, batch,
          rows.toDF("node", "cluster"))
        DurableStores.markBatchCommitted(s, sf, "cluster_accept", batch)
      }
      // lineage A merges n2's cluster into n1; lineage Z — computed
      // blindly against the BASE labels — attaches novel doc f to n2.
      // Per-node latest-wins would strand f in phantom cluster n2
      // (n2 itself is labeled n1); the evidence fold must land all
      // three in one component labeled by its min, n1.
      putDelta("dv_a", Seq((n2, n1)))
      putDelta("dv_z", Seq((f, n2)))
      assert(graft.queries.LlmOps.compactClusterStore(s, sf))
      val folded = graft.queries.LlmOps.clusterStore(s, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(folded(f) === n1)
      assert(folded(n2) === n1)
      assert(folded(n1) === n1)
      // the component-min invariant every contraction remap leans on:
      // each label used IS a node labeled by itself
      val labels = folded.values.toSet
      assert(labels.forall(l => folded.get(l).contains(l)),
        s"stranded labels: ${labels.filterNot(l => folded.get(l).contains(l))}")
      graft.engine.CacheRegistry.releaseAll()
    } finally {
      DurableStores.drop(s, sf, "cluster_accept")
      DurableStores.drop(s, sf, "clusters")
      graft.engine.CacheRegistry.releaseAll()
    }
  }

  test("q115 answers from the persisted sparse stats/components; an external batch needs no corpus text") {
    val s = spark
    import s.implicits._
    val q115 = graft.queries.CorpusOps.queries("q115_sparse_topk_stored")(s, sf)
    q115.collect()
    val plan = PlanShape.render(q115)
    for (tbl <- Seq("graft_sparse_stats", "graft_sparse_components"))
      assert(plan.contains(tbl), s"persisted table $tbl not in plan:\n$plan")
    graft.engine.CacheRegistry.releaseAll()
    // a later ingest batch arrives as a fresh in-memory frame: the
    // stored vocabulary vectorizes it and the stored components answer
    // the probe — no parquet scan of the documents table anywhere
    val (stats, comp) = graft.queries.CorpusOps.sparseStatsStore(s, sf)
    val batch = Seq((1000000L, "a fresh sentence about nothing at all"))
      .toDF("doc_id", "text")
    val out = graft.operators.SparseVectors.sparseTopKAgainst(
      graft.operators.SparseVectors.hashedTfidfWithStats(
        batch, "doc_id", "text", stats, topM = 16),
      comp, k = 3, bucketCap = 64)
    out.collect()
    val probePlan = PlanShape.render(out)
    assert(!probePlan.contains("documents.parquet"),
      s"corpus text re-read from parquet:\n$probePlan")
    graft.engine.CacheRegistry.releaseAll()
  }
}
