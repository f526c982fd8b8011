package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** At-scale crossover evidence for the bucketed embedding near-dup
  * operator (round-6 verdict "What's missing" #3: q82 is oracle-exact
  * but, on the uniform test corpus, slower than the brute path at
  * sf0.1 — so the 100 TB claim rested on the plan argument alone).
  *
  * The uniform corpus is the operator's documented worst case: IVF
  * triangle-inequality pruning exploits cluster structure, and uniform
  * 64-dim vectors have none (measured: same-label and cross-label
  * cosines in embeddings.parquet are identically distributed). The
  * production near-dup corpus — web text embeddings — is the opposite:
  * topic clusters plus tight near-duplicate twins. This harness builds
  * that shape at increasing scale and measures where the bucketed path
  * overtakes brute force, asserting output equality at every point
  * (the completeness theorem is data-independent; only SPEED depends
  * on structure).
  *
  * Corpus construction (fully deterministic, no RNG state):
  *  - cluster centers = the first K vectors of the driver's
  *    embeddings.parquet (64-dim uniform vectors are near-orthogonal —
  *    measured p99 pairwise cosine 0.29 — so they are well-separated
  *    centers);
  *  - members = center + 0.14·jitter(base) with jitter components in
  *    [-1,1] from xxhash64 — intra-cluster cosine ≈ 0.7, below the
  *    0.9 threshold;
  *  - consecutive ids (2j, 2j+1) are near-duplicate twins: same base
  *    jitter plus 0.05·jitter(id) — twin cosine ≈ 0.96, above the
  *    threshold. True pairs ≈ n/2, i.e. linear in n, like real
  *    re-crawl/re-encode duplication.
  *
  * Scaling discipline mirrors the 100 TB deployment: numCells grows
  * with n (n/256 — cells stay ~constant-sized), so bucketed candidate
  * count is ~n·256 (linear) while brute force considers n(n-1)/2.
  *
  * Run:  sbt "runMain graft.ScaleEvidence"
  * Env:  SPARK_GRAFT_SF_DIR (default sf0.1 — only centers are read),
  *       SPARK_GRAFT_SCALE_NS (default "2048,8192,32768"),
  *       SPARK_GRAFT_SCALE_OUT (default SCALE_EVIDENCE.json).
  */
object ScaleEvidence {

  /** Deterministic jitter component in [-1, 1] for (salt, row, dim). */
  private def jitter(salt: String, row: org.apache.spark.sql.Column,
      dim: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(xxhash64(lit(salt), row, dim), lit(2001L)) / 1000.0 - 1.0

  /** n-member clustered corpus with twin near-dups, centers drawn from
    * the driver embeddings table. */
  private[graft] def corpus(spark: SparkSession, sfDir: String, n: Long,
      clusters: Int): DataFrame = {
    val centers = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") < clusters)
      .select(col("vec_id").as("cluster"), col("embedding").as("center"))
    // a short embeddings table would silently drop whole clusters in
    // the inner join below and misreport n (ADVICE r7)
    val found = centers.count()
    require(found == clusters,
      s"need $clusters centers, embeddings table provided $found")
    spark.range(n).toDF("vec_id")
      .withColumn("base", col("vec_id") / 2 cast "long")
      .withColumn("cluster", pmod(col("base"), lit(clusters.toLong)))
      .join(broadcast(centers), "cluster")
      .select(col("vec_id"),
        transform(sequence(lit(0), lit(63)), j =>
          (element_at(col("center"), j + 1).cast("double")
            + lit(0.14) * jitter("member", col("base"), j)
            + lit(0.05) * jitter("twin", col("vec_id"), j)).cast("float"))
          .as("embedding"))
  }

  /** Per-point scratch dirs hold multi-GB parquet trees at the 1M-doc
    * sizes — delete each as soon as its point is measured (ADVICE r10:
    * leaving them to /tmp accumulates gigabytes per run). */
  private def deleteRecursively(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    // Files.walk streams hold open directory handles until closed —
    // across a multi-point sweep the leak accumulates fds
    if (java.nio.file.Files.exists(p))
      scala.util.Using.resource(java.nio.file.Files.walk(p)) {
        _.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => java.nio.file.Files.deleteIfExists(f))
      }
  }

  /** Min of `passes` noop-forced runs: first-run JIT/codegen cost for
    * this pipeline shape is 5–20 s (measured), which would otherwise be
    * billed to whichever size runs first — and this shared machine's
    * load swings individual passes several-fold. Paths being COMPARED
    * in one sweep must use the same `passes` — asymmetric sampling
    * biases the min toward the better-sampled path. */
  private def timeNoop(df: => DataFrame, passes: Int = 3): Double =
    (1 to passes).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      graft.engine.CacheRegistry.releaseAll()
      (System.nanoTime() - t0) / 1e9
    }.min

  /** Total shuffle-WRITE megabytes of one noop run of `df` — the
    * bytes-on-the-wire measurement behind pruning claims (stage-level
    * task metrics summed via a listener; the bus is async, so the sum
    * is read after it settles). Rounded to 0.1 MB. */
  private def shuffleWriteMb(spark: SparkSession, df: => DataFrame): Double = {
    val total = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) total.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      df.write.format("noop").mode("overwrite").save()
      graft.engine.CacheRegistry.releaseAll()
      var last = -1L
      var settled = 0
      var waited = 0
      while (settled < 3 && waited < 5000) {
        val cur = total.get()
        if (cur == last) settled += 1 else { settled = 0; last = cur }
        Thread.sleep(100); waited += 100
      }
      // a timed-out settle means the async bus was still delivering:
      // the recorded MB may undercount — say so, never silently
      if (settled < 3)
        System.err.println("[scale] WARNING: shuffle-metrics listener " +
          "did not settle within 5 s under load — the recorded " +
          "shuffle MB for this measurement may undercount")
      math.rint(total.get() / 1e6 * 10) / 10
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Write `df` to `root/name` and read it back — every sweep's
    * corpus-side inputs live in PARQUET, not .persist() caches (see
    * [[incrementalSweep]]'s honest-measurement notes). */
  private def writeRead(spark: SparkSession, root: String, df: DataFrame,
      name: String): DataFrame = {
    df.write.mode("overwrite").parquet(s"$root/$name")
    spark.read.parquet(s"$root/$name")
  }

  /** The at-rest sketch-table layout (sh/bands) for a text corpus —
    * the corpus side every store-path sweep probes. The sketch frame
    * is retained once for the two writes, then released. */
  private def sketchAtRest(spark: SparkSession, root: String,
      corpusDocs: DataFrame): (DataFrame, DataFrame) = {
    import graft.operators.Dedup
    val sk = graft.engine.CacheRegistry.retain(
      Dedup.corpusSketch(corpusDocs, "doc_id", "text"))
    val sh = writeRead(spark, root, sk.select("doc", "sh"), "sh")
    val bands = writeRead(spark, root, Dedup.explodedBands(sk), "bands")
    graft.engine.CacheRegistry.releaseAll()
    (sh, bands)
  }

  /** Deterministic n-doc text corpus with twin near-dups: docs (2j,
    * 2j+1) share an `nTokens`-token body derived from xxhash of their
    * common base, with one token position varied on the odd twin
    * (Jaccard well above the 0.8 threshold at any length); distinct
    * bases share ~nothing (tokens drawn from a 20k vocabulary).
    * `nTokens` is the lever that moves sketch cost relative to join
    * cost: per-ingest re-sketching is proportional to corpus TOKEN
    * volume, so short docs hide it and long docs expose it. */
  private[graft] def textCorpus(spark: SparkSession, n: Long,
      nTokens: Int = 30): DataFrame =
    spark.range(n).toDF("doc_id")
      .withColumn("base", (col("doc_id") / 2).cast("long"))
      .select(col("doc_id"), concat_ws(" ",
        transform(sequence(lit(0), lit(nTokens - 1)), j =>
          when(j === 7 && pmod(col("doc_id"), lit(2L)) === 1,
            concat(lit("v"), col("doc_id")))
            .otherwise(concat(lit("w"),
              pmod(xxhash64(col("base"), j), lit(20000L))))))
        .as("text"))

  /** Per-ingest cost of the incremental dedup family, fixed batch vs
    * growing corpus (VERDICT r7 "missing" #3): the persisted-store
    * path re-uses the corpus sketch / cosine index built once, so each
    * ingest pays batch hashing plus a columnar STREAM over the at-rest
    * corpus tables; the inline path re-sketches / re-indexes the
    * corpus every ingest, paying an extra term proportional to corpus
    * TOKEN volume (text) or corpus×cells dot products (embedding).
    *
    * Honest-measurement notes (VERDICT r8/r9): the rounds-8/9 sweep
    * measured the two text paths TIED at every size, for two reasons
    * fixed here. (1) 30-token docs: the candidate-join machinery
    * dominates and the re-sketch term is invisible — the text sweep
    * now runs on LONG documents (default 300 tokens, env
    * SPARK_GRAFT_SCALE_INC_TOKENS) at sizes up to 1M docs where
    * re-sketching dominates. (2) .persist() store tables: at the 1M
    * point the cached corpus + sketch tables overflow storage memory
    * and silent eviction degrades the "store" path into the inline
    * path mid-measurement — corpus-side inputs now live in PARQUET
    * (the scenario each path actually claims). The committed
    * SCALE_EVIDENCE.json rows are the measurement of record for how
    * far the paths diverge. The embedding sweep's rebuild term
    * (n·cells cosines) is smaller relative to its probe join, so its
    * rows sit closer; the stored cosine index's other win is the
    * partition-pruned at-rest layout (StoreSpec pins it). Both paths
    * must emit identical pair sets at every size. */
  private def incrementalSweep(spark: SparkSession, sfDir: String,
      textSizes: Seq[Long], textTokens: Int, embSizes: Seq[Long],
      batchN: Long): (Seq[String], Seq[String]) = {
    import graft.operators.{Dedup, EmbeddingDedup}
    // Both sides read their corpus-side inputs from PARQUET, not from
    // .persist() caches: (a) that is the scenario each path actually
    // claims — the store path streams the at-rest sketch tables, the
    // inline path re-reads corpus TEXT and re-sketches — and (b) a
    // cached 1M-doc corpus plus three cached sketch tables overflow
    // executor storage memory, and silent block eviction then degrades
    // the "store" path into the inline path mid-measurement (observed:
    // store_sec ≈ inline_sec at 1M under persist(), 3× apart from
    // parquet).
    val textPoints = textSizes.map { n =>
      val root = java.nio.file.Files
        .createTempDirectory("graft_scale_inc_text").toString
      val corpusDocs =
        writeRead(spark, root, textCorpus(spark, n, textTokens), "docs")
      // the batch duplicates corpus docs 2b and 2b+1 for each batch
      // doc b < batchN (same base-derived body), under fresh ids
      val batch = textCorpus(spark, batchN, textTokens)
        .filter(pmod(col("doc_id"), lit(2L)) === 0)
        .select((col("doc_id") + 1000000000L).as("doc_id"), col("text"))
        .persist()
      batch.count()
      val (sh, bands) = sketchAtRest(spark, root, corpusDocs)
      def stored = Dedup.incrementalMinhashPairsFromStore(sh, bands,
        batch, "doc_id", "text", threshold = 0.8)
      def inline = Dedup.incrementalMinhashPairs(
        Dedup.corpusSketch(corpusDocs, "doc_id", "text"),
        batch, "doc_id", "text", threshold = 0.8)
      val storeSec = timeNoop(stored)
      val inlineSec = timeNoop(inline)
      val pairs = stored.count()
      val diff = stored.exceptAll(inline).count() +
        inline.exceptAll(stored).count()
      graft.engine.CacheRegistry.releaseAll()
      batch.unpersist(true)
      deleteRecursively(root)
      System.err.println(f"[scale-inc] text corpus=$n%7d×$textTokens " +
        f"batch=$batchN store=$storeSec%6.2fs inline=$inlineSec%6.2fs " +
        f"pairs=$pairs diff=$diff")
      s"""{"corpus_n":$n,"tokens":$textTokens,"batch_n":$batchN,""" +
        s""""store_sec":$storeSec,"inline_sec":$inlineSec,""" +
        s""""pairs":$pairs,"path_diff":$diff}"""
    }
    val embPoints = embSizes.map { n =>
      val clusters = math.max(8, (n / 256).toInt)
      val root = java.nio.file.Files
        .createTempDirectory("graft_scale_inc_emb").toString
      // same parquet-at-rest discipline as the text sweep: the inline
      // path re-reads corpus VECTORS and re-indexes; the store path
      // streams the at-rest index tables
      val emb = writeRead(spark, root, corpus(spark, sfDir, n, clusters), "emb")
      // batch b duplicates corpus vectors 2b/2b+1's shared base jitter
      // (twin construction), re-identified outside the corpus id space
      val batch = corpus(spark, sfDir, batchN, clusters)
        .filter(pmod(col("vec_id"), lit(2L)) === 0)
        .select((col("vec_id") + 1000000000L).as("vec_id"), col("embedding"))
        .persist()
      batch.count()
      val idx = EmbeddingDedup.buildCosineIndex(emb, "vec_id", "embedding",
        numCells = clusters)
      val cents = writeRead(spark, root, idx.cents, "cents")
      val members = writeRead(spark, root, EmbeddingDedup.membersOf(idx), "members")
      graft.engine.CacheRegistry.releaseAll() // drop build-time caches
      def stored = EmbeddingDedup.cosinePairsFromStore(cents, members,
        batch, "vec_id", "embedding", threshold = 0.9)
      def inline = EmbeddingDedup.cosinePairsIncremental(emb, batch,
        "vec_id", "embedding", threshold = 0.9, numCells = clusters)
      val storeSec = timeNoop(stored)
      val inlineSec = timeNoop(inline)
      val pairs = stored.count()
      val diff = stored.exceptAll(inline).count() +
        inline.exceptAll(stored).count()
      graft.engine.CacheRegistry.releaseAll()
      batch.unpersist(true)
      deleteRecursively(root)
      System.err.println(f"[scale-inc] emb  corpus=$n%7d batch=$batchN " +
        f"store=$storeSec%6.2fs inline=$inlineSec%6.2fs pairs=$pairs diff=$diff")
      s"""{"corpus_n":$n,"batch_n":$batchN,"store_sec":$storeSec,""" +
        s""""inline_sec":$inlineSec,"pairs":$pairs,"path_diff":$diff}"""
    }
    (textPoints, embPoints)
  }

  /** Accept-path sweep (q121's contract): corpus sketch at rest, then
    * nBatches ingest batches ACCEPTED one after another as delta
    * partition files, with a FIXED probe batch re-run after every
    * accept. Claims under measurement: (1) accept_sec is
    * batch-proportional — flat in both the corpus size and the number
    * of already-accepted batches (the corpus is untouched by an
    * accept); (2) probe_sec grows only with the delta volume, not the
    * corpus (compare the same accepted_batches count across corpus
    * sizes: the increment over the k=1 point tracks delta rows);
    * (3) the final point's pairs equal a full inline recompute over
    * corpus ∪ every accepted doc (path_diff 0; earlier points emit
    * null — the parity check re-sketches everything and would dominate
    * the sweep's wall-clock if run per point). The probe re-issues
    * even-twin texts from the corpus head AND from accepted batch 0,
    * so expected pairs stay constant across the sweep — a drift in
    * `pairs` would expose a delta wiring bug, not data change. */
  private def acceptSweep(spark: SparkSession, corpusNs: Seq[Long],
      nBatches: Int, batchN: Long, textTokens: Int): Seq[String] = {
    import graft.operators.Dedup
    corpusNs.flatMap { n =>
      val root = java.nio.file.Files
        .createTempDirectory("graft_scale_accept").toString
      // one deterministic universe: corpus = ids [0, n); accepted batch
      // k = ids [n + k·batchN, n + (k+1)·batchN) — novel bases, twin
      // pairs intact within each range
      def universe = textCorpus(spark, n + nBatches * batchN, textTokens)
      val corpusDocs =
        writeRead(spark, root, universe.filter(col("doc_id") < n), "docs")
      val (sh0, bands0) = sketchAtRest(spark, root, corpusDocs)
      val probe = universe
        .filter((col("doc_id") < batchN ||
          (col("doc_id") >= n && col("doc_id") < n + batchN)) &&
          pmod(col("doc_id"), lit(2L)) === 0)
        .select((col("doc_id") + 2000000000L).as("doc_id"), col("text"))
        .persist()
      probe.count()
      val points = (0 until nBatches).map { k =>
        val batch = universe.filter(col("doc_id") >= n + k * batchN &&
          col("doc_id") < n + (k + 1) * batchN)
        val t0 = System.nanoTime()
        val bsk = graft.engine.CacheRegistry.retain(
          Dedup.corpusSketch(batch, "doc_id", "text"))
        bsk.select("doc", "sh")
          .write.mode("overwrite").parquet(s"$root/acc_sh/b$k")
        Dedup.explodedBands(bsk)
          .write.mode("overwrite").parquet(s"$root/acc_bands/b$k")
        graft.engine.CacheRegistry.releaseAll()
        val acceptSec = (System.nanoTime() - t0) / 1e9
        def probed = Dedup.incrementalMinhashPairsFromStore(
          sh0.unionByName(spark.read.parquet(s"$root/acc_sh/*")),
          bands0.unionByName(spark.read.parquet(s"$root/acc_bands/*")),
          probe, "doc_id", "text", threshold = 0.8)
        val probeSec = timeNoop(probed)
        val pairs = probed.count()
        graft.engine.CacheRegistry.releaseAll()
        val diff = if (k == nBatches - 1) {
          val inline = Dedup.incrementalMinhashPairs(
            Dedup.corpusSketch(universe, "doc_id", "text"),
            probe, "doc_id", "text", threshold = 0.8)
          val d = probed.exceptAll(inline).count() +
            inline.exceptAll(probed).count()
          graft.engine.CacheRegistry.releaseAll()
          d.toString
        } else "null"
        System.err.println(f"[scale-accept] corpus=$n%7d " +
          f"accepted=${k + 1}%2d accept=$acceptSec%6.2fs " +
          f"probe=$probeSec%6.2fs pairs=$pairs diff=$diff")
        s"""{"corpus_n":$n,"accepted_batches":${k + 1},""" +
          s""""batch_n":$batchN,"accept_sec":$acceptSec,""" +
          s""""probe_sec":$probeSec,"pairs":$pairs,"path_diff":$diff}"""
      }
      probe.unpersist(true)
      deleteRecursively(root)
      points
    }
  }

  /** Incremental cluster maintenance (q123's contract): stored labels
    * + sketch tables at rest, a FIXED ingest batch (half re-issues of
    * corpus docs — cross-edges into existing clusters — half novel
    * twins forming batch-only clusters), incremental relabel vs the
    * full re-cluster a deployment without the operator runs
    * (re-sketch everything, CC from scratch). incremental_sec must
    * stay batch-dominated while full_sec grows with corpus token
    * volume; path_diff must be 0 (identical labelings). The gate-scale
    * bench difference is modest (job-scheduling overhead dominates at
    * a 10:1 corpus:batch ratio) — THIS sweep is the measurement behind
    * the operator's scale claim. */
  private def incClusterSweep(spark: SparkSession, corpusNs: Seq[Long],
      batchN: Long, textTokens: Int): Seq[String] = {
    import graft.operators.Dedup
    corpusNs.map { n =>
      val root = java.nio.file.Files
        .createTempDirectory("graft_scale_incclust").toString
      def universe = textCorpus(spark, n + batchN, textTokens)
      val corpusDocs =
        writeRead(spark, root, universe.filter(col("doc_id") < n), "docs")
      val (sh, bands) = sketchAtRest(spark, root, corpusDocs)
      val labels = writeRead(spark, root, Dedup.connectedComponents(
        Dedup.multiSketchPairsFromStore(sh, bands, threshold = 0.8),
        "doc_a", "doc_b"), "labels")
      graft.engine.CacheRegistry.releaseAll()
      val batch = universe
        .filter((col("doc_id") < batchN && pmod(col("doc_id"), lit(2L)) === 0)
          || (col("doc_id") >= n && col("doc_id") < n + batchN / 2))
        .select((col("doc_id") + 3000000000L).as("doc_id"), col("text"))
        .persist()
      batch.count()
      def crossEdges = Dedup.incrementalMinhashPairsFromStore(
        sh, bands, batch, "doc_id", "text", threshold = 0.8)
        .select(col("batch_doc"), col("corpus_doc"))
      def innerEdges = Dedup.multiSketchPairs(batch, "doc_id", "text",
          threshold = 0.8)
        .select(col("doc_a"), col("doc_b"))
      def incremental =
        Dedup.incrementalConnectedComponents(labels, crossEdges, innerEdges)
      // the label-DELTA path — the shape a production accept persists
      // (acceptClusterRelabel): only changed/new labels are computed
      // and materialized, untouched clusters never leave disk
      def delta = Dedup.incrementalConnectedComponentsDelta(
        labels, crossEdges, innerEdges)
      def full = Dedup.connectedComponents(
        Dedup.multiSketchPairs(corpusDocs.unionByName(batch),
          "doc_id", "text", threshold = 0.8),
        "doc_a", "doc_b")
      // SAME pass count for all paths — asymmetric min-sampling would
      // bias the committed comparison toward the better-sampled side
      val incSec = timeNoop(incremental)
      val deltaSec = timeNoop(delta)
      val fullSec = timeNoop(full)
      val labeled = incremental.count()
      val deltaRows = delta.count()
      val diff = incremental.exceptAll(full).count() +
        full.exceptAll(incremental).count()
      // the delta applied over the stored labels must reproduce the
      // full labeling exactly (same override join as
      // LlmOps.effectiveClusterLabels with a single batch)
      val applied = labels
        .join(delta.withColumnRenamed("cluster", "dcl"), Seq("node"), "full_outer")
        .select(col("node"), coalesce(col("dcl"), col("cluster")).as("cluster"))
      val deltaDiff = applied.exceptAll(full).count() +
        full.exceptAll(applied).count()
      graft.engine.CacheRegistry.releaseAll()
      batch.unpersist(true)
      deleteRecursively(root)
      System.err.println(f"[scale-incclust] corpus=$n%7d batch=$batchN " +
        f"incremental=$incSec%6.2fs delta=$deltaSec%6.2fs " +
        f"full=$fullSec%7.2fs labeled=$labeled delta_rows=$deltaRows " +
        f"diff=$diff delta_diff=$deltaDiff")
      s"""{"corpus_n":$n,"batch_n":$batchN,"incremental_sec":$incSec,""" +
        s""""delta_sec":$deltaSec,"delta_rows":$deltaRows,""" +
        s""""full_sec":$fullSec,"labeled":$labeled,"path_diff":$diff,""" +
        s""""delta_diff":$deltaDiff}"""
    }
  }

  /** Stored-landmark drift probe (q112's contract), FIXED batch vs
    * growing corpus: the landmark index is built ONCE per corpus (the
    * k-center traversal) and each ingest then probes k literal rows —
    * probe cost must stay flat as the corpus grows, while the
    * no-store alternative re-runs the whole traversal every ingest
    * and grows linearly with the corpus. Both paths assign through
    * identical (deterministic) landmark sets, so outputs must match
    * exactly. */
  private def driftSweep(spark: SparkSession, sfDir: String,
      sizes: Seq[Long], batchN: Long): Seq[String] = {
    import graft.operators.Coreset
    sizes.map { n =>
      val clusters = math.max(8, (n / 256).toInt)
      val emb = corpus(spark, sfDir, n, clusters).persist()
      emb.count()
      val batch = corpus(spark, sfDir, batchN, clusters)
        .select((col("vec_id") + 1000000000L).as("vec_id"), col("embedding"))
        .persist()
      batch.count()
      val t0 = System.nanoTime()
      // pin the at-rest table outside the registry (same reasoning as
      // the cosine-index sweep: the store must survive releaseAll)
      val lms = Coreset.landmarksWithRadius(emb, "vec_id", "embedding", 16)
        .persist()
      lms.count()
      val buildSec = (System.nanoTime() - t0) / 1e9
      graft.engine.CacheRegistry.releaseAll() // drop build-time caches
      def probe = Coreset.assignBatchToStored(batch, "vec_id", "embedding", lms)
      def rebuild = Coreset.assignBatchToStored(batch, "vec_id", "embedding",
        Coreset.landmarksWithRadius(emb, "vec_id", "embedding", 16))
      val probeSec = timeNoop(probe)
      val rebuildSec = timeNoop(rebuild, passes = 2)
      val assigned = probe.count()
      val novel = probe.filter(col("novel") === 1).count()
      val diff = probe.exceptAll(rebuild).count() +
        rebuild.exceptAll(probe).count()
      graft.engine.CacheRegistry.releaseAll()
      Seq(lms, batch, emb).foreach(_.unpersist(true))
      System.err.println(f"[scale-drift] corpus=$n%7d batch=$batchN " +
        f"build=$buildSec%6.2fs probe=$probeSec%6.2fs " +
        f"rebuild=$rebuildSec%6.2fs novel=$novel/$assigned diff=$diff")
      s"""{"corpus_n":$n,"batch_n":$batchN,"build_sec":$buildSec,""" +
        s""""probe_sec":$probeSec,"rebuild_sec":$rebuildSec,""" +
        s""""novel":$novel,"assigned":$assigned,"path_diff":$diff}"""
    }
  }

  /** Bloom-prune decontamination vs the plain gram join, FIXED corpus
    * vs growing eval set (the axis that kills the broadcast approach:
    * q77's exact path is fine while the eval suite broadcasts, and the
    * bloom sandwich must take over once it doesn't). Realistic
    * leakage shape: the eval set is mostly NOVEL text (bases disjoint
    * from the corpus's), with every 16th doc re-issuing a corpus
    * body — so true overlap is sparse and the prune has something to
    * prune, while the eval gram set still grows past broadcast size.
    * Both paths must flag identical (doc, count) sets at every size;
    * `survivors` counts corpus gram rows passing the bloom — the
    * shuffle volume the prune leaves, vs `corpus_grams` without it. */
  private def decontamSweep(spark: SparkSession, corpusN: Long,
      evalNs: Seq[Long]): (Long, Long, Seq[String]) = {
    import graft.operators.{Decontaminate, Dedup}
    import graft.functions.BloomMightContain.bloomMightContain
    val corpusDocs = textCorpus(spark, corpusN).persist()
    corpusDocs.count()
    val corpusGrams = corpusDocs
      .select(col("doc_id"), explode(Dedup.shingles(col("text"), 8)).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("gh")).persist()
    val corpusGramN = corpusGrams.count()
    val points = evalNs.map { en =>
      // every 16th eval doc leaks a corpus base (both twins share it);
      // the rest draw from a base space the corpus never touches
      val evalDocs = spark.range(en).toDF("i")
        .withColumn("base", when(pmod(col("i"), lit(16L)) === 0,
            pmod(col("i") / 16, lit(corpusN / 2)).cast("long"))
          .otherwise(col("i") + 10000000L))
        .select((col("i") + 2000000000L).as("doc_id"), concat_ws(" ",
          transform(sequence(lit(0), lit(29)), j =>
            concat(lit("w"), pmod(xxhash64(col("base"), j), lit(20000L)))))
          .as("text"))
        .persist()
      evalDocs.count()
      def bloomPath = Decontaminate.flagOverlap(corpusDocs, evalDocs, k = 8)
      def exactPath = {
        val eg = evalDocs
          .select(explode(Dedup.shingles(col("text"), 8)).as("g"))
          .select(xxhash64(col("g")).as("gh")).distinct()
        corpusGrams.join(eg, Seq("gh"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_contaminated_grams"))
      }
      val bloomSec = timeNoop(bloomPath) // bloom build billed per pass
      val exactSec = timeNoop(exactPath)
      // the regime the operator exists for: an eval gram set past
      // broadcast size. Emulated by disabling broadcast joins (both
      // static and AQE) for BOTH paths — at 100 TB the exact path
      // shuffles every corpus gram, the bloom path only survivors.
      def noBcast[T](f: => T): T = {
        val ks = Seq("spark.sql.autoBroadcastJoinThreshold",
          "spark.sql.adaptive.autoBroadcastJoinThreshold")
        val olds = ks.map(k => k -> spark.conf.getOption(k))
        ks.foreach(spark.conf.set(_, "-1"))
        try f finally olds.foreach { case (k, o) =>
          o.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      }
      val (bloomNbSec, exactNbSec) =
        noBcast((timeNoop(bloomPath), timeNoop(exactPath)))
      val evalGrams = evalDocs
        .select(explode(Dedup.shingles(col("text"), 8)).as("g"))
        .select(xxhash64(col("g")).as("gh")).distinct().persist()
      val evalGramN = evalGrams.count()
      val bf = evalGrams.stat.bloomFilter("gh", math.max(evalGramN, 1L), 0.01)
      val survivors = corpusGrams
        .filter(bloomMightContain(col("gh"), bf)).count()
      val flagged = bloomPath.count()
      val diff = bloomPath.exceptAll(exactPath).count() +
        exactPath.exceptAll(bloomPath).count()
      graft.engine.CacheRegistry.releaseAll()
      Seq(evalGrams, evalDocs).foreach(_.unpersist(true))
      System.err.println(f"[scale-decon] eval=$en%6d grams=$evalGramN%8d " +
        f"survivors=$survivors%8d/$corpusGramN bloom=$bloomSec%6.2fs " +
        f"exact=$exactSec%6.2fs nobcast bloom=$bloomNbSec%6.2fs " +
        f"exact=$exactNbSec%6.2fs flagged=$flagged diff=$diff")
      s"""{"eval_n":$en,"eval_grams":$evalGramN,"survivors":$survivors,""" +
        s""""bloom_sec":$bloomSec,"exact_sec":$exactSec,""" +
        s""""bloom_nobcast_sec":$bloomNbSec,"exact_nobcast_sec":$exactNbSec,""" +
        s""""flagged_docs":$flagged,"path_diff":$diff}"""
    }
    Seq(corpusGrams, corpusDocs).foreach(_.unpersist(true))
    (corpusN, corpusGramN, points)
  }

  /** Connected-components convergence sweep: one-hop min-label
    * propagation vs the hybrid (4 one-hop rounds + star contraction)
    * on deterministic supercritical sparse random graphs (mean degree
    * ~2.4 — the near-percolation shape a loose-threshold similarity
    * graph takes, where long chains form). The claim under test: the
    * one-hop ROUND COUNT grows with graph size (it tracks component
    * diameter) while the hybrid's star rounds stay flat — the
    * difference between an operator that quietly approaches its
    * maxIter cliff as the corpus grows and one that does not. Both
    * paths must produce IDENTICAL (node, cluster) labelings. */
  private def ccSweep(spark: SparkSession, ns: Seq[Long]): Seq[String] = {
    import graft.operators.Dedup
    import org.apache.spark.sql.DataFrame
    ns.map { n =>
      // mean degree ~1.3 — just past the percolation threshold, where
      // the giant component's diameter grows fastest with n (the
      // worst case a loose similarity threshold can produce)
      val m = (n * 13) / 20
      val pairs = spark.range(m).toDF("i")
        .select(pmod(xxhash64(lit("es"), col("i")), lit(n)).as("a"),
          pmod(xxhash64(lit("ed"), col("i")), lit(n)).as("b"))
        .filter(col("a") =!= col("b"))
        .persist()
      pairs.count()
      def run(oneHop: Int): (DataFrame, Int, Int, Double) = {
        val t0 = System.nanoTime()
        val (df, hops, stars) = Dedup.connectedComponentsWithStats(
          pairs, "a", "b", maxIter = 2000, oneHopRounds = oneHop,
          localEdgeThreshold = 0) // always measure the distributed loop
        df.count()
        (df, hops, stars, (System.nanoTime() - t0) / 1e9)
      }
      // warm both shapes once at this size, then time (min of 2)
      run(2000); run(4)
      val a1 = run(2000); val a2 = run(2000)
      val h1 = run(4); val h2 = run(4)
      val (oneHopSec, hybridSec) = (math.min(a1._4, a2._4), math.min(h1._4, h2._4))
      // identical clusterings (labels are checkpoint-backed, so this
      // reuses the already-converged runs)
      val diff = a2._1.exceptAll(h2._1).count() + h2._1.exceptAll(a2._1).count()
      // the driver union-find short-circuit (edge count under the
      // threshold — all these sweep sizes qualify): the committed
      // before/after for the round-10 "saves ~3s of round overhead"
      // claim, plus a third independent label-equality check
      def runUF(): (DataFrame, Double) = {
        val t0 = System.nanoTime()
        val (df, _, _) = Dedup.connectedComponentsWithStats(
          pairs, "a", "b", maxIter = 2000, oneHopRounds = 4,
          localEdgeThreshold = Long.MaxValue)
        df.count()
        (df, (System.nanoTime() - t0) / 1e9)
      }
      runUF()
      val u1 = runUF(); val u2 = runUF()
      val ufSec = math.min(u1._2, u2._2)
      val ufDiff = u2._1.exceptAll(h2._1).count() +
        h2._1.exceptAll(u2._1).count()
      pairs.unpersist(true)
      System.err.println(f"[scale-cc] n=$n%7d edges=$m%8d " +
        f"onehop rounds=${a1._2}%4d $oneHopSec%7.2fs  " +
        f"hybrid star-rounds=${h1._3}%2d $hybridSec%6.2fs " +
        f"unionfind=$ufSec%6.2fs diff=$diff ufdiff=$ufDiff")
      s"""{"n":$n,"edges":$m,"onehop_rounds":${a1._2},""" +
        s""""onehop_sec":$oneHopSec,"hybrid_star_rounds":${h1._3},""" +
        s""""hybrid_sec":$hybridSec,"unionfind_sec":$ufSec,""" +
        s""""label_diff":$diff,"unionfind_label_diff":$ufDiff}"""
    }
  }

  /** Composed (union + ordered window) vs NATIVE (custom Catalyst
    * operator) as-of join, same inputs at rest, growing n with a hot
    * key (~25% of both sides) and a deliberately WIDE right payload —
    * the two regimes the native exec exists for. The union path ships
    * every left row padded with the right payload columns (and every
    * right row padded with the left's) through ONE combined-width
    * shuffle, then WindowExec buffers each key's L+R rows before
    * emitting — the hot key's partition is the spill risk. The native
    * path shuffles each side at its own width and streams the merge
    * with one held row. asof_diff must be 0 at every point (identical
    * answers — AsofJoinSpec pins the semantics, this pins them at
    * scale while measuring the divergence).
    *
    * Each point also measures the dimension-sized-right regime: the
    * same growing left against a FIXED small right (64k rows), composed
    * vs the broadcast exec (BroadcastAsofJoinExec — fact side never
    * exchanged or sorted). bcast_composed_sec grows with the left's
    * shuffle volume; bcast_sec should track a plain scan of the left.
    * bcast_diff must be 0. */
  private def asofSweep(spark: SparkSession, ns: Seq[Long]): Seq[String] = {
    import graft.operators.AsofJoin
    import org.apache.spark.sql.Column
    val root = "/tmp/graft_scale_asof"
    def keyCol(id: Column, n: Long): Column = {
      val keys = math.max(64L, n / 1024)
      when(pmod(xxhash64(lit("hot"), id), lit(4L)) === 0, 0L)
        .otherwise(pmod(xxhash64(lit("k"), id), lit(keys)))
    }
    def inputs(n: Long): (DataFrame, DataFrame) = {
      val left = spark.range(n).select(col("id").as("lid"),
        keyCol(col("id"), n).as("k"),
        pmod(xxhash64(lit("lt"), col("id")), lit(1000000L)).as("t"))
      val right = spark.range(n).select(Seq(
        (col("id") + 100000000L).as("rid"),
        keyCol(col("id") * 7L + 3L, n).as("k"),
        pmod(xxhash64(lit("rt"), col("id")), lit(1000000L)).as("t")) ++
        (0 until 6).map(i => xxhash64(lit(s"p$i"), col("id")).as(s"p$i")): _*)
      (writeRead(spark, root, left, s"l$n"),
        writeRead(spark, root, right, s"r$n"))
    }
    // warm the three plan shapes at a noise-sized point
    locally {
      val (wl, wr) = inputs(4096)
      AsofJoin.asofJoin(wl, wr, Seq("k"), "t", "t", "rid")
        .write.format("noop").mode("overwrite").save()
      AsofJoin.asofJoinNative(wl, wr, Seq("k"), "t", "t", "rid",
        broadcast = Some(false))
        .write.format("noop").mode("overwrite").save()
      AsofJoin.asofJoinNative(wl, wr, Seq("k"), "t", "t", "rid",
        broadcast = Some(true))
        .write.format("noop").mode("overwrite").save()
    }
    // the dimension-sized fixed right side for the broadcast regime
    val rSmall = inputs(65536)._2
    val rows = ns.map { n =>
      val (l, r) = inputs(n)
      def composed = AsofJoin.asofJoin(l, r, Seq("k"), "t", "t", "rid")
      def native = AsofJoin.asofJoinNative(l, r, Seq("k"), "t", "t", "rid",
        broadcast = Some(false))
      def split = AsofJoin.asofJoinNative(
        l, r, Seq("k"), "t", "t", "rid", numSplits = Some(8))
      val composedSec = timeNoop(composed)
      val nativeSec = timeNoop(native)
      val splitSec = timeNoop(split)
      def canon(df: DataFrame) =
        df.selectExpr("k", "lid", "asof.rid AS rid", "asof.p5 AS p5")
      val diff = canon(composed).exceptAll(canon(native)).count() +
        canon(native).exceptAll(canon(composed)).count()
      val sdiff = canon(split).exceptAll(canon(native)).count() +
        canon(native).exceptAll(canon(split)).count()
      // the skew story, measured: the hot key's (~25% of both sides)
      // max per-task share of its own output rows — 1.0 means one
      // straggler task serializes the key (the plain native exec's
      // ClusteredDistribution), the split plan spreads it over the
      // time buckets. Coalescing off for the measurement: AQE folds
      // these MB-scale shuffles into one partition regardless of keys.
      def hotShare(df: => DataFrame): Double = {
        val key = "spark.sql.adaptive.coalescePartitions.enabled"
        val prev = spark.conf.get(key)
        spark.conf.set(key, "false")
        try {
          val c = df.filter(col("k") === 0L)
            .groupBy(spark_partition_id().as("pid")).count()
            .agg(max("count").cast("double").as("mx"),
              sum("count").cast("double").as("tot")).head()
          if (c.isNullAt(1) || c.getDouble(1) == 0.0) 0.0
          else math.rint(c.getDouble(0) / c.getDouble(1) * 1000) / 1000
        } finally spark.conf.set(key, prev)
      }
      val shareNative = hotShare(native)
      val shareSplit = hotShare(split)
      // the SQL front door's split: the TVF's 'split:8' path lowers
      // through ResolveAsofJoin.lowerSplit like the DataFrame call
      // above, bounds as runtime scalar subqueries. Must answer
      // identically (sqlsplit_diff 0), spread the hot key the same way
      // (sqlsplit_hot_share ~ hot_share_split), and cost the same.
      l.createOrReplaceTempView("graft_scale_asof_l")
      r.createOrReplaceTempView("graft_scale_asof_r")
      def sqlSplit = spark.sql(
        """SELECT * FROM asof_join('graft_scale_asof_l',
          |'graft_scale_asof_r', 'k', 't', 't', 'rid', 'split:8')"""
          .stripMargin)
      val sqlSplitSec = timeNoop(sqlSplit)
      val sqdiff = canon(sqlSplit).exceptAll(canon(native)).count() +
        canon(native).exceptAll(canon(sqlSplit)).count()
      val shareSqlSplit = hotShare(sqlSplit)
      def bcastComposed = AsofJoin.asofJoin(l, rSmall, Seq("k"), "t", "t", "rid")
      def bcast = AsofJoin.asofJoinNative(l, rSmall, Seq("k"), "t", "t", "rid",
        broadcast = Some(true))
      val bcastComposedSec = timeNoop(bcastComposed)
      val bcastSec = timeNoop(bcast)
      val bdiff = canon(bcastComposed).exceptAll(canon(bcast)).count() +
        canon(bcast).exceptAll(canon(bcastComposed)).count()
      // the TOLERANCE regime, measured on a 2-of-6-field read (the
      // shape where pruning matters): the kernel bound must cost ~one
      // comparison over the unbounded join on the SAME projection, and
      // — the round-14 claim — must keep payload pruning alive, which
      // the whole-struct post-condition rebuild (the pre-kernel
      // formulation, kept here as the measured counterfactual) defeats.
      // tol_shuffle_mb vs tol_post_shuffle_mb IS that claim in bytes:
      // same inputs, same answers (tol_diff must be 0), the post form
      // shuffles every payload column for a two-field read.
      val stale = 100000L
      def sel(df: DataFrame) =
        df.selectExpr("k", "lid", "asof.p0 AS p0", "asof.p5 AS p5")
      def tolKernel = sel(AsofJoin.asofJoinNative(
        l, r, Seq("k"), "t", "t", "rid", broadcast = Some(false),
        maxStale = Some(lit(stale))))
      def tolUnbounded = sel(AsofJoin.asofJoinNative(
        l, r, Seq("k"), "t", "t", "rid", broadcast = Some(false)))
      def tolPost = sel(AsofJoin.asofJoinNative(
          l, r, Seq("k"), "t", "t", "rid", broadcast = Some(false))
        .withColumn("asof", when(
          col("asof").getField("t") >= col("t") - lit(stale), col("asof"))))
      val tolSec = timeNoop(tolKernel)
      val tolUnboundedSec = timeNoop(tolUnbounded)
      val tolPostSec = timeNoop(tolPost)
      val tolMb = shuffleWriteMb(spark, tolKernel)
      val tolPostMb = shuffleWriteMb(spark, tolPost)
      val tdiff = tolKernel.exceptAll(tolPost).count() +
        tolPost.exceptAll(tolKernel).count()
      System.err.println(f"[scale-asof] n=$n%8d composed=$composedSec%7.2fs " +
        f"native=$nativeSec%7.2fs split=$splitSec%7.2fs diff=$diff " +
        f"sdiff=$sdiff sqlsplit=$sqlSplitSec%7.2fs sqdiff=$sqdiff " +
        f"sqshare=$shareSqlSplit%.3f share=$shareNative%.3f->$shareSplit%.3f " +
        f"bcast_composed=$bcastComposedSec%7.2fs bcast=$bcastSec%7.2fs " +
        f"bdiff=$bdiff tol=$tolSec%6.2fs unbounded=$tolUnboundedSec%6.2fs " +
        f"post=$tolPostSec%6.2fs mb=$tolMb%.1f vs $tolPostMb%.1f tdiff=$tdiff")
      s"""{"n":$n,"composed_sec":$composedSec,""" +
        s""""native_sec":$nativeSec,"asof_diff":$diff,""" +
        s""""split_sec":$splitSec,"split_diff":$sdiff,""" +
        s""""sqlsplit_sec":$sqlSplitSec,"sqlsplit_diff":$sqdiff,""" +
        s""""sqlsplit_hot_share":$shareSqlSplit,""" +
        s""""hot_share_native":$shareNative,"hot_share_split":$shareSplit,""" +
        s""""bcast_composed_sec":$bcastComposedSec,""" +
        s""""bcast_sec":$bcastSec,"bcast_diff":$bdiff,""" +
        s""""tol_sec":$tolSec,"tol_unbounded_sec":$tolUnboundedSec,""" +
        s""""tol_post_sec":$tolPostSec,"tol_shuffle_mb":$tolMb,""" +
        s""""tol_post_shuffle_mb":$tolPostMb,"tol_diff":$tdiff}"""
    }
    deleteRecursively(root)
    rows
  }

  def main(args: Array[String]): Unit = {
    import graft.operators.EmbeddingDedup
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val sizes = sys.env.getOrElse("SPARK_GRAFT_SCALE_NS", "2048,8192,32768")
      .split(",").map(_.trim.toLong).toSeq
    val threshold = 0.9
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus.toInt)
      .getOrCreate()
    GraftSession.requireSqlSurface(spark)
    spark.sparkContext.setLogLevel("WARN")

    // warm both pipeline shapes once at a size whose cost is noise, so
    // per-size timings measure data volume, not first-run codegen/JIT
    locally {
      val w = corpus(spark, sfDir, 512, 8).persist(); w.count()
      EmbeddingDedup.cosinePairs(w, "vec_id", "embedding", threshold)
        .write.format("noop").mode("overwrite").save()
      EmbeddingDedup.cosinePairsBucketed(w, "vec_id", "embedding", threshold, 8)
        .write.format("noop").mode("overwrite").save()
      graft.engine.CacheRegistry.releaseAll()
      w.unpersist(true)
    }

    val points = sizes.map { n =>
      val clusters = math.max(8, (n / 256).toInt)
      // materialize the corpus once so generation cost isn't billed to
      // either path
      val emb = corpus(spark, sfDir, n, clusters).persist()
      emb.count()

      val bruteSec = timeNoop(
        EmbeddingDedup.cosinePairs(emb, "vec_id", "embedding", threshold))
      val bucketedSec = timeNoop(
        EmbeddingDedup.cosinePairsBucketed(
          emb, "vec_id", "embedding", threshold, numCells = clusters))

      // exactness: the two paths must produce identical pair sets —
      // measured here at every scale point, not assumed from the spec
      val brute = EmbeddingDedup.cosinePairs(emb, "vec_id", "embedding", threshold)
      val bucketed = EmbeddingDedup.cosinePairsBucketed(
        emb, "vec_id", "embedding", threshold, numCells = clusters)
      val missing = brute.exceptAll(bucketed).count()
      val extra = bucketed.exceptAll(brute).count()
      val truePairs = brute.count()
      val cands = EmbeddingDedup.bucketedCandidates(
        emb, "vec_id", "embedding", threshold, clusters).count()
      graft.engine.CacheRegistry.releaseAll()
      emb.unpersist(true)

      val brutePairs = n * (n - 1) / 2
      System.err.println(f"[scale] n=$n%6d brute=$bruteSec%7.2fs " +
        f"bucketed=$bucketedSec%7.2fs cands=$cands (${cands * 100.0 / brutePairs}%.2f%% " +
        f"of $brutePairs) pairs=$truePairs exact=${missing == 0 && extra == 0}")
      s"""{"n":$n,"clusters":$clusters,"threshold":$threshold,""" +
        s""""true_pairs":$truePairs,"brute_pairs":$brutePairs,""" +
        s""""bucketed_candidates":$cands,"brute_sec":$bruteSec,""" +
        s""""bucketed_sec":$bucketedSec,"missing":$missing,"extra":$extra}"""
    }

    val incSizes = sys.env.getOrElse("SPARK_GRAFT_SCALE_INC_NS",
      "8192,32768,131072").split(",").map(_.trim.toLong).toSeq
    // text sweep: long docs at larger sizes — the regime where inline
    // re-sketching (∝ corpus token volume) dominates the fixed join
    // cost and the store-vs-inline divergence is measurable
    val incTextSizes = sys.env.getOrElse("SPARK_GRAFT_SCALE_INC_TEXT_NS",
      "65536,262144,1048576").split(",").map(_.trim.toLong).toSeq
    val incTextTokens =
      sys.env.getOrElse("SPARK_GRAFT_SCALE_INC_TOKENS", "300").toInt
    val incBatch = sys.env.getOrElse("SPARK_GRAFT_SCALE_BATCH", "1024").toLong
    val (textInc, embInc) = incrementalSweep(spark, sfDir,
      incTextSizes, incTextTokens, incSizes, incBatch)
    val driftPoints = driftSweep(spark, sfDir, incSizes, incBatch)

    val deconCorpus = sys.env.getOrElse("SPARK_GRAFT_SCALE_DECON_CORPUS",
      "524288").toLong
    val deconEvals = sys.env.getOrElse("SPARK_GRAFT_SCALE_DECON_EVALS",
      "1024,16384,65536").split(",").map(_.trim.toLong).toSeq
    val (dcN, dcGrams, deconPoints) = decontamSweep(spark, deconCorpus, deconEvals)

    val ccNs = sys.env.getOrElse("SPARK_GRAFT_SCALE_CC_NS",
      "16384,65536,262144").split(",").map(_.trim.toLong).toSeq
    val ccPoints = ccSweep(spark, ccNs)

    val acceptNs = sys.env.getOrElse("SPARK_GRAFT_SCALE_ACCEPT_NS",
      "65536,262144").split(",").map(_.trim.toLong).toSeq
    val acceptBatches =
      sys.env.getOrElse("SPARK_GRAFT_SCALE_ACCEPT_BATCHES", "4").toInt
    val acceptPoints = acceptSweep(spark, acceptNs, acceptBatches,
      incBatch, incTextTokens)

    val incClustNs = sys.env.getOrElse("SPARK_GRAFT_SCALE_INCCLUST_NS",
      "65536,262144,1048576").split(",").map(_.trim.toLong).toSeq
    val incClustPoints = incClusterSweep(spark, incClustNs, incBatch,
      incTextTokens)

    val asofNs = sys.env.getOrElse("SPARK_GRAFT_SCALE_ASOF_NS",
      "262144,1048576,4194304").split(",").map(_.trim.toLong).toSeq
    val asofPoints = asofSweep(spark, asofNs)

    val json = s"""{"what":"brute vs bucketed embedding near-dup on a clustered corpus with twin near-dups (centers from $sfDir/embeddings.parquet)","cpus":$cpus,"points":[${points.mkString(",")}],"incremental":{"what":"per-ingest cost, FIXED batch vs growing corpus: persisted-store path (sketch/index built once) vs inline re-sketch per ingest; path_diff must be 0 (identical pair sets). Text runs on LONG docs (tokens field) where re-sketch cost (proportional to corpus token volume) dominates; embedding rebuild term is small vs the probe join at these sizes, so its rows stay close - the stored index's win there is the partition-pruned layout (StoreSpec)","text":[${textInc.mkString(",")}],"embedding":[${embInc.mkString(",")}]},"drift":{"what":"stored k-center landmark probe (q112), FIXED batch vs growing corpus: index built once vs re-running the traversal per ingest; probe_sec must stay flat while rebuild_sec grows; path_diff must be 0 (identical assignments)","points":[${driftPoints.mkString(",")}]},"decontamination":{"what":"bloom-prune + exact-confirm vs plain gram join, FIXED corpus vs growing eval set (eval mostly novel, 1-in-16 docs leaked from the corpus); survivors = corpus gram rows left to shuffle after the prune; path_diff must be 0","corpus_n":$dcN,"corpus_grams":$dcGrams,"points":[${deconPoints.mkString(",")}]},"connected_components":{"what":"one-hop min-label propagation vs hybrid (4 one-hop + star contraction) vs the driver union-find short-circuit on supercritical sparse random graphs (mean degree ~2.4): one-hop rounds track diameter and grow with n, hybrid star rounds stay flat, and under the 1M-edge threshold the union-find replaces every distributed round with one bounded collect (unionfind_sec is the before/after for that claim); label_diff and unionfind_label_diff must be 0 (identical clusterings)","points":[${ccPoints.mkString(",")}]},"accept":{"what":"accept-path (q121) cost shape: accept_sec must stay flat in BOTH corpus size and already-accepted batch count (accept touches only the batch); probe_sec with a FIXED probe grows only with delta volume, not corpus; pairs constant across the sweep; the final point's path_diff vs a full inline recompute over corpus+accepted must be 0 (earlier points null - parity re-sketches everything)","points":[${acceptPoints.mkString(",")}]},"incremental_clusters":{"what":"q123/q124's contract: stored labels + sketch tables at rest, fixed ingest batch (half cross-edges into existing clusters, half novel batch-only twins) - three paths: full-relabel incremental (q123 shape, corpus-sized output), label-DELTA incremental (q124's persisted accept shape - only changed/new labels materialize; delta_sec must stay near-flat as the corpus grows, its only corpus-scale work being narrow scans), and full re-sketch-and-recluster (full_sec grows with corpus token volume); path_diff and delta_diff must be 0 (identical labelings; delta checked after applying it over the stored labels)","points":[${incClustPoints.mkString(",")}]},"asof":{"what":"composed (union + ordered window, one combined-width shuffle + WindowExec per-key buffering) vs NATIVE custom-operator as-of join (per-side own-width shuffles, O(1) streaming merge - plans/AsofJoinExec) on at-rest inputs with a hot key (~25% of both sides) and a 6-column right payload; asof_diff must be 0 (identical answers). bcast_* is the dimension-sized regime: the same growing left against a FIXED 64k-row right, composed vs BroadcastAsofJoinExec (fact side never exchanged or sorted) - bcast_sec should stay near a plain left scan while bcast_composed_sec grows with the left's shuffle volume; bcast_diff must be 0. split_* is the NATIVE SKEW path (asofJoinNative with numSplits: same exec planned over (key, time bucket) with carried per-bucket last rows): split_diff must be 0, and hot_share_* is the hot key's max per-task share of its own output rows - 1.0 on the plain native exec (ClusteredDistribution serializes the key on one task), dropping toward 1/numSplits on the split plan (coalescing off for the measurement). sqlsplit_* is the SAME skew answer issued from PURE SQL (the asof_join TVF's 'split:8' path, round 15): lowered by ResolveAsofJoin.lowerSplit like the DataFrame call, with the bucket bounds as runtime scalar subqueries - sqlsplit_diff must be 0 and sqlsplit_hot_share must match hot_share_split (both front doors spread the hot key identically). tol_* is the STALENESS-BOUNDED regime on a 2-of-6-field read: tol_sec (kernel bound - one row-local comparison, pruning alive) vs tol_unbounded_sec (same pruned projection, no bound) vs tol_post_sec (the whole-struct post-condition rebuild, the pre-round-14 formulation kept as the counterfactual - it blinds PruneAsofPayload); tol_shuffle_mb vs tol_post_shuffle_mb is the pruning-transparency claim in shuffle-write bytes on identical inputs; tol_diff must be 0 (kernel == post-condition answers)","points":[${asofPoints.mkString(",")}]}}"""
    println(json)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "SCALE_EVIDENCE.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath), (json + "\n").getBytes("UTF-8"))
    catch { case e: java.io.IOException =>
      System.err.println(s"[scale] could not write $outPath: ${e.getMessage}")
    }
    spark.stop()
  }
}
