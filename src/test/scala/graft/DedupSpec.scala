package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.DriverLocal
import graft.operators.{Dedup, Multimodal, Similarity}

/** Semantics of the hash-based LLM-pipeline operators (MinHash/LSH,
  * SimHash, LSH-ANN, multimodal stub) that the DuckDB oracle cannot
  * reproduce. */
class DedupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("dot_product / hamming_bytes: generated code == interpreted == Column formulation") {
    val s = spark
    import s.implicits._
    import graft.functions.VectorOps
    val rnd = new scala.util.Random(17)
    val rows = Seq.tabulate(200) { i =>
      val a = if (i % 13 == 0) null
        else Array.fill(64)(rnd.nextFloat() * 2 - 1).toSeq
      val b = if (i % 17 == 0) null
        else Array.fill(64)(rnd.nextFloat() * 2 - 1).toSeq
      val x = if (i % 11 == 0) null
        else Array.fill(8 + i % 3)(rnd.nextInt(256).toByte)
      val y = if (i % 19 == 0) null
        else Array.fill(8)(rnd.nextInt(256).toByte)
      (i.toLong, a, b, x, y)
    }
    val df = rows.toDF("id", "va", "vb", "ba", "bb")
    def canon() = df.select($"id",
        VectorOps.dotProduct($"va", $"vb").as("dp"),
        VectorOps.hammingBytes($"ba", $"bb").as("hd"))
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Double]),
        Option(r.get(2)).map(_.asInstanceOf[Int])))
      .sortBy(_._1).toSeq
    val gen = canon()
    val key = "spark.sql.codegen.wholeStage"
    val prev = s.conf.get(key)
    try {
      s.conf.set(key, "false")
      assert(canon() === gen, "interpreted eval must equal generated code")
    } finally s.conf.set(key, prev)
    // and the index-order left fold matches the Column formulation the
    // DuckDB oracles mirror, bit for bit
    val viaZip = df.select($"id", aggregate(
        zip_with($"va", $"vb", (x, y) =>
          x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v).as("dp"))
      .collect().map(r => r.getLong(0) ->
        Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
    gen.foreach { case (id, dp, _) => assert(dp === viaZip(id), s"id=$id") }
  }

  private def docs = {
    val s = spark
    import s.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      // near-dup of 0: one word changed
      (1L, "the quick brown fox jumps over the lazy cat near the river bank today"),
      // unrelated
      (2L, "completely different content about spark shuffles and parquet column pruning"),
      // exact dup of 0
      (3L, "the quick brown fox jumps over the lazy dog near the river bank today")
    ).toDF("doc_id", "text")
  }

  test("minhash LSH finds exact and near duplicates, not unrelated pairs") {
    // 16 bands of 2 rows: catch probability at jaccard 0.6 is ~99.9%
    // (the default 8×4 banding leaves ~33% miss chance for this pair);
    // false candidates are removed by the exact-jaccard filter anyway
    val pairs = Dedup.multiSketchPairs(docs, "doc_id", "text",
      threshold = 0.5, k = 32, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((0L, 3L))) // exact dup
    assert(pairs.find(p => p._1 == 0L && p._2 == 3L).get._3 === 1.0)
    assert(keys.contains((0L, 1L)) || keys.contains((1L, 3L))) // near dup caught
    assert(!keys.exists(p => p._1 == 2L || p._2 == 2L)) // unrelated excluded
  }

  test("incremental multi-sketch dedup equals exact batch-vs-corpus Jaccard") {
    val s = spark
    import s.implicits._
    // 6 docs: even ids {0,2,4} are the "batch", odd ids {1,3,5} the
    // corpus; dups span both directions (batch doc duplicating corpus
    // doc and vice versa)
    val all = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten eleven"),
      (3L, "one two three four five six seven eight nine ten twelve"),
      (4L, "unrelated batch text about catalyst rules and broadcast joins"),
      (5L, "another unrelated corpus document mentioning shuffle partitions")
    ).toDF("doc_id", "text")
    val isBatch = (id: Long) => id % 2 == 0
    val batch = all.filter($"doc_id" % 2 === 0)
    val corpus = all.filter($"doc_id" % 2 =!= 0)
    val inc = Dedup.incrementalMinhashPairs(
      Dedup.corpusSketch(corpus, "doc_id", "text"), batch,
      "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // ground truth: EXACT batch-vs-corpus Jaccard (no sketch) — the
    // band candidates must reach every true pair here
    val whole = batch
      .select($"doc_id".as("ba"), Dedup.shingles($"text").as("sa"))
      .crossJoin(corpus
        .select($"doc_id".as("ca"), Dedup.shingles($"text").as("sb")))
      .select($"ba", $"ca", Dedup.jaccard($"sa", $"sb").as("j"))
      .filter($"j" >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(inc === whole)
    assert(isBatch(0L)) // guard the fixture's batch membership
    assert(inc.exists(p => p._1 == 0L && p._2 == 1L)) // batch dup of corpus doc
    graft.engine.CacheRegistry.releaseAll()
  }

  test("incremental dedup: oversized batch degrades to shuffle join, small batch keeps broadcast") {
    val s = spark
    import s.implicits._
    val all = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten eleven"),
      (3L, "one two three four five six seven eight nine ten twelve")
    ).toDF("doc_id", "text")
    val batch = all.filter($"doc_id" % 2 === 0)
    val corpus = all.filter($"doc_id" % 2 =!= 0)
    val prevThreshold = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // disable size-based auto-broadcast so the plan shape is decided
    // purely by the operator's hint (or its absence)
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def bhjCount(df: org.apache.spark.sql.DataFrame): Int = {
        df.collect() // finalize any adaptive plan
        PlanShape.nodes(df).count(
          _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec])
      }
      def run(maxBroadcastDocs: Long) = Dedup.incrementalMinhashPairs(
        Dedup.corpusSketch(corpus, "doc_id", "text"), batch,
        "doc_id", "text", threshold = 0.5,
        maxBroadcastBatchDocs = maxBroadcastDocs)
      // batch over the threshold: NO broadcast hint — the candidate
      // joins shuffle instead of risking the broadcast hard limit
      val big = run(maxBroadcastDocs = 0L)
      assert(bhjCount(big) === 0, "oversized batch must not be broadcast")
      val bigPairs = big.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(bigPairs === Set((0L, 1L), (2L, 3L))) // answer unchanged
      graft.engine.CacheRegistry.releaseAll()
      // batch under the threshold: hint applies, corpus side never
      // shuffles for candidate generation (the band join is a BHJ)
      val small = run(maxBroadcastDocs = 1000000L)
      assert(bhjCount(small) >= 1, "small batch must broadcast its bucket keys")
      assert(small.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
        Set((0L, 1L), (2L, 3L)))
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      graft.engine.CacheRegistry.releaseAll()
    }
  }

  test("simhash: identical texts equal, near-dups close, unrelated far") {
    val s = spark
    import s.implicits._
    val out = docs.select($"doc_id", Dedup.simhash($"text").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(0L) === out(3L))
    val near = java.lang.Long.bitCount(out(0L) ^ out(1L))
    val far = java.lang.Long.bitCount(out(0L) ^ out(2L))
    assert(near < far, s"near=$near far=$far")
    assert(near <= 16)
  }

  test("LSH-ANN: identical vectors share a bucket and rank first") {
    val s = spark
    import s.implicits._
    val base = Array.tabulate(16)(i => math.sin(i + 1).toFloat)
    val nearV = base.clone(); nearV(0) = nearV(0) + 0.01f
    val other = Array.tabulate(16)(i => math.cos(3 * i + 2).toFloat)
    val emb = Seq((0L, base.toSeq), (1L, nearV.toSeq), (2L, other.toSeq))
      .toDF("vec_id", "embedding")
    val res = Similarity.annLsh(emb, "vec_id", "embedding",
      emb.filter($"vec_id" === 0L), k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(res.nonEmpty)
    assert(res.head === ((0L, 1L, 1L))) // near vector is rank-1 neighbor
  }

  test("multimodal: stub decode is deterministic and frame sampling shapes hold") {
    val s = spark
    import s.implicits._
    val ids = Seq(7L, 8L).toDF("vec_id")
    val media = Multimodal.syntheticMedia(s, ids, "vec_id")
    val f1 = Multimodal.extractFeatures(media, 4).collect().sortBy(_.media_id)
    val f2 = Multimodal.extractFeatures(media, 4).collect().sortBy(_.media_id)
    assert(f1.map(_.checksum).toSeq === f2.map(_.checksum).toSeq)
    assert(f1.forall(_.n_bytes === 16L))
    assert(f1.forall(_.features.length === 4))
    assert(f1.find(_.media_id == 7L).get.kind === "audio")
    assert(f1.find(_.media_id == 8L).get.kind === "image")
    val frames = Multimodal.sampleFrames(media, frameBytes = 4, everyNth = 2)
    // 16 bytes / 4 = 4 frames, every 2nd → 2 per media
    assert(frames.count() === 4L)
    assert(frames.select(max(length($"frame"))).head.getInt(0) === 4)
    val small = Multimodal.resize(media, factor = 2).collect().sortBy(_.media_id)
    assert(small.forall(_.payload.length === 8)) // 16 bytes / 2
    assert(small.forall(m => m.width === 32 && m.height === 32))
    // resized payload = even-index bytes of the original
    val orig = media.collect().sortBy(_.media_id)
    assert(small.head.payload.toSeq ===
      orig.head.payload.zipWithIndex.collect { case (b, i) if i % 2 == 0 => b }.toSeq)
  }

  test("simhash Hamming-LSH pairs find near-dups without O(n^2) compare") {
    val pairs = graft.operators.SimhashPairs.pairs(docs, "doc_id", "text",
      maxHamming = 16, chunks = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((0L, 3L))) // exact dup: hamming 0, all chunks match
    assert(pairs.find(p => p._1 == 0L && p._2 == 3L).get._3 === 0)
  }

  test("IVF ANN: identical vector found at rank 1; recall vs brute force") {
    val s = spark
    import s.implicits._
    import graft.operators.IvfAnn
    val vecs = (0L until 40L).map { i =>
      (i, Array.tabulate(16)(j => math.sin(i * 17 + j).toFloat).toSeq)
    }
    // vector 40 duplicates vector 5
    val emb = (vecs :+ (40L, vecs(5)._2)).toDF("vec_id", "embedding")
    val cents = IvfAnn.centroids(emb, "vec_id", "embedding", c = 4)
    val assigned = IvfAnn.assign(emb, "vec_id", "embedding", cents)
    val res = IvfAnn.search(assigned, "vec_id", "embedding", cents,
      emb.filter($"vec_id" === 5L), k = 1, nprobe = 4)
      .collect()
    // nprobe = all cells → exhaustive: the duplicate must be rank 1
    assert(res.head.getLong(2) === 40L)
  }

  test("IVF refine: the driver-local Lloyd loop equals the distributed one") {
    val s = spark
    import s.implicits._
    import graft.operators.IvfAnn
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val emb = (0L until 41L).map { i =>
      (i, Array.tabulate(16)(j => math.sin(i * 17 + j).toFloat).toSeq)
    }.toDF("vec_id", "embedding").repartition(3)
    val seeds = IvfAnn.centroids(emb, "vec_id", "embedding", c = 4)
    def refine(in: DataFrame, maxRows: Long) = DriverLocalSpec.withMaxRows(s, maxRows) {
      IvfAnn.refine(in, "vec_id", "embedding", seeds)
    }
    def isLocal(df: DataFrame) =
      df.queryExecution.analyzed.isInstanceOf[LocalRelation]
    def cells(df: DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).sortBy(_._1).toSeq
    def assertSameCells(a: DataFrame, b: DataFrame): Unit = {
      val (ca, cb) = (cells(a), cells(b))
      assert(ca.map(_._1) === cb.map(_._1))
      ca.zip(cb).foreach { case ((id, va), (_, vb)) =>
        assert(va.length === vb.length)
        va.zip(vb).foreach { case (x, y) =>
          // double summation order may move the mean by an ulp
          assert(math.abs(x - y) <= 1e-6f, s"cell $id: $va vs $vb")
        }
      }
    }
    // the default bound runs locally; a bound of 0 forces the loop
    val local = refine(emb, DriverLocal.DefaultMaxRows)
    val distributed = refine(emb, 0L)
    assert(isLocal(local) && !isLocal(distributed))
    assertSameCells(local, distributed)
    // 41 rows: a bound of 41 still fits, one row over it (40) does not
    val atBound = refine(emb, 41L)
    val overBound = refine(emb, 40L)
    assert(isLocal(atBound) && !isLocal(overBound))
    assertSameCells(atBound, overBound)
    assertSameCells(overBound, distributed)
    // an empty sample returns the seeds themselves on either path
    Seq(DriverLocal.DefaultMaxRows, 0L).foreach { m =>
      assert(refine(emb.filter(lit(false)), m) eq seeds)
    }
  }

  test("embedding cosine near-dup pairs: duplicate vector scores 1.0") {
    val s = spark
    import s.implicits._
    import graft.operators.EmbeddingDedup
    val v = Array.tabulate(8)(i => (i + 1).toFloat).toSeq
    val other = Array.tabulate(8)(i => math.cos(5 * i + 1).toFloat).toSeq
    val emb = Seq((1L, v), (2L, v), (3L, other)).toDF("vec_id", "embedding")
    val pairs = EmbeddingDedup.cosinePairs(emb, "vec_id", "embedding", 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq === Seq((1L, 2L, 1.0)))
  }

  test("Hamming search over stored hash bytes finds near hashes via chunk probes") {
    val s = spark
    import s.implicits._
    import graft.operators.HammingSearch
    def b(hex: String): Array[Byte] =
      hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val hashes = Seq(
      (1L, 1L, 2L, b("AABBCCDD")),
      (2L, 2L, 2L, b("AABBCCDF")), // hamming 1 from query
      (3L, 3L, 2L, b("00112233")), // far
      (4L, 4L, 7L, b("AABBCCDD"))) // other algo: excluded
      .toDF("hash_id", "file_id", "algo_id", "hash_value")
    val hits = HammingSearch.search(hashes, algoId = 2L, b("AABBCCDD"),
      maxHamming = 2, chunks = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(hits === Map(1L -> 0, 2L -> 1))
  }

  test("salted aggregation equals direct aggregation (skew primitive)") {
    val s = spark
    import s.implicits._
    import graft.operators.Skew
    // heavily skewed: key 1 holds 90% of rows
    val df = ((1 to 900).map(i => (1L, i.toLong)) ++
      (1 to 100).map(i => (2L + i % 5, i.toLong))).toDF("k", "v")
    val salted = Skew.saltedAggregate(df, Seq("k"), Seq($"v"), salts = 8,
      partial = Seq(count(lit(1)).as("__n"), sum($"v").as("__s"), max($"v").as("__m")),
      finalAgg = Seq(sum($"__n").as("n"), sum($"__s").as("total"), max($"__m").as("vmax")))
      .orderBy("k").collect().map(_.toString)
    val direct = df.groupBy($"k")
      .agg(count(lit(1)).as("n"), sum($"v").as("total"), max($"v").as("vmax"))
      .orderBy("k").collect().map(_.toString)
    assert(salted === direct)
  }

  test("jaccard shingle guard: short texts fall back to whole-text shingle") {
    val s = spark
    import s.implicits._
    val short = Seq((0L, "one two"), (1L, "one two")).toDF("doc_id", "text")
    val j = short.select(Dedup.jaccard(
      Dedup.shingles($"text"), Dedup.shingles($"text"))).head.getDouble(0)
    assert(j === 1.0)
  }

  test("winnowing: docs sharing a k+w-1 token run share a fingerprint; disjoint docs don't") {
    val s = spark
    import s.implicits._
    import graft.functions.TextHashes
    val shared = "one two three four five six seven eight" // 8 = k+w-1
    val docs = Seq(
      (1L, s"alpha beta $shared gamma"),
      (2L, s"delta $shared epsilon zeta"),
      (3L, "totally different words with no common run at all")).toDF("id", "text")
    val fp = docs.select($"id",
      TextHashes.winnowFingerprint(Dedup.tokens($"text"), 4, 5).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert((fp(1L) & fp(2L)).nonEmpty, "guaranteed shared fingerprint missing")
    assert((fp(1L) & fp(3L)).isEmpty && (fp(2L) & fp(3L)).isEmpty)
  }

  test("winnowing fallbacks: short docs hash whole text, few k-grams keep all") {
    val s = spark
    import s.implicits._
    import graft.functions.TextHashes
    def md5hex(x: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val fp = Seq((1L, "just three tokens"), (2L, "one two three four five six"))
      .toDF("id", "text")
      .select($"id", TextHashes.winnowFingerprint(Dedup.tokens($"text"), 4, 5).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    // < k tokens: single whole-text hash
    assert(fp(1L) === Seq(md5hex("just three tokens")))
    // 6 tokens -> 3 k-grams <= window: all kept (distinct, sorted)
    val grams = Seq("one two three four", "two three four five",
      "three four five six").map(md5hex).sorted
    assert(fp(2L) === grams)
  }

  test("connected components: chains collapse to min label, singletons separate") {
    val s = spark
    import s.implicits._
    // components: {1,2,3,4} (chain), {10,11}, {20,21,22} (triangle)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connected components: a 300-node path with shuffled ids beats the diameter") {
    val s = spark
    import s.implicits._
    // diameter-299 chain whose ids are a fixed permutation (so min
    // labels must cross the whole path in BOTH directions) — one-hop
    // min propagation needs ~300 rounds and would blow maxIter = 20;
    // star contraction must converge regardless of diameter
    val ids = new scala.util.Random(7).shuffle((0L until 300L).toVector)
    val pairs = ids.sliding(2).map(w => (w(0), w(1))).toSeq
      .toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(cc.length === 300)
    assert(cc.forall(_._2 === 0L)) // one component, min id 0
  }

  test("bucketed cosine near-dup equals brute force and prunes a clustered corpus") {
    val s = spark
    import s.implicits._
    import graft.operators.EmbeddingDedup
    // clustered corpus: 8 well-separated centers (seeded), 25 members
    // each = center + small jitter — the production near-dup shape
    val rnd = new scala.util.Random(42)
    val centers = Array.fill(8)(Array.fill(16)(rnd.nextGaussian()))
    val rows = for {
      c <- centers.indices; m <- 0 until 25
    } yield {
      val v = centers(c).map(x => (x + 0.05 * rnd.nextGaussian()).toFloat)
      ((c * 25 + m).toLong, v.toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val threshold = 0.9
    val brute = EmbeddingDedup.cosinePairs(emb, "vec_id", "embedding", threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val bucketed = EmbeddingDedup.cosinePairsBucketed(
      emb, "vec_id", "embedding", threshold, numCells = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(bucketed === brute) // exact recall AND no false pairs
    assert(brute.nonEmpty)
    val nCand = EmbeddingDedup.bucketedCandidates(
      emb, "vec_id", "embedding", threshold, numCells = 8).count()
    val allPairs = rows.size.toLong * (rows.size - 1) / 2
    assert(nCand < allPairs / 2,
      s"no pruning on a clustered corpus: $nCand candidates vs $allPairs pairs")
    graft.engine.CacheRegistry.releaseAll()
  }

  test("incremental embedding near-dup equals brute batch-vs-corpus pairs") {
    val s = spark
    import s.implicits._
    import graft.operators.EmbeddingDedup
    // same clustered shape as the bucketed test: 8 centers, 25 members
    val rnd = new scala.util.Random(91)
    val centers = Array.fill(8)(Array.fill(16)(rnd.nextGaussian()))
    val rows = for { c <- centers.indices; m <- 0 until 25 } yield {
      val v = centers(c).map(x => (x + 0.05 * rnd.nextGaussian()).toFloat)
      ((c * 25 + m).toLong, v.toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val corpus = emb.filter($"vec_id" % 5 =!= 0)
    val batch = emb.filter($"vec_id" % 5 === 0)
    val threshold = 0.9
    val inc = EmbeddingDedup.cosinePairsIncremental(
      corpus, batch, "vec_id", "embedding", threshold, numCells = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // ground truth: brute pairs on the union, restricted + re-oriented
    // to (batch, corpus)
    val brute = EmbeddingDedup.cosinePairs(emb, "vec_id", "embedding", threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(p => (p._1 % 5 == 0) != (p._2 % 5 == 0))
      .map(p => if (p._1 % 5 == 0) p else (p._2, p._1, p._3)).toSet
    assert(inc === brute)
    assert(inc.nonEmpty)
    graft.engine.CacheRegistry.releaseAll()
  }

  test("bucketed cosine near-dup stays exact when pruning degenerates (uniform data)") {
    val s = spark
    import s.implicits._
    import graft.operators.EmbeddingDedup
    val rnd = new scala.util.Random(7)
    val emb = (0L until 120L).map(i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat).toSeq))
      .toDF("vec_id", "embedding")
    // loose threshold on uniform vectors: probe radius covers every
    // cell, candidates degenerate to all-pairs — output must STILL be
    // exactly the brute-force answer
    val threshold = 0.3
    val brute = EmbeddingDedup.cosinePairs(emb, "vec_id", "embedding", threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val bucketed = EmbeddingDedup.cosinePairsBucketed(
      emb, "vec_id", "embedding", threshold, numCells = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(bucketed === brute)
    graft.engine.CacheRegistry.releaseAll()
  }

  test("CC: driver union-find and distributed loop label the same graph identically") {
    val s = spark
    import s.implicits._
    // one graph stressing both regimes: a 41-node path (diameter far
    // past the one-hop rounds, so the distributed run exercises star
    // contraction), isolated twin pairs, a star, and a random blob
    val rnd = new scala.util.Random(7)
    val path = (0 until 40).map(i => (1000L + i, 1001L + i))
    val twins = (0 until 10).map(i => (2000L + 2 * i, 2001L + 2 * i))
    val star = (1 to 15).map(i => (3000L, 3000L + i))
    val blob = Seq.fill(60)((4000L + rnd.nextInt(50), 4000L + rnd.nextInt(50)))
      .filter(p => p._1 != p._2)
    val edges = (path ++ twins ++ star ++ blob).toDF("a", "b")
    val viaUnionFind = DriverLocalSpec.withMaxRows(s, Long.MaxValue) {
      Dedup.connectedComponentsWithStats(edges, "a", "b")
    }
    val viaLoop = DriverLocalSpec.withMaxRows(s, 0L) {
      Dedup.connectedComponentsWithStats(edges, "a", "b")
    }
    assert(viaUnionFind._2 === 0, "threshold=MaxValue must take the local path")
    assert(viaLoop._2 > 0, "threshold=0 must take the distributed loop")
    assert(viaUnionFind._1.schema === viaLoop._1.schema,
      "output schema must not depend on the runtime path")
    val l = viaUnionFind._1.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val d = viaLoop._1.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(l === d)
    // and both agree the path collapsed to its min id
    assert(l.filter(_._1 >= 1000L).filter(_._1 <= 1040L).forall(_._2 == 1000L))
  }

  test("CC: local path preserves integral id types; non-integral ids always take the loop") {
    val s = spark
    import s.implicits._
    val intEdges = Seq((5, 6), (6, 7), (10, 11)).toDF("a", "b")
    val viaLocal = DriverLocalSpec.withMaxRows(s, Long.MaxValue) {
      Dedup.connectedComponentsWithStats(intEdges, "a", "b")._1
    }
    assert(viaLocal.schema("node").dataType ===
      org.apache.spark.sql.types.IntegerType)
    assert(viaLocal.collect().map(r => (r.getInt(0), r.getInt(1))).toSet ===
      Set((5, 5), (6, 5), (7, 5), (10, 10), (11, 10)))
    // string ids cannot roundtrip through the long union-find — the
    // short-circuit must defer to the type-agnostic distributed loop
    val strEdges = Seq(("x", "y"), ("y", "z")).toDF("a", "b")
    val stats = DriverLocalSpec.withMaxRows(s, Long.MaxValue) {
      Dedup.connectedComponentsWithStats(strEdges, "a", "b")
    }
    assert(stats._2 > 0, "non-integral ids must take the distributed loop")
    assert(stats._1.collect().map(r => (r.getString(0), r.getString(1))).toSet ===
      Set(("x", "x"), ("y", "x"), ("z", "x")))
  }

  test("one CosineIndex serves multiple thresholds exactly") {
    val s = spark
    import s.implicits._
    import graft.operators.EmbeddingDedup
    val rnd = new scala.util.Random(17)
    val centers = Array.fill(4)(Array.fill(16)(rnd.nextGaussian()))
    val rows = for { c <- centers.indices; m <- 0 until 20 } yield {
      val v = centers(c).map(x => (x + 0.08 * rnd.nextGaussian()).toFloat)
      ((c * 20 + m).toLong, v.toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val corpus = emb.filter($"vec_id" >= 10)
    val batch = emb.filter($"vec_id" < 10)
    // the index carries no theta: the SAME index must answer exactly
    // at a tight and a loose threshold
    val idx = EmbeddingDedup.buildCosineIndex(corpus, "vec_id", "embedding", 4)
    for (threshold <- Seq(0.95, 0.6)) {
      val inc = EmbeddingDedup.cosinePairsIncremental(
        idx, batch, "vec_id", "embedding", threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val brute = EmbeddingDedup.cosinePairs(emb, "vec_id", "embedding", threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .filter(p => (p._1 < 10) != (p._2 < 10))
        .map(p => if (p._1 < 10) p else (p._2, p._1, p._3)).toSet
      assert(inc === brute, s"threshold $threshold")
    }
    graft.engine.CacheRegistry.releaseAll()
  }

  test("bucketed cosine near-dup survives an empty refine sample (tiny corpus)") {
    val s = spark
    import s.implicits._
    import graft.operators.EmbeddingDedup
    // pick ids whose 1-in-4 hash sample is provably empty, so the
    // refined centroid set would be empty without the seed fallback
    val ids = s.range(0, 100).select($"id")
      .filter(pmod(xxhash64($"id"), lit(4)) =!= 0)
      .as[Long].head(3).toSeq
    val emb = ids.zipWithIndex.map { case (id, i) =>
      (id, Seq.tabulate(8)(j => 1.0f + 0.01f * (i * 8 + j)))
    }.toDF("vec_id", "embedding")
    val brute = EmbeddingDedup.cosinePairs(emb, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val bucketed = EmbeddingDedup.cosinePairsBucketed(
      emb, "vec_id", "embedding", 0.9, numCells = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(brute.nonEmpty)
    assert(bucketed === brute)
    graft.engine.CacheRegistry.releaseAll()
  }

  test("within-corpus multi-sketch pairs from the at-rest tables equal the inline path") {
    val s = spark
    import s.implicits._
    // a corpus with an exact dup, a near dup, and unrelated docs —
    // the store-path candidate self-joins must reproduce the inline
    // operator's verified pair set exactly
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (1L, "the quick brown fox jumps over the lazy cat near the river bank today"),
      (2L, "completely different content about spark shuffles and parquet column pruning"),
      (3L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (4L, "yet another unrelated document mentioning broadcast joins and bucketing")
    ).toDF("doc_id", "text")
    val inline = Dedup.multiSketchPairs(corpus, "doc_id", "text",
      threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val sk = Dedup.corpusSketch(corpus, "doc_id", "text")
    val stored = Dedup.multiSketchPairsFromStore(
      sk.select($"doc", $"sh"), Dedup.explodedBands(sk), threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(stored === inline)
    assert(stored.exists(p => p._1 == 0L && p._2 == 3L && p._3 == 1.0))
    graft.engine.CacheRegistry.releaseAll()
  }

  test("within-corpus cosine pairs from the stored index equal the bucketed inline path") {
    val s = spark
    import s.implicits._
    import graft.operators.EmbeddingDedup
    // same clustered shape the bucketed test uses — plus the uniform
    // degenerate check below, since completeness must hold in both
    val rnd = new scala.util.Random(23)
    val centers = Array.fill(6)(Array.fill(16)(rnd.nextGaussian()))
    val rows = for { c <- centers.indices; m <- 0 until 20 } yield {
      val v = centers(c).map(x => (x + 0.05 * rnd.nextGaussian()).toFloat)
      ((c * 20 + m).toLong, v.toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val idx = EmbeddingDedup.buildCosineIndex(emb, "vec_id", "embedding", 6)
    val viaStore = EmbeddingDedup.cosinePairsWithinStore(
      idx.cents, EmbeddingDedup.membersOf(idx), threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inline = EmbeddingDedup.cosinePairsBucketed(
      emb, "vec_id", "embedding", threshold = 0.9, numCells = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaStore === inline)
    assert(viaStore.nonEmpty)
    graft.engine.CacheRegistry.releaseAll()
  }

  test("incremental CC equals full recompute: merges, new clusters, touched singletons") {
    val s = spark
    import s.implicits._
    // corpus graph: clusters {1,2,3}, {10,11}, {20,21}; corpus docs
    // 30, 31 have no corpus-internal edge (edge-less, unlabeled)
    val corpusEdges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val stored = Dedup.connectedComponents(corpusEdges, "doc_a", "doc_b")
    // batch 100..104: 100 bridges clusters {1..} and {10,11} (a MERGE),
    // 101 attaches to previously-unlabeled corpus doc 30, 102-103 form
    // a batch-only cluster, 104 stays edge-less (must not appear)
    val bc = Seq((100L, 2L), (100L, 11L), (101L, 30L))
      .toDF("batch_doc", "corpus_doc")
    val bb = Seq((102L, 103L)).toDF("doc_a", "doc_b")
    val incrementalRows = Dedup.incrementalConnectedComponents(stored, bc, bb)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // exactly one row per node — a set compare alone would hide a
    // node emitted through both the remap and the new-node branch
    assert(incrementalRows.size === incrementalRows.toSet.size,
      "duplicate (node, cluster) rows emitted")
    val incremental = incrementalRows.toSet
    val full = Dedup.connectedComponents(
      corpusEdges
        .unionByName(bc.select($"batch_doc".as("doc_a"), $"corpus_doc".as("doc_b")))
        .unionByName(bb),
      "doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(incremental === full)
    // spot-check the interesting labels: the bridge merged 1s and 10s
    assert(incremental.contains((11L, 1L)) && incremental.contains((100L, 1L)))
    assert(incremental.contains((30L, 30L)) && incremental.contains((101L, 30L)))
    assert(incremental.contains((102L, 102L)) && incremental.contains((103L, 102L)))
    assert(incremental.contains((20L, 20L))) // untouched cluster unchanged
    assert(!incremental.exists(_._1 == 104L)) // edge-less batch doc absent
  }

  // stored labels overridden by one batch's delta (latest-wins is
  // trivial with a single delta) — the application step
  // LlmOps.effectiveClusterLabels runs over the persisted store
  private def applyDelta(stored: org.apache.spark.sql.DataFrame,
      delta: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    stored.join(delta.withColumnRenamed("cluster", "dcl"), Seq("node"), "full_outer")
      .select(col("node"), coalesce(col("dcl"), col("cluster")).as("cluster"))

  test("label-delta incremental CC: delta-applied equals full; untouched clusters stay at rest") {
    val s = spark
    import s.implicits._
    // same fixture as the full-variant test above
    val corpusEdges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val stored = Dedup.connectedComponents(corpusEdges, "doc_a", "doc_b")
      .localCheckpoint()
    val bc = Seq((100L, 2L), (100L, 11L), (101L, 30L))
      .toDF("batch_doc", "corpus_doc")
    val bb = Seq((102L, 103L)).toDF("doc_a", "doc_b")
    val deltaRows = Dedup.incrementalConnectedComponentsDelta(stored, bc, bb)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(deltaRows.size === deltaRows.toSet.size, "duplicate delta rows")
    val delta = deltaRows.toSet
    // the at-rest contract: the untouched cluster {20, 21} must NOT be
    // in the delta, and neither must already-minimal touched members
    // whose label did not change (1, 2, 3 keep label 1)
    assert(!delta.exists(p => p._1 == 20L || p._1 == 21L))
    assert(!delta.exists(p => p._1 == 1L || p._1 == 2L || p._1 == 3L))
    // changed members of the merged {10,11} cluster ARE in the delta,
    // as are the new nodes (batch docs + newly-touched corpus doc 30)
    assert(delta.contains((10L, 1L)) && delta.contains((11L, 1L)))
    assert(delta.contains((100L, 1L)) && delta.contains((30L, 30L)))
    // applied over the stored labels, the delta reproduces the full
    // variant (and hence the from-scratch recompute that test pins)
    val applied = applyDelta(stored,
      Dedup.incrementalConnectedComponentsDelta(stored, bc, bb))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.incrementalConnectedComponents(stored, bc, bb)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(applied === full)
    graft.engine.CacheRegistry.releaseAll()
  }

  test("two-batch delta sequence equals full CC over corpus + both batches") {
    val s = spark
    import s.implicits._
    val corpusEdges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val stored0 = Dedup.connectedComponents(corpusEdges, "doc_a", "doc_b")
      .localCheckpoint()
    // batch 1: 100 merges {1..3} with {10,11}; 102-103 batch-only pair
    val bc1 = Seq((100L, 2L), (100L, 11L)).toDF("batch_doc", "corpus_doc")
    val bb1 = Seq((102L, 103L)).toDF("doc_a", "doc_b")
    val labels1 = applyDelta(stored0,
      Dedup.incrementalConnectedComponentsDelta(stored0, bc1, bb1))
      .localCheckpoint()
    // batch 2: 200 bridges batch-1's {102,103} cluster with corpus
    // cluster {20,21} — a merge whose endpoints BOTH postdate the
    // original corpus labels; 201 attaches to the batch-1-merged giant
    val bc2 = Seq((200L, 103L), (200L, 20L), (201L, 10L))
      .toDF("batch_doc", "corpus_doc")
    val bb2 = s.emptyDataset[(Long, Long)].toDF("doc_a", "doc_b")
    val labels2 = applyDelta(labels1,
      Dedup.incrementalConnectedComponentsDelta(labels1, bc2, bb2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.connectedComponents(
      corpusEdges
        .unionByName(bc1.select($"batch_doc".as("doc_a"), $"corpus_doc".as("doc_b")))
        .unionByName(bb1)
        .unionByName(bc2.select($"batch_doc".as("doc_a"), $"corpus_doc".as("doc_b"))),
      "doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(labels2 === full)
    // the cross-batch bridge merged {102,103,200} with {20,21}:
    // component min is 20
    assert(labels2.contains((102L, 20L)) && labels2.contains((21L, 20L)))
    assert(labels2.contains((201L, 1L))) // attached to the merged giant
    graft.engine.CacheRegistry.releaseAll()
  }

  test("incremental CC rejects a batch whose ids collide with stored nodes") {
    val s = spark
    import s.implicits._
    val stored = Dedup.connectedComponents(
      Seq((1L, 2L), (10L, 11L)).toDF("doc_a", "doc_b"), "doc_a", "doc_b")
      .localCheckpoint()
    // batch doc 10 already exists in the stored labels — an upsert
    // masquerading as an accept must fail fast, not double-emit
    val bc = Seq((10L, 2L)).toDF("batch_doc", "corpus_doc")
    val bb = s.emptyDataset[(Long, Long)].toDF("doc_a", "doc_b")
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalConnectedComponentsDelta(stored, bc, bb).collect()
    }
    assert(e.getMessage.contains("upsert"))
    val e2 = intercept[IllegalArgumentException] {
      Dedup.incrementalConnectedComponents(stored, bc, bb).collect()
    }
    assert(e2.getMessage.contains("upsert"))
    graft.engine.CacheRegistry.releaseAll()
  }

  test("CacheRegistry: retained frames are cached until releaseAll") {
    val s = spark
    import s.implicits._
    val retained = graft.engine.CacheRegistry.retain(
      Seq(1L, 2L, 3L).toDF("x"))
    retained.count()
    assert(retained.storageLevel.useMemory)
    graft.engine.CacheRegistry.releaseAll()
    assert(retained.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
  }

  test("int8 quantization: values in [-127,127], zero vector -> whole-array null") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f)),
      (2L, Seq(0.0f, 0.0f, 0.0f))) // zero vector
      .toDF("vec_id", "embedding")
    val q = graft.operators.Quantize.quantizeInt8(df, "embedding", "qv")
      .select($"vec_id", $"qv", $"qv_scale").collect()
      .map(r => r.getLong(0) ->
        ((Option(r.get(1)).map(_ => r.getSeq[Double](1)), Option(r.get(2))))).toMap
    val (qv1, scale1) = q(1L)
    assert(scale1.isDefined && scale1.get === 127.0) // 127 / max|x| = 127/1.0
    assert(qv1.get === Seq(64.0, -127.0, 32.0)) // round(0.5*127)=64 (HALF_UP)
    assert(qv1.get.forall(v => v >= -127 && v <= 127 && v == math.rint(v)))
    val (qv2, scale2) = q(2L)
    assert(qv2.isEmpty && scale2.isEmpty) // null array, NOT [null, null, null]
  }

  test("int8 quantization: a null ELEMENT nulls the whole output array") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Seq[java.lang.Float](0.5f, null, 1.0f)), // null slot
      (2L, Seq[java.lang.Float](0.5f, 1.0f, -1.0f))
    ).toDF("vec_id", "embedding")
    val q = graft.operators.Quantize.quantizeInt8(df, "embedding", "qv")
      .select($"vec_id", $"qv").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    // contract: consumers may read elements without per-slot null checks,
    // so a vector with null elements quantizes to null wholesale
    assert(q(1L).isEmpty)
    assert(q(2L).isDefined)
  }

  test("CacheRegistry: retain grows the registry, releaseAll drains our frames") {
    val s = spark
    import s.implicits._
    // the registry is process-global: other suites may retain concurrently,
    // so assert deltas and OUR frames' storage levels, not absolute counts
    val before = graft.engine.CacheRegistry.liveCount
    val held = (1 to 3).map(i =>
      graft.engine.CacheRegistry.retain(Seq(i.toLong).toDF("x")))
    held.foreach(_.count())
    assert(graft.engine.CacheRegistry.liveCount >= before + 3)
    graft.engine.CacheRegistry.releaseAll()
    assert(held.forall(_.storageLevel === org.apache.spark.storage.StorageLevel.NONE))
  }

  test("CacheRegistry: withRetained releases scope-local frames, spares outer ones") {
    val s = spark
    import s.implicits._
    val outer = graft.engine.CacheRegistry.retain(Seq(100L).toDF("x"))
    outer.count()
    val inner = graft.engine.CacheRegistry.withRetained {
      val f = graft.engine.CacheRegistry.retain(Seq(200L).toDF("x"))
      f.count()
      assert(f.storageLevel.useMemory)
      f
    }
    assert(inner.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
    assert(outer.storageLevel.useMemory) // outer frame untouched by the scope
    graft.engine.CacheRegistry.releaseAll()
    assert(outer.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
  }

  test("CacheRegistry: withRetained releases on exception too") {
    val s = spark
    import s.implicits._
    var f: org.apache.spark.sql.DataFrame = null
    intercept[RuntimeException] {
      graft.engine.CacheRegistry.withRetained {
        f = graft.engine.CacheRegistry.retain(Seq(1L).toDF("x"))
        f.count()
        throw new RuntimeException("boom")
      }
    }
    assert(f.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
  }
}
