package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Chunker, Coreset}

/** Semantics of sliding-window chunking (window/stride geometry, full
  * token coverage, no-shuffle plan) and the coreset operators (greedy
  * farthest-point selection order, assignment tie-breaks,
  * prototypicality prune decisions) on handcrafted fixtures. */
class CoresetChunkerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("chunkTokens covers every token with the documented geometry") {
    val s = spark
    import s.implicits._
    // 100 tokens, window 64, stride 48: chunks at 0 (len 64) and 48
    // (len 52) — 1 + ceil((100-64)/48) = 2
    val toks = (1 to 100).map(i => s"t$i")
    val docs = Seq((7L, toks)).toDF("doc_id", "w")
    val out = Chunker.chunkTokens(docs, "doc_id", "w", 64, 48)
      .orderBy("chunk_idx").collect()
    assert(out.length === 2)
    assert(out(0).getAs[Long]("start_tok") === 0L)
    assert(out(0).getAs[Long]("n_tok") === 64L)
    assert(out(0).getAs[String]("chunk_md5") ===
      md5hex(toks.take(64).mkString(" ")))
    assert(out(1).getAs[Long]("start_tok") === 48L)
    assert(out(1).getAs[Long]("n_tok") === 52L)
    assert(out(1).getAs[String]("chunk_md5") ===
      md5hex(toks.drop(48).mkString(" ")))
    // short doc: exactly one window, never padded
    val one = Chunker.chunkTokens(Seq((1L, Seq("a", "b"))).toDF("doc_id", "w"),
      "doc_id", "w", 64, 48).collect()
    assert(one.length === 1 && one(0).getAs[Long]("n_tok") === 2L)
  }

  test("chunking plans narrow — no Exchange anywhere") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "some text to chunk")).toDF("doc_id", "text")
    val plan = PlanShape.render(Chunker.chunk(docs, "doc_id", "text"))
    assert(!plan.contains("Exchange"), s"chunking must not shuffle:\n$plan")
  }

  test("kCenterAssign picks farthest-first landmarks deterministically") {
    val s = spark
    import s.implicits._
    graft.engine.CacheRegistry.withRetained {
      // unit circle: a=(1,0), its near-dup a'=(0.99,0.14), b=(0,1),
      // c=(-1,0). Seed = min id = a; farthest from a is c (dist 2);
      // then b (dist 1 to both) beats a' — landmarks (a, c, b).
      val emb = Seq(
        (0L, Array(1f, 0f)), (1L, Array(0.99f, 0.14f)),
        (2L, Array(0f, 1f)), (3L, Array(-1f, 0f))).toDF("vec_id", "v")
      val out = Coreset.kCenterAssign(emb, "vec_id", "v", k = 3)
        .orderBy("vec_id").collect()
      val lmOf = out.map(r =>
        r.getAs[Long]("vec_id") -> r.getAs[Long]("lm_id")).toMap
      val rankOf = out.map(r =>
        r.getAs[Long]("lm_id") -> r.getAs[Long]("lm_rank")).toMap
      assert(rankOf(0L) === 1L) // seed
      assert(rankOf(3L) === 2L) // antipode selected second
      assert(rankOf(2L) === 3L) // orthogonal third
      assert(lmOf(1L) === 0L)   // the near-dup lands on its twin
      assert(out.filter(r => r.getAs[Long]("vec_id") == r.getAs[Long]("lm_id"))
        .forall(_.getAs[Double]("dist") == 0.0))
    }
  }

  test("kCenterAssign with k beyond corpus size stops at the corpus") {
    val s = spark
    import s.implicits._
    graft.engine.CacheRegistry.withRetained {
      val emb = Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f)))
        .toDF("vec_id", "v")
      val out = Coreset.kCenterAssign(emb, "vec_id", "v", k = 10).collect()
      assert(out.length === 2)
      assert(out.map(_.getAs[Long]("lm_id")).toSet === Set(0L, 1L))
    }
  }

  test("kCenter assignment pass is a narrow map over the cached base") {
    val s = spark
    import s.implicits._
    graft.engine.CacheRegistry.withRetained {
      val emb = Seq(
        (0L, Array(1f, 0f)), (1L, Array(0.9f, 0.1f)), (2L, Array(0f, 1f)))
        .toDF("vec_id", "v")
      val df = Coreset.kCenterAssign(emb, "vec_id", "v", k = 2)
      val plan = PlanShape.render(df)
      assert(!plan.contains("Exchange"),
        s"assignment must be join- and shuffle-free:\n$plan")
    }
  }

  test("stored landmarks cover the corpus; an outlier batch flags novel") {
    val s = spark
    import s.implicits._
    graft.engine.CacheRegistry.withRetained {
      // corpus hugs the x-axis; the landmark radii must cover every
      // corpus member by construction
      val corpus = Seq(
        (0L, Array(1f, 0f)), (1L, Array(0.95f, 0.1f)),
        (2L, Array(0.9f, -0.2f)), (3L, Array(0.85f, 0.3f)))
        .toDF("vec_id", "v")
      val lms = Coreset.landmarksWithRadius(corpus, "vec_id", "v", k = 2)
      val lmRows = lms.collect()
      assert(lmRows.length === 2)
      // every corpus vector sits inside its landmark's radius: probing
      // the store with the corpus itself must flag nothing novel
      val self = Coreset.assignBatchToStored(corpus, "vec_id", "v", lms)
        .collect()
      assert(self.forall(_.getAs[Long]("novel") === 0L))
      // a y-axis outlier lands outside both radii
      val batch = Seq((100L, Array(0f, 1f)), (101L, Array(0.97f, 0.05f)))
        .toDF("vec_id", "v")
      val out = Coreset.assignBatchToStored(batch, "vec_id", "v", lms)
        .collect().map(r =>
          r.getAs[Long]("vec_id") -> r.getAs[Long]("novel")).toMap
      assert(out(100L) === 1L) // drifted
      assert(out(101L) === 0L) // in-distribution
    }
  }

  test("radius refresh from an accepted batch flips a previously-novel vector to covered") {
    val s = spark
    import s.implicits._
    graft.engine.CacheRegistry.withRetained {
      val corpus = Seq(
        (0L, Array(1f, 0f)), (1L, Array(0.95f, 0.1f)),
        (2L, Array(0.9f, -0.2f)), (3L, Array(0.85f, 0.3f)))
        .toDF("vec_id", "v")
      val lms = Coreset.landmarksWithRadius(corpus, "vec_id", "v", k = 2)
      val batch = Seq((100L, Array(0.5f, 0.8f)), (101L, Array(0.97f, 0.05f)))
        .toDF("vec_id", "v")
      val before = Coreset.assignBatchToStored(batch, "vec_id", "v", lms)
        .collect().map(r =>
          r.getAs[Long]("vec_id") -> r.getAs[Long]("novel")).toMap
      assert(before(100L) === 1L) // outside current coverage
      // the batch is ACCEPTED into the corpus: refresh radii from it —
      // landmarks (identity, rank, vector) must be untouched, only
      // coverage grows
      val refreshed = Coreset.refreshRadii(lms, batch, "vec_id", "v")
      val lmBefore = lms.collect()
        .map(r => r.getAs[Long]("lm_id") ->
          (r.getAs[Long]("lm_rank"), r.getSeq[Float](2), r.getAs[Double]("radius"))).toMap
      val lmAfter = refreshed.collect()
        .map(r => r.getAs[Long]("lm_id") ->
          (r.getAs[Long]("lm_rank"), r.getSeq[Float](2), r.getAs[Double]("radius"))).toMap
      assert(lmAfter.keySet === lmBefore.keySet)
      for ((id, (rank, lv, rad)) <- lmAfter) {
        assert(rank === lmBefore(id)._1)
        assert(lv === lmBefore(id)._2)
        assert(rad >= lmBefore(id)._3) // radii only grow
      }
      // the accepted vector is now inside coverage; fresh territory
      // beyond it still flags
      val after = Coreset.assignBatchToStored(batch, "vec_id", "v", refreshed)
        .collect().map(r =>
          r.getAs[Long]("vec_id") -> r.getAs[Long]("novel")).toMap
      assert(after(100L) === 0L) // flipped: accepted territory is covered
      assert(after(101L) === 0L)
      val far = Seq((200L, Array(-1f, 0.2f))).toDF("vec_id", "v")
      val farOut = Coreset.assignBatchToStored(far, "vec_id", "v", refreshed)
        .collect()
      assert(farOut.head.getAs[Long]("novel") === 1L)
    }
  }

  test("re-selection restores a monitor that radius-stretch refresh left blind") {
    val s = spark
    import s.implicits._
    graft.engine.CacheRegistry.withRetained {
      // corpus: one tight cluster around +x
      val corpus = Seq(
        (0L, Array(1f, 0f)), (1L, Array(0.97f, 0.1f)),
        (2L, Array(0.95f, -0.15f)), (3L, Array(0.96f, 0.2f)))
        .toDF("vec_id", "v")
      val lms = Coreset.landmarksWithRadius(corpus, "vec_id", "v", k = 2)
      // an accepted batch from GENUINELY new territory: near -x,
      // cosine distance ~2 from every landmark
      val accepted = Seq((100L, Array(-1f, 0.05f)), (101L, Array(-0.98f, -0.1f)))
        .toDF("vec_id", "v")
      val refreshed = Coreset.refreshRadii(lms, accepted, "vec_id", "v")
      // the stretch pathology: one radius ballooned to cluster-gap
      // scale, so a probe from a THIRD region (+y — occupied by
      // nothing in corpus ∪ accepted) reads as covered. The monitor
      // is blind.
      val probe = Seq((200L, Array(0f, 1f))).toDF("vec_id", "v")
      val blind = Coreset.assignBatchToStored(probe, "vec_id", "v", refreshed)
        .collect().head
      assert(blind.getAs[Long]("novel") === 0L,
        "precondition: the stretched radius should swallow +y")
      // the alert the scaladoc contract names: refreshed radius >> 2×
      // its build-time value
      val before = lms.collect()
        .map(r => r.getAs[Long]("lm_id") -> r.getAs[Double]("radius")).toMap
      val after = refreshed.collect()
        .map(r => r.getAs[Long]("lm_id") -> r.getAs[Double]("radius")).toMap
      assert(after.exists { case (id, rad) =>
        rad > 2 * math.max(before(id), 0.05) })
      // re-selection over corpus ∪ accepted: -x gets its own landmark,
      // radii shrink back to cluster scale, and the +y probe flags
      // novel again — discrimination restored
      val reselected = Coreset.reselectLandmarks(
        corpus, accepted, "vec_id", "v", k = 3)
      val rl = reselected.collect()
      assert(rl.map(_.getAs[Long]("lm_rank")).sorted.toSeq === Seq(1L, 2L, 3L))
      assert(rl.exists(_.getAs[Long]("lm_id") >= 100L),
        "no landmark in the accepted territory after re-selection")
      assert(rl.forall(_.getAs[Double]("radius") < 0.5))
      val seen = Coreset.assignBatchToStored(probe, "vec_id", "v", reselected)
        .collect().head
      assert(seen.getAs[Long]("novel") === 1L,
        "re-selection failed to restore novelty detection for +y")
      // while accepted territory itself is covered by its new landmark
      val back = Coreset.assignBatchToStored(
        Seq((300L, Array(-0.99f, 0f))).toDF("vec_id", "v"),
        "vec_id", "v", reselected).collect().head
      assert(back.getAs[Long]("novel") === 0L)
    }
  }

  test("driver-local landmark selection equals the distributed traversal (ties + NaN)") {
    val s = spark
    import s.implicits._
    graft.engine.CacheRegistry.withRetained {
      // (1+i%7, (3i)%5) collides every 35 ids — exact duplicate
      // vectors make exact distance ties, so the (d desc, id asc)
      // tiebreak is exercised on both paths. (Zero-norm vectors are
      // outside both paths' domain: ANSI division throws on the
      // distributed traversal too.)
      val rows = (0L until 75L).map { i =>
        (i, Array((1 + i % 7).toFloat, ((i * 3) % 5).toFloat))
      }
      val emb = rows.toDF("vec_id", "v")
      val base = graft.engine.CacheRegistry.retain(
        emb.select(col("vec_id").cast("long").as("vec_id"), col("v")))
      val local = Coreset.selectLandmarks(base, 6)
      val dist = DriverLocalSpec.withMaxRows(s, 0L) {
        Coreset.selectLandmarks(base, 6)
      }
      assert(local.map(_._1) === dist.map(_._1),
        s"landmark id sequences diverge: local=${local.map(_._1)} " +
          s"distributed=${dist.map(_._1)}")
      assert(local.map(_._2.toSeq) === dist.map(_._2.toSeq))
    }
  }

  test("hashedTfidf vectors are unit-norm and twins are mutual top-1") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"), // exact twin of 1
      (3L, "one two three four five six"),
      (4L, "totally different words here now")).toDF("doc_id", "text")
    val comp = graft.operators.SparseVectors
      .hashedTfidf(docs, "doc_id", "text", topM = 256).collect()
    // full (uncut) vectors are L2-normalized: Σ wgt² ≈ 1 per doc
    val norms = comp.groupBy(_.getAs[Long]("doc_id")).map { case (_, rs) =>
      rs.map(r => math.pow(r.getAs[Double]("wgt"), 2)).sum
    }
    assert(norms.forall(n => math.abs(n - 1.0) < 1e-4))
    assert(comp.forall(_.getAs[String]("bucket").matches("[0-9a-f]{3}")))
    val nn = graft.operators.SparseVectors.sparseTopK(
      graft.operators.SparseVectors.hashedTfidf(docs, "doc_id", "text"),
      k = 1).collect()
      .map(r => r.getAs[Long]("qid") ->
        (r.getAs[Long]("nid"), r.getAs[Double]("cos"))).toMap
    assert(nn(1L)._1 === 2L && nn(1L)._2 > 0.999)
    assert(nn(2L)._1 === 1L)
  }

  test("hashedTfidfWithStats: EMPTY stats degrade to no components, never NaN weights") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    val emptyStats = Seq.empty[(String, Long, Long)]
      .toDF("term", "df", "n_docs")
    // with N=0 every term scores IDF ln(1/(df+1)) = 0, so the whole
    // vector is zero-norm — "no corpus knowledge" must mean NO
    // component rows, not NaN = 0/0 rows
    val out = graft.operators.SparseVectors
      .hashedTfidfWithStats(docs, "doc_id", "text", emptyStats).collect()
    assert(out.isEmpty)
    // and non-empty stats still vectorize normally (two docs with
    // disjoint terms, so IDF = ln(3/2) > 0 — a single-doc corpus is
    // itself all-zero-IDF and correctly emits nothing)
    val two = docs.union(Seq((2L, "delta epsilon zeta")).toDF("doc_id", "text"))
    val stats = graft.operators.SparseVectors.corpusStats(two, "doc_id", "text")
    val ok = graft.operators.SparseVectors
      .hashedTfidfWithStats(two, "doc_id", "text", stats).collect()
    assert(ok.nonEmpty && ok.forall(r => !r.getAs[Double]("wgt").isNaN))
  }

  test("sparseTopK: an over-sized bucketCap drops the broadcast hint but keeps the answer") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "one two three four five six")).toDF("doc_id", "text")
    def topk(cap: Int) = graft.engine.CacheRegistry.withRetained {
      graft.operators.SparseVectors.sparseTopK(
        graft.operators.SparseVectors.hashedTfidf(docs, "doc_id", "text"),
        k = 1, bucketCap = cap)
        .collect().map(_.toString).sorted.toSeq
    }
    // 1 << 20 / 4096 = 256 is the largest broadcast-hinted cap; far
    // past it the postings join must fall back to a shuffled join
    // (no driver OOM risk) with an identical answer
    assert(topk(1 << 20) === topk(64))
  }

  test("prototypePrune prunes the most-central quarter of each cell") {
    val s = spark
    import s.implicits._
    graft.engine.CacheRegistry.withRetained {
      // one cell around (1,0): ids 0 (the seed), 10, 11 symmetric
      // about the x-axis, 12 on it; centroid points along x, so id 12
      // (and the seed itself) score highest — with 4 members and
      // pruneFrac 0.25 exactly ceil(1)=1 row is pruned
      val emb = Seq(
        (0L, Array(1f, 0f)), (10L, Array(0.9f, 0.3f)),
        (11L, Array(0.9f, -0.3f)), (12L, Array(0.95f, 0f)))
        .toDF("vec_id", "v")
      val out = Coreset.prototypePrune(emb, "vec_id", "v",
        emb.filter($"vec_id" === 0L), "vec_id", "v", pruneFrac = 0.25)
        .collect()
      assert(out.length === 4)
      val pruned = out.filter(_.getAs[String]("decision") == "prune")
      assert(pruned.length === 1)
      assert(pruned(0).getAs[Long]("proto_rank") === 1L)
      // symmetric members tie on rounded proto; vec_id breaks the tie
      val ranks = out.map(r =>
        r.getAs[Long]("vec_id") -> r.getAs[Long]("proto_rank")).toMap
      assert(ranks(10L) < ranks(11L))
    }
  }
}
