package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate nearest-neighbor search over an `array<float>` embedding
  * column (builder brief: similarity search as a first-class operator;
  * generalizes the reference's exact hash_search, web.py:202–216, from
  * exact binary identity to vector similarity).
  *
  * Two paths share the same scoring code:
  *  - brute force (EmbeddingsQ.q24): exact, O(Q·N), broadcast+scan —
  *    the correctness baseline;
  *  - random-hyperplane LSH (here): sign-bit signature per vector,
  *    candidates only within matching buckets → O(N) bucketing shuffle
  *    plus small within-bucket scoring. At 100 TB the bucketed table is
  *    written once (partitioned by bucket) and each query touches one
  *    partition.
  *
  * The hyperplanes are pseudo-random but fully deterministic: component
  * j of plane p is ±1 by xxhash64(p, j) parity — reproducible across
  * runs and engines with no RNG state.
  */
object Similarity {

  /** Double-promoted dot product, folded in index order (native
    * expression — bit-identical to the zip_with+aggregate fold the
    * oracle mirrors, ~20× faster than interpreted HOFs). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorOps.dotProduct(a, b)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** ±1 pseudo-random hyperplane component for (plane, dim). */
  private def planeComponent(plane: Column, dim: Column): Column =
    when(pmod(xxhash64(plane, dim), lit(2)) === 0, 1.0).otherwise(-1.0)

  /** Engine-portable ±1 hyperplane component: a small integer mixer
    * ((p·379 + j·607 + p·j·131) mod 1009 < 504) any SQL engine can
    * evaluate exactly — this is what makes the LSH-ANN *answer*
    * oracle-checkable end to end (the DuckDB oracle replays the same
    * planes, buckets, and ranking). The p·j cross term breaks the
    * shift-correlation a purely linear mixer would have between
    * planes; xxhash64 remains the default for production bucketing. */
  private def portablePlaneComponent(plane: Column, dim: Column): Column =
    when(pmod(plane * lit(379) + dim * lit(607) + plane * dim * lit(131),
      lit(1009)) < 504, 1.0).otherwise(-1.0)

  /** Deterministic random-projection dimensionality reduction
    * (Achlioptas-style ±1 projections / Johnson–Lindenstrauss):
    * feature p = Σ_j vec[j] · w(p, j) with the same ±1 plane family
    * the LSH bucketing uses. Reduces a d-dim embedding to `outDims`
    * signed sums — the standard 100 TB compression step before
    * storage or coarse ANN — with no RNG state: projections are
    * reproducible across runs, engines (the oracle replays them), and
    * backfills. Per-row narrow compute; no shuffle. */
  def randomProjection(vec: Column, outDims: Int,
      portablePlanes: Boolean = false): Column =
    transform(sequence(lit(0), lit(outDims - 1)), p =>
      aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, j) => x.cast("double") *
            (if (portablePlanes) portablePlaneComponent(p, j)
             else planeComponent(p, j))),
        lit(0.0), (acc, x) => acc + x))

  /** Sign-bit LSH bucket id from `nPlanes` random hyperplanes. */
  def lshBucket(vec: Column, nPlanes: Int = 8,
      portablePlanes: Boolean = false): Column =
    aggregate(
      transform(sequence(lit(0), lit(nPlanes - 1)), p => {
        val proj = aggregate(
          zip_with(vec, sequence(lit(0), size(vec) - 1),
            (x, j) => x.cast("double") *
              (if (portablePlanes) portablePlaneComponent(p, j)
               else planeComponent(p, j))),
          lit(0.0), (acc, x) => acc + x)
        when(proj > 0, call_function("shiftleft", lit(1L), p)).otherwise(lit(0L))
      }),
      lit(0L), (acc, x) => acc.bitwiseOR(x))

  /** Sign-bit LSH bucket from the PORTABLE plane family with a table
    * offset: table t reads global planes t·nPlanes .. t·nPlanes+n-1,
    * giving L independent tables from one deterministic family. The
    * portable mixer is replicable in plain JVM arithmetic
    * ([[portableLshBucketJvm]]), which is what lets streaming state
    * recompute any retained vector's buckets for suppression. */
  def portableLshBucket(vec: Column, nPlanes: Int, table: Column): Column =
    aggregate(
      transform(sequence(lit(0), lit(nPlanes - 1)), p => {
        val q = table * lit(nPlanes) + p
        val proj = aggregate(
          zip_with(vec, sequence(lit(0), size(vec) - 1),
            (x, j) => x.cast("double") * portablePlaneComponent(q, j)),
          lit(0.0), (acc, x) => acc + x)
        when(proj > 0, call_function("shiftleft", lit(1L), p)).otherwise(lit(0L))
      }),
      lit(0L), (acc, x) => acc.bitwiseOR(x))

  /** JVM twin of [[portableLshBucket]] — same plane family, same
    * index-order double fold, bit-identical buckets. */
  def portableLshBucketJvm(vec: Seq[Float], nPlanes: Int, table: Int): Long = {
    var bucket = 0L
    var p = 0
    while (p < nPlanes) {
      val q = table * nPlanes + p
      var proj = 0.0
      var j = 0
      while (j < vec.length) {
        val c = if ((q * 379 + j * 607 + q * j * 131) % 1009 < 504) 1.0 else -1.0
        proj += vec(j).toDouble * c
        j += 1
      }
      if (proj > 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  /** JVM twin of [[cosine]] (index-order double folds, matching the
    * native dot expression's summation order). */
  def cosineJvm(a: Seq[Float], b: Seq[Float]): Double = {
    var d = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble
      val y = b(i).toDouble
      d += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Bucketed ANN: top-k by cosine among candidates sharing the query's
    * LSH bucket. Returns (qid, rank, nid, approx=true rows only for
    * queries whose bucket has candidates).
    */
  def annLsh(
      embeddings: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, k: Int = 3, nPlanes: Int = 8,
      portablePlanes: Boolean = false): DataFrame = {
    val cands = embeddings.select(
      col(idCol).as("nid"), col(vecCol).as("nv"),
      lshBucket(col(vecCol), nPlanes, portablePlanes).as("bucket"))
    val qs = queries.select(
      col(idCol).as("qid"), col(vecCol).as("qv"),
      lshBucket(col(vecCol), nPlanes, portablePlanes).as("bucket"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid").asc)
    cands.join(broadcast(qs), Seq("bucket"))
      .filter(col("nid") =!= col("qid"))
      .withColumn("cos", cosine(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("nid"),
        round(col("cos"), 6).as("cos"))
  }
}

/** IVF-style ANN (inverted file index): assign every vector to its
  * nearest of C deterministic centroids (a uniform hash-sample of the
  * corpus — a k-means pass would slot in here unchanged); queries
  * probe only their `nprobe` nearest centroid cells. Complements the
  * hyperplane-LSH path: IVF adapts to the data distribution, LSH is
  * data-independent.
  *
  * 100 TB: the assignment table is written partitioned by `centroid`,
  * so each query touches nprobe partitions; centroids broadcast.
  */
object IvfAnn {
  import org.apache.spark.sql.expressions.Window
  import org.apache.spark.sql.{DataFrame}

  /** Deterministic centroid sample: the `c` vectors with the smallest
    * xxhash64(id) — a uniform pseudo-random sample with no RNG state.
    * orderBy+limit compiles to TakeOrderedAndProject (each partition
    * keeps its local top-c, the driver merges c-sized heaps), so there
    * is no global sort, no single-partition Exchange, and no eager
    * count() action — scale-safe at any corpus size. */
  def centroids(embeddings: DataFrame, idCol: String, vecCol: String,
      c: Int): DataFrame =
    embeddings.select(col(idCol), col(vecCol))
      .orderBy(xxhash64(col(idCol)).asc, col(idCol).asc)
      .limit(c)
      .select(col(idCol).as("centroid_id"), col(vecCol).as("centroid_vec"))

  /** Lloyd refinement of a centroid set: `iters` rounds of
    * assign-to-nearest + per-cell element-wise mean. Correctness of the
    * cell-bucketed operators (e.g.
    * [[EmbeddingDedup.cosinePairsBucketed]]) never depends on the
    * centroid set — ANY set is complete under their probe rule — so
    * refinement is pure pruning power: it pulls centroids onto the
    * corpus's actual cluster structure, shrinking the covering radii
    * that a raw hash-sample leaves huge whenever a real cluster drew no
    * sample point. Cells that lose every member simply drop out. At
    * 100 TB, refine over a sample — the cell geometry converges long
    * before the full corpus is seen — then assign the full corpus once.
    *
    * Driver-local short-circuit (round 18): refine's callers
    * pass a bounded 1-in-4 hash sample, and the distributed loop costs
    * `iters` dependent assign→mean pipelines — ~6 sequential stages of
    * pure latency at gate scale (q90's warm wall was 2.5 s of which
    * total task time was 1.0 s; Bench's `query_metrics` records both). When the sample fits
    * [[graft.engine.DriverLocal]]'s bound, its one collect both tests
    * the bound and is the sample Lloyd then runs on the driver.
    * Centroid VALUES may differ from the distributed
    * mean in the last ulp (double summation order) — which is exactly
    * as nondeterministic as the distributed mean already is across
    * partition orders, and provably irrelevant to every caller: the
    * cell-bucketed operators' outputs are centroid-independent (their
    * probe rule is complete for ANY centroid set and candidates are
    * exact-verified — see [[EmbeddingDedup.cosinePairsBucketed]]). */
  def refine(embeddings: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame, iters: Int = 2): DataFrame = {
    graft.engine.DriverLocal.collect(embeddings.select(col(vecCol))) match {
      // empty sample: no refinement — return the seeds unchanged (the
      // callers' exactness contract needs a NON-EMPTY centroid set, and
      // a Lloyd pass over nothing would drop every cell). Folding the
      // check here saves the callers' separate isEmpty() job.
      case Some(rows) if rows.isEmpty => cents
      case Some(rows) => refineLocal(embeddings.sparkSession,
        rows.map(_.getSeq[Float](0).toArray), cents, iters)
      case None =>
        var c = cents
        for (_ <- 1 to iters) {
          c = assign(embeddings, idCol, vecCol, c)
            .select(col("centroid"), posexplode(col(vecCol)).as(Seq("pos", "x")))
            .groupBy(col("centroid"), col("pos"))
            .agg(avg(col("x").cast("double")).as("m"))
            .groupBy(col("centroid"))
            .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("ps"))
            .select(col("centroid").as("centroid_id"),
              transform(col("ps"), p => p.getField("m").cast("float"))
                .as("centroid_vec"))
        }
        c
    }
  }

  /** Driver-local Lloyd: nearest-centroid assignment mirrors
    * [[assign]]'s (cos desc, centroid_id asc) winner via the same
    * index-order double folds ([[Similarity.cosineJvm]]); per-cell
    * means average each dimension as double and cast to float like the
    * distributed agg; cells that lose every member drop out. Returns a
    * local relation with `cents`' schema. */
  private def refineLocal(spark: org.apache.spark.sql.SparkSession,
      pts: Array[Array[Float]], cents: DataFrame, iters: Int): DataFrame = {
    // (id row-value, vector), sorted by centroid_id the way the
    // distributed window orders it (numeric ids numerically, anything
    // else lexicographically) so assignment ties break by POSITION —
    // earlier = smaller id, the window's (cos desc, centroid_id asc)
    var cs = cents.collect()
      .map(r => (r.get(0), r.getSeq[Float](1).toArray))
      .sortWith((a, b) => (a._1, b._1) match {
        case (x: java.lang.Number, y: java.lang.Number) =>
          x.longValue < y.longValue
        case (x, y) => x.toString < y.toString
      })
    for (_ <- 1 to iters if cs.nonEmpty) {
      val dim = cs(0)._2.length
      val sums = Array.fill(cs.length)(new Array[Double](dim))
      val counts = new Array[Long](cs.length)
      pts.foreach { v =>
        var best = 0
        var bestCos = Similarity.cosineJvm(v, cs(0)._2) + 0.0
        var i = 1
        while (i < cs.length) {
          val c = Similarity.cosineJvm(v, cs(i)._2) + 0.0
          // strictly greater wins; ties keep the earlier (smaller id)
          if (java.lang.Double.compare(c, bestCos) > 0) { best = i; bestCos = c }
          i += 1
        }
        val s = sums(best)
        var j = 0
        while (j < v.length && j < dim) { s(j) += v(j).toDouble; j += 1 }
        counts(best) += 1
      }
      cs = cs.zipWithIndex.collect { case ((id, _), i) if counts(i) > 0 =>
        (id, sums(i).map(x => (x / counts(i)).toFloat))
      }
    }
    val schema = cents.schema
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(cs.map { case (id, v) =>
        org.apache.spark.sql.Row(id, v.toSeq)
      }: _*)
    spark.createDataFrame(rows, schema)
  }

  /** Assign each vector to its nearest centroid by cosine. */
  def assign(embeddings: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame): DataFrame = {
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("cos_c").desc, col("centroid_id").asc)
    embeddings.crossJoin(broadcast(cents))
      .withColumn("cos_c", Similarity.cosine(col(vecCol), col("centroid_vec")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col(idCol), col(vecCol), col("centroid_id").as("centroid"))
  }

  /** Top-k search probing the query's `nprobe` nearest cells. */
  def search(assigned: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame, queries: DataFrame, k: Int = 3,
      nprobe: Int = 2): DataFrame = {
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(col("cos_c").desc, col("centroid_id").asc)
    val probes = queries
      .select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .crossJoin(broadcast(cents))
      .withColumn("cos_c", Similarity.cosine(col("qv"), col("centroid_vec")))
      .withColumn("rk", row_number().over(wProbe))
      .filter(col("rk") <= nprobe)
      .select(col("qid"), col("qv"), col("centroid_id").as("centroid"))
    val wRank = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid").asc)
    assigned
      .select(col(idCol).as("nid"), col(vecCol).as("nv"), col("centroid"))
      .join(broadcast(probes), Seq("centroid"))
      .filter(col("nid") =!= col("qid"))
      .withColumn("cos", Similarity.cosine(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("nid"),
        round(col("cos"), 6).as("cos"))
  }
}

/** Embedding-cosine near-duplicate pairs (builder brief: the
  * embedding-space member of the dedup family): all pairs above a
  * cosine threshold, same `(id_a, id_b, cos)` contract from both
  * paths:
  *
  *  - [[cosinePairs]] — brute-force all-pairs cross join. The oracle
  *    baseline: trivially complete, O(n²) compute AND O(n²) shuffle.
  *  - [[cosinePairsBucketed]] — the scale path. Candidates come from
  *    IVF cells with a PROVABLY COMPLETE probe rule (triangle
  *    inequality on the sphere), then exact cosine verifies each
  *    candidate, so the output is identical to brute force at any
  *    scale — recall is 1.0 by construction, not by tuned luck. See
  *    the method doc for the guarantee and its honest worst case.
  */
object EmbeddingDedup {
  import org.apache.spark.sql.DataFrame

  def cosinePairs(embeddings: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    // norms once per VECTOR, not per pair — sqrt(dot(v,v)) here is the
    // same double the inline cosine would compute, so results are
    // bit-identical while the O(n²) stage does 1 dot per pair, not 3
    // spread the stream side of the declared all-pairs cross join: the
    // n² dot products are map-side CPU a single-split scan serializes
    // onto one task (no-op at real scale; the brute path is the oracle
    // twin, so only its task layout changes, never its output)
    val a = graft.Tables.spread(
      embeddings.select(col(idCol).as("id_a"), col(vecCol).as("v_a"),
        sqrt(Similarity.dot(col(vecCol), col(vecCol))).as("n_a")))
    val b = embeddings.select(col(idCol).as("id_b"), col(vecCol).as("v_b"),
      sqrt(Similarity.dot(col(vecCol), col(vecCol))).as("n_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        Similarity.dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  /** Angle (radians) between two vectors, from the exact cosine. */
  private def angle(a: Column, b: Column): Column =
    acos(greatest(lit(-1.0), least(lit(1.0), Similarity.cosine(a, b))))

  /** Candidate (probe, member) pairs for [[cosinePairsBucketed]],
    * exposed for the completeness/pruning spec: every true pair is
    * here, and on clustered corpora this is far smaller than n²/2. */
  private[graft] def bucketedCandidates(
      embeddings: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numCells: Int): DataFrame = {
    val spark = embeddings.sparkSession
    val thetaT = math.acos(math.max(-1.0, math.min(1.0, threshold)))
    // angle-space slack so double rounding can only ADD candidates
    val eps = 1e-6

    // hash-sampled seeds + Lloyd refinement: a raw sample almost surely
    // misses some real cluster (leaving a far-away cell with a huge
    // covering radius that defeats the prune); refinement repairs that.
    // Completeness never depends on the centroids, only pruning does —
    // which is also why refinement runs over a deterministic 1-in-4
    // hash sample of the corpus: cell geometry converges long before
    // the full corpus is seen, and only the assignment/radius pass
    // below must see every vector.
    val refineInput =
      embeddings.filter(pmod(xxhash64(col(idCol)), lit(4)) === 0)
    val seeds = IvfAnn.centroids(embeddings, idCol, vecCol, numCells)
    // exactness requires a NON-EMPTY centroid set (any non-empty set is
    // complete; an empty one assigns nothing). A tiny corpus can leave
    // the 1-in-4 refine sample empty — refine itself then returns the
    // raw seeds (its n == 0 branch; DedupSpec pins the fallback).
    val cents = graft.engine.CacheRegistry.retain(
      IvfAnn.refine(refineInput, idCol, vecCol, seeds, iters = 2))

    // one narrow pass computes every (vector, centroid) angle — ids
    // and scalars ONLY: carrying the vector itself through the n×C
    // frame (and the assignment shuffle) would move n×C copies of a
    // 64-float array. Vectors (and their norms, computed once per
    // vector) are attached to the n-scale probe/member frames below,
    // NOT to the candidate-pair output: the cell join then emits
    // vector-carrying candidates with zero candidate-scale shuffles.
    // Retained: both the assignment aggregate and the probe filter
    // consume this frame, and the n×C dot products are the dominant
    // non-candidate cost — unpersisted it is computed twice.
    val angles = graft.engine.CacheRegistry.retain(embeddings
      .select(col(idCol).as("vid"), col(vecCol).as("vec"))
      .crossJoin(broadcast(cents))
      .select(col("vid"), col("centroid_id"),
        angle(col("vec"), col("centroid_vec")).as("ang")))

    // nearest cell per vector: min over (ang, centroid_id) structs —
    // lexicographic struct ordering gives the same deterministic
    // (ang asc, centroid_id asc) winner as a rank-1 window, but as a
    // declarative aggregate it partial-aggregates map-side, shuffling
    // one struct per vector instead of all n×C rows
    val assignedSlim = graft.engine.CacheRegistry.retain(
      angles.groupBy(col("vid"))
        .agg(min(struct(col("ang"), col("centroid_id"))).as("m"))
        .select(col("vid"), col("m.centroid_id").as("cell"),
          col("m.ang").as("ang")))

    // vector + norm, once per vector; sqrt(dot(v,v)) is the same
    // double the inline cosine would compute, so downstream results
    // are bit-identical while verification does 1 dot per candidate
    val vecs = embeddings.select(col(idCol).as("vid"),
      col(vecCol).as("vec"),
      sqrt(Similarity.dot(col(vecCol), col(vecCol))).as("nrm"))

    // covering radius per cell: max member angle to its own centroid.
    // C rows — broadcast to the probe filter.
    val radii = assignedSlim.groupBy(col("cell"))
      .agg(max(col("ang")).as("radius"))

    // probe rule: vector a probes every cell j with
    //   ang(a, c_j) <= radius_j + theta_t (+eps).
    // For any true pair (a,b), spherical triangle inequality gives
    //   ang(a, c_b) <= ang(a,b) + ang(b, c_b) <= theta_t + radius_b,
    // so a's probe into b's home cell ALWAYS passes — completeness.
    val probes = angles
      .join(broadcast(radii), angles("centroid_id") === radii("cell"))
      .filter(col("ang") <= col("radius") + lit(thetaT + eps))
      .select(col("vid"), col("cell"), col("ang").as("ang_a"))
      .join(vecs, Seq("vid"))
      .select(col("vid").as("id_a"), col("vec").as("v_a"),
        col("nrm").as("n_a"), col("cell"), col("ang_a"))

    // Each member b lives in exactly one cell and only the probe side
    // carries id_a, so with the id_a < id_b orientation filter every
    // pair materializes AT MOST ONCE — no downstream distinct needed.
    // The second filter is the per-member fine prune, BOTH sides of
    // the triangle inequality: any true pair has
    //   |ang(a, c_b) − ang(b, c_b)| <= ang(a, b) <= theta_t,
    // so pairs whose centroid angles differ by more than theta_t are
    // provably below threshold. On the ScaleEvidence corpus the lower
    // side prunes little (high-dim cell members concentrate at similar
    // centroid angles) but it costs one abs() and tightens corpora
    // with angularly-spread cells. Being per-pair, one far outlier in
    // a cell inflates only its OWN candidate set, not (via the cell
    // radius) everyone else's.
    val members = assignedSlim.join(vecs, Seq("vid"))
      .select(col("vid").as("id_b"), col("vec").as("v_b"),
        col("nrm").as("n_b"), col("cell"), col("ang").as("ang_b"))
    // Pinned-width spread on the cell key: the join output is
    // candidate-scale though its inputs are n-scale, and the member
    // side co-partitions at the pinned width (mechanism and
    // measurements: [[graft.engine.Spread]]).
    graft.engine.Spread.spreadForExplosion(probes, col("cell"))
      .join(members, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(abs(col("ang_a") - col("ang_b")) <= lit(thetaT + eps))
      .select(col("id_a"), col("v_a"), col("n_a"),
        col("id_b"), col("v_b"), col("n_b"))
  }

  /** Reusable IVF near-dup index over a corpus: refined centroids,
    * per-vector (cell, angle) assignment, and vectors with
    * precomputed norms. THRESHOLD-INDEPENDENT — theta enters only at
    * query time in the probe rule — so one index serves every later
    * batch at any threshold. All frames are retained
    * (CacheRegistry); the 100 TB layout writes `assigned`+`vecs`
    * partitioned by cell once per corpus, with `cents` and the
    * derived radii as broadcast tables, so a daily ingest batch reads
    * only its probed cells and recomputes nothing corpus-sided.
    *
    * Honest scale note: the index's advantage is the partition-pruned
    * READ (probed cells only) plus candidate pruning. local[32] always
    * scans the whole cached corpus, so at the test sizes a broadcast
    * brute batch×corpus cross join — one codegen'd loop, no shuffle —
    * is faster (measured); pick the index path when the corpus is too
    * large to rescan per batch, which is exactly the regime local mode
    * cannot reproduce. Correctness (exact batch×corpus pair parity)
    * holds in both regimes and is what q90/DedupSpec pin. */
  final case class CosineIndex(cents: DataFrame, assigned: DataFrame,
      vecs: DataFrame)

  private def withNorms(df: DataFrame, idCol: String, vecCol: String) =
    df.select(col(idCol).as("vid"), col(vecCol).as("vec"),
      sqrt(Similarity.dot(col(vecCol), col(vecCol))).as("nrm"))

  def buildCosineIndex(corpus: DataFrame, idCol: String, vecCol: String,
      numCells: Int = 16): CosineIndex = {
    val seeds = IvfAnn.centroids(corpus, idCol, vecCol, numCells)
    val refineInput = corpus.filter(pmod(xxhash64(col(idCol)), lit(4)) === 0)
    // same empty-sample fallback as cosinePairsBucketed, folded into
    // refine's n == 0 branch
    val cents = graft.engine.CacheRegistry.retain(
      IvfAnn.refine(refineInput, idCol, vecCol, seeds, iters = 2))
    val assigned = graft.engine.CacheRegistry.retain(
      assignToCells(cents, corpus, idCol, vecCol)
        .select(col("vid"), col("cell"), col("ang")))
    val vecs = graft.engine.CacheRegistry.retain(
      withNorms(corpus, idCol, vecCol))
    CosineIndex(cents, assigned, vecs)
  }

  /** Member-shaped rows (vid, vec, nrm, cell, ang) for `df` under an
    * existing centroid table: one broadcast pass, numCells narrow dot
    * products per vector, argmin on (angle, centroid_id). This is the
    * index build's assignment step factored out so the ACCEPT path
    * ([[graft.queries.LlmOps]] q122) can turn an ingest batch into
    * rows appendable to the stored member table without rebuilding
    * anything. */
  def assignToCells(cents: DataFrame, df: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    df.select(col(idCol).as("vid"), col(vecCol).as("vec"))
      .crossJoin(broadcast(cents))
      .select(col("vid"), col("vec"), col("centroid_id"),
        angle(col("vec"), col("centroid_vec")).as("ang"))
      .groupBy(col("vid"))
      .agg(min(struct(col("ang"), col("centroid_id"))).as("m"),
        first(col("vec")).as("vec"))
      .select(col("vid"), col("vec"),
        sqrt(Similarity.dot(col("vec"), col("vec"))).as("nrm"),
        col("m.centroid_id").as("cell"), col("m.ang").as("ang"))

  /** Incremental cross-batch embedding near-dup — the embedding-side
    * counterpart of [[graft.operators.Dedup.incrementalMinhashPairs]]:
    * a NEW batch of vectors is checked against an EXISTING corpus
    * through the corpus's [[CosineIndex]]. Only the batch is angled
    * against the centroids; the corpus member table streams into the
    * cell join with no recompute. Completeness is the same spherical
    * triangle inequality as [[cosinePairsBucketed]]: for a true pair
    * (a ∈ batch, b ∈ corpus), ang(a, c_b) <= theta_t + ang(b, c_b)
    * <= theta_t + radius(cell_b), so a's probe into b's home cell
    * always passes — output EQUALS the brute batch×corpus pairs at
    * any threshold. Batch and corpus ids must be DISJOINT — a vector
    * present on both sides emits its own (id, id, 1.0) self-pair.
    * Returns (batch_id, corpus_id, cos). */
  def cosinePairsIncremental(index: CosineIndex, batch: DataFrame,
      idCol: String, vecCol: String, threshold: Double): DataFrame =
    cosinePairsFromStore(index.cents, membersOf(index),
      batch, idCol, vecCol, threshold)

  /** The AT-REST member table of a [[CosineIndex]]:
    * (vid, vec, nrm, cell, ang) — written once per corpus, partitioned
    * by `cell` so a batch probe reads only the cells it lands in. */
  def membersOf(index: CosineIndex): DataFrame =
    index.assigned.join(index.vecs, Seq("vid"))
      .select(col("vid"), col("vec"), col("nrm"), col("cell"), col("ang"))

  /** [[cosinePairsIncremental]] against the persisted index layout:
    * `cents` (centroid_id, centroid_vec) and `members`
    * ([[membersOf]]) are read from storage — the corpus is never
    * re-angled, even across JVMs; per-cell radii fold from the stored
    * per-member angles. Same disjointness contract as above. */
  def cosinePairsFromStore(cents: DataFrame, members: DataFrame,
      batch: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val thetaT = math.acos(math.max(-1.0, math.min(1.0, threshold)))
    val eps = 1e-6
    val radii = members.groupBy(col("cell"))
      .agg(max(col("ang")).as("radius"))
    val probes = batch
      .select(col(idCol).as("vid"), col(vecCol).as("vec"))
      .crossJoin(broadcast(cents))
      .select(col("vid"), col("centroid_id").as("cell"),
        angle(col("vec"), col("centroid_vec")).as("ang_a"))
      .join(broadcast(radii), Seq("cell"))
      .filter(col("ang_a") <= col("radius") + lit(thetaT + eps))
      .join(withNorms(batch, idCol, vecCol), Seq("vid"))
      .select(col("vid").as("batch_id"), col("vec").as("v_a"),
        col("nrm").as("n_a"), col("cell"), col("ang_a"))
    val mem = members
      .select(col("vid").as("corpus_id"), col("vec").as("v_b"),
        col("nrm").as("n_b"), col("cell"), col("ang").as("ang_b"))
    probes.join(mem, Seq("cell"))
      .filter(abs(col("ang_a") - col("ang_b")) <= lit(thetaT + eps))
      .withColumn("cos",
        Similarity.dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
      .filter(col("cos") >= threshold)
      .select(col("batch_id"), col("corpus_id"), round(col("cos"), 6).as("cos"))
  }

  /** WITHIN-corpus near-dup pairs from the persisted index alone: the
    * member table plays both probe and target side, so a periodic
    * whole-corpus semantic dedup (q120) reads ONLY the store — the
    * original embedding table is never scanned (StoreSpec pins the
    * plan). Each member re-angles against every centroid (numCells
    * narrow dot products per member over the STORED vectors; the
    * store keeps just the home-cell angle) — the only full pass, no
    * shuffle. Probe rule and completeness are [[cosinePairsBucketed]]'s
    * spherical triangle inequality: for a true pair with id_a < id_b,
    * ang(a, c_b) <= ang(b, c_b) + theta_t <= radius(cell_b) + theta_t,
    * so a always probes b's UNIQUE home cell — every true pair is
    * emitted, exactly once (the orientation filter plus single home
    * cell make a downstream distinct unnecessary). Candidates shuffle
    * only on the cell key, spread at pinned width
    * ([[graft.engine.Spread]]). Returns (id_a, id_b, cos). */
  def cosinePairsWithinStore(cents: DataFrame, members: DataFrame,
      threshold: Double): DataFrame = {
    val thetaT = math.acos(math.max(-1.0, math.min(1.0, threshold)))
    val eps = 1e-6
    val radii = members.groupBy(col("cell"))
      .agg(max(col("ang")).as("radius"))
    val probes = members
      .select(col("vid"), col("vec"), col("nrm"))
      .crossJoin(broadcast(cents))
      .select(col("vid"), col("vec"), col("nrm"),
        col("centroid_id").as("cell"),
        angle(col("vec"), col("centroid_vec")).as("ang_a"))
      .join(broadcast(radii), Seq("cell"))
      .filter(col("ang_a") <= col("radius") + lit(thetaT + eps))
      .select(col("vid").as("id_a"), col("vec").as("v_a"),
        col("nrm").as("n_a"), col("cell"), col("ang_a"))
    val mem = members.select(col("vid").as("id_b"), col("vec").as("v_b"),
      col("nrm").as("n_b"), col("cell"), col("ang").as("ang_b"))
    graft.engine.Spread.spreadForExplosion(probes, col("cell"))
      .join(mem, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(abs(col("ang_a") - col("ang_b")) <= lit(thetaT + eps))
      .withColumn("cos",
        Similarity.dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  /** Convenience overload: build the index inline from `corpus`. */
  def cosinePairsIncremental(corpus: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      numCells: Int = 16): DataFrame =
    cosinePairsIncremental(
      buildCosineIndex(corpus, idCol, vecCol, numCells),
      batch, idCol, vecCol, threshold)

  /** Bucketed near-dup pairs: IVF-cell candidate generation with a
    * triangle-inequality completeness guarantee, then exact-cosine
    * verification. Output is IDENTICAL to [[cosinePairs]] — the DuckDB
    * all-pairs oracle checks this variant directly (q82).
    *
    * Why this beats tuned LSH banding for the *pairs* contract: sign
    * banding is probabilistic (some true pair eventually lands outside
    * every band), while the probe rule here is a theorem — a probes
    * cell(b) whenever cos(a,b) >= threshold. Cost model: one broadcast
    * pass computes all (vector, centroid) angles; candidates shuffle
    * ONLY on the cell key. On clustered corpora (the production near-
    * dup case: tight duplicate clusters, high threshold) cells are
    * compact, radii small, and probes touch few cells — candidate
    * count collapses toward the true-pair count (DedupSpec measures
    * this on a clustered corpus; the [[graft.ScaleEvidence]] sweep
    * measures the wall-clock crossover against brute force at growing
    * n on that corpus shape — see SCALE_EVIDENCE.json: candidate
    * fraction falls as cells scale with n, and the bucketed path
    * overtakes brute force in the tens-of-thousands of vectors, with
    * outputs asserted identical at every point). Honest worst case:
    * on UNIFORM vectors at a loose threshold (the synthetic test
    * corpus at 0.4) radius + theta_t exceeds pi, every cell is probed,
    * and the plan degenerates to a cell-keyed all-pairs — same O(n²)
    * asymptotics as brute force, still exactly correct, and in
    * wall-clock terms WORSE than the plain cross join (measured ~3× at
    * sf0.1: the centroid training passes and per-candidate angle math
    * buy nothing when no candidate is pruned). That degeneration is a
    * property of the DATA (uniform vectors have no near-neighbor
    * structure to exploit), not of the operator: pick this path when
    * the corpus is expected to have duplicate structure, the brute
    * baseline when it is tiny or structureless.
    */
  def cosinePairsBucketed(embeddings: DataFrame, idCol: String,
      vecCol: String, threshold: Double, numCells: Int = 16): DataFrame =
    bucketedCandidates(embeddings, idCol, vecCol, threshold, numCells)
      // precomputed per-vector norms: same doubles as the inline
      // cosine, one dot per candidate instead of three
      .withColumn("cos",
        Similarity.dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
      .filter(col("cos") >= threshold)
      // candidates are already unique per pair (see bucketedCandidates):
      // no distinct, so no extra shuffle on the verified output
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
}

/** Near-duplicate search over the reference's stored perceptual-hash
  * bytes (SURVEY §7.1.8: generalize Q7 hash_search from exact equality
  * to Hamming proximity over dhash/phash columns). The 8-byte
  * `hash_value` binaries become longs; candidate generation reuses the
  * pigeonhole chunk-LSH (any pair within Hamming < chunks shares an
  * exact 16-bit chunk), so a query probes `chunks` bucket lookups
  * instead of scanning every stored hash.
  */
object HammingSearch {
  import org.apache.spark.sql.{DataFrame}

  /** Index stored hashes for Hamming search: one row per (chunk_idx,
    * chunk_value, file_id). Works directly on the binary column —
    * chunks are 2-byte slices, exact-matchable without any long
    * conversion. */
  def chunkedIndex(fileHashes: DataFrame, algoId: Long, chunks: Int = 4): DataFrame =
    fileHashes.filter(col("algo_id") === algoId)
      .select(col("file_id"), col("hash_value"),
        explode(transform(sequence(lit(0), lit(chunks - 1)), c => struct(
          c.as("chunk_idx"),
          substring(col("hash_value"), c * 2 + 1, lit(2)).as("chunk_value")))).as("ch"))
      .select(col("file_id"), col("hash_value"),
        col("ch.chunk_idx").as("chunk_idx"), col("ch.chunk_value").as("chunk_value"))

  /** Hamming distance between two equal-length binary columns
    * (native xor-popcount expression). */
  def hammingBytes(a: Column, b: Column): Column =
    graft.functions.VectorOps.hammingBytes(a, b)

  /** Find stored hashes within `maxHamming` of the query bytes
    * (maxHamming < chunks guaranteed complete by pigeonhole). */
  def search(fileHashes: DataFrame, algoId: Long, query: Array[Byte],
      maxHamming: Int = 3, chunks: Int = 4): DataFrame = {
    val idx = chunkedIndex(fileHashes, algoId, chunks)
    val qChunks = query.grouped(2).zipWithIndex
      .map { case (bs, i) => (i, bs) }.toSeq
    val s = fileHashes.sparkSession
    import s.implicits._
    val probe = qChunks.toDF("chunk_idx", "chunk_value")
    idx.join(broadcast(probe), Seq("chunk_idx", "chunk_value"))
      .select(col("file_id"), col("hash_value")).distinct()
      .withColumn("hamming", hammingBytes(col("hash_value"), lit(query)))
      .filter(col("hamming") <= maxHamming)
  }
}
