package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorOps

/** Coreset / data-pruning operators over an embedding column — the
  * selection step of a training-data pipeline that decides WHICH
  * vectors (and hence documents) survive into the training mix once
  * near-duplicates are gone: greedy k-center landmark selection
  * (farthest-point traversal, the classic 2-approximation coreset)
  * and prototypicality pruning (drop the most "prototypical" =
  * closest-to-centroid members of each cell, keeping the hard
  * examples — the SSL-prototypes / SemDeDup-family heuristic).
  *
  * Both are exactly replayable by a SQL oracle: every distance is the
  * same promote-to-double, fold-in-index-order cosine the rest of the
  * similarity suite uses (functions.VectorOps), all argmax/argmin
  * tie-breaks are pinned by id, and the only nondeterminism-prone
  * aggregate (the centroid mean) is rounded before any comparison.
  *
  * Reference analog: none — the reference engine (faexport_db) has no
  * embedding operators; this is the LLM-pipeline suite.
  */
object Coreset {

  /** cos(v, w) with both sides float arrays — the codegen'd
    * dot-product expression, identical fold order to the oracle. */
  private def cosFF(v: Column, w: Column): Column =
    VectorOps.dotProduct(v, w) /
      (sqrt(VectorOps.dotProduct(v, v)) * sqrt(VectorOps.dotProduct(w, w)))

  /** cos(v: array<float>, c: array<double>) via the Column
    * formulation (zip_with + aggregate folds left-to-right in index
    * order, each float promoted to double first — the exact
    * arithmetic `list_sum(list_transform(...))` performs in the
    * oracle). Used only against the 64-element centroid, once per
    * row, so the interpreted-eval cost is irrelevant. */
  private def cosFD(v: Column, c: Column): Column = {
    def fold(x: Column): Column =
      aggregate(x, lit(0.0), (acc, e) => acc + e)
    val dotVC = fold(zip_with(v, c, (a, b) => a.cast("double") * b))
    val nV = sqrt(fold(zip_with(v, v,
      (a, b) => a.cast("double") * b.cast("double"))))
    val nC = sqrt(fold(zip_with(c, c, (a, b) => a * b)))
    dotVC / (nV * nC)
  }

  /** Greedy k-center (farthest-point) landmark selection over cosine
    * distance (1 − cos), then assignment of every vector to its
    * nearest landmark. Deterministic end to end: the seed is the
    * minimum id, each next landmark is the argmax of
    * min-distance-to-selected with ties broken by (distance desc, id
    * asc), and assignment ties break by (distance asc, landmark id
    * asc).
    *
    * Execution shape: the selection loop is driver-coordinated like
    * the connected-components convergence loop — k−1 rounds, each ONE
    * distributed scan computing ≤k codegen'd dot products per row and
    * reducing via TakeOrdered(1) (no shuffle, no collect of data
    * rows; only the single winning row comes back to the driver).
    * Landmarks ride along as literals, so the final assignment pass
    * is a narrow map — no join, no exchange. At 100 TB one would run
    * selection on a deterministic hash-sample (landmarks stabilize
    * long before the full corpus is seen — same argument as the Lloyd
    * refinement sample in [[Similarity]]) and keep the assignment
    * pass, which is embarrassingly parallel, on the full corpus.
    *
    * Returns (vec_id, lm_id, lm_rank, dist): every vector, its
    * nearest landmark, that landmark's selection rank (1-based; rank
    * 1 = the seed), and the cosine distance rounded to 6 places
    * (comparisons happen on unrounded doubles; rounding is
    * emission-only).
    */
  def kCenterAssign(emb: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val base = graft.engine.CacheRegistry.retain(
      emb.select(col(idCol).cast("long").as("vec_id"), col(vecCol).as("v")))
    assignTo(base, selectLandmarks(base, k))
  }

  /** The greedy farthest-point traversal itself. `base` must have
    * columns (vec_id: long, v: array<float>). When `base` fits
    * [[graft.engine.DriverLocal]]'s bound the traversal runs on the
    * driver over its one collect: the k+1 driver-coordinated jobs
    * (seed + k−1 TakeOrdered(1) rounds, each ~a job-launch latency;
    * measured at sf0.1 in round 18: q110's warm wall was ~1.9 s of
    * which total task time was 0.3 s — pure scheduling) collapse to
    * one. Above it, driver-coordinated k−1 TakeOrdered(1) rounds run
    * over the cached base (at 100 TB: over a deterministic
    * hash-sample, per [[kCenterAssign]]'s note). Both paths compute
    * the SAME doubles (float→double promotion, index-order fold —
    * [[selectLocal]] mirrors DotProductExpr's loop) with the SAME
    * orderings (NaN largest, least() skips NaN, ties by id), so the
    * selected landmark sequence is identical — CoresetChunkerSpec pins
    * local == distributed. */
  private[graft] def selectLandmarks(base: DataFrame,
      k: Int): Vector[(Long, Array[Float])] = {
    require(k >= 1, s"k must be >= 1, got $k")
    graft.engine.DriverLocal.collect(base) match {
      case Some(rows) if rows.nonEmpty => return selectLocal(
        rows.map(r => (r.getLong(0), r.getSeq[Float](1).toArray)), k)
      case _ =>
    }
    def distTo(lm: Array[Float]): Column =
      lit(1.0) - cosFF(col("v"), typedlit(lm))
    val seed = base.orderBy(col("vec_id").asc).limit(1).collect()(0)
    var lms = Vector[(Long, Array[Float])](
      (seed.getLong(0), seed.getSeq[Float](1).toArray))
    while (lms.size < k) {
      val minDist = lms.map(l => distTo(l._2)).reduce(least(_, _))
      val picked = base
        .filter(!col("vec_id").isin(lms.map(_._1): _*))
        .select(col("vec_id"), col("v"), minDist.as("d"))
        .orderBy(col("d").desc, col("vec_id").asc)
        .limit(1).collect()
      if (picked.isEmpty) return lms // fewer vectors than k
      lms = lms :+ ((picked(0).getLong(0), picked(0).getSeq[Float](1).toArray))
    }
    lms
  }

  /** Driver-local greedy traversal — arithmetic and orderings mirror
    * the distributed loop EXACTLY: dot is the same float→double
    * promote-and-fold as DotProductExpr; d = 1.0 − dot/(n_v · n_lm)
    * with norms precomputed per point (sqrt of the same self-dot the
    * Column form computes); the running min over landmarks uses
    * Spark's least() semantics (NaN skipped — least2 is a commutative
    * monoid with NaN as identity, so the running fold equals the
    * distributed reduce in any order); the per-round argmax uses
    * Spark's descending double ordering (NaN largest — Double.compare)
    * with ties by id asc. +0.0 normalizes a hypothetical -0.0 the way
    * SQL comparisons do (d = 1.0 − cos cannot actually produce -0.0). */
  private def selectLocal(pts: Array[(Long, Array[Float])],
      k: Int): Vector[(Long, Array[Float])] = {
    def dot(a: Array[Float], b: Array[Float]): Double = {
      val n = math.min(a.length, b.length)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    val norms = pts.map { case (id, v) =>
      val n = math.sqrt(dot(v, v))
      // domain parity with the distributed traversal: ANSI division
      // throws DIVIDE_BY_ZERO on a zero-norm vector there, so fail
      // loudly here too instead of silently folding NaN distances
      require(n != 0.0, s"zero-norm vector (vec_id=$id) has no cosine " +
        "distance — the k-center traversal is defined on non-zero vectors")
      n
    }
    def least2(a: Double, b: Double): Double =
      if (a.isNaN) b else if (b.isNaN) a else math.min(a, b)
    var seedIdx = 0
    var i = 1
    while (i < pts.length) {
      if (pts(i)._1 < pts(seedIdx)._1) seedIdx = i
      i += 1
    }
    var lms = Vector(pts(seedIdx))
    val selected = scala.collection.mutable.Set(pts(seedIdx)._1)
    // running min distance to the selected set, updated per new landmark
    val minD = Array.fill(pts.length)(Double.NaN)
    var lastLm = pts(seedIdx)
    while (lms.size < k && selected.size < pts.length) {
      val (_, lv) = lastLm
      val nl = math.sqrt(dot(lv, lv))
      var best = -1
      var bestD = 0.0
      var j = 0
      while (j < pts.length) {
        val (id, v) = pts(j)
        minD(j) = least2(minD(j), 1.0 - dot(v, lv) / (norms(j) * nl) + 0.0)
        if (!selected.contains(id)) {
          val d = minD(j)
          // Spark's (d desc, id asc) winner: NaN sorts largest
          val better = best < 0 ||
            java.lang.Double.compare(d, bestD) > 0 ||
            (java.lang.Double.compare(d, bestD) == 0 && id < pts(best)._1)
          if (better) { best = j; bestD = d }
        }
        j += 1
      }
      if (best < 0) return lms
      lms = lms :+ pts(best)
      selected += pts(best)._1
      lastLm = pts(best)
    }
    lms
  }

  /** The at-rest form of the k-center index: one row per landmark —
    * (lm_id, lm_rank, lv, radius) where radius is the landmark's
    * coverage radius, the max cosine distance over every corpus
    * vector assigned to it (unrounded: it is a max of
    * engine-identical doubles, so it replays exactly). Written once
    * per corpus, this is the k·(dim+2)-value summary a later ingest
    * batch probes for drift detection without ever re-reading the
    * corpus — the same write-once/probe-forever contract as the
    * sketch store (q91) and cosine index (q92). */
  def landmarksWithRadius(emb: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val base = graft.engine.CacheRegistry.retain(
      emb.select(col(idCol).cast("long").as("vec_id"), col(vecCol).as("v")))
    val lms = selectLandmarks(base, k)
    val spark = emb.sparkSession
    import spark.implicits._
    val lmDf = lms.zipWithIndex
      .map { case ((id, lv), i) => (id, i + 1L, lv.toSeq) }
      .toDF("lm_id", "lm_rank", "lv")
    val radii = nearest(base, lms)
      .groupBy(col("m.lm_id").as("lm_id"))
      .agg(max(col("m.d")).as("radius"))
    lmDf.join(radii, Seq("lm_id"))
      .select(col("lm_id"), col("lm_rank"),
        col("lv").cast("array<float>").as("lv"), col("radius"))
  }

  /** Probe a stored landmark table with an ingest batch: nearest
    * stored landmark per batch vector plus a drift flag (novel = 1
    * iff the vector lands OUTSIDE its landmark's corpus coverage
    * radius — the fraction of novel rows per batch is the
    * distribution-shift monitor). The landmark table is k rows —
    * collecting it to literals is a broadcast-dimension read, and the
    * probe itself is a narrow map over the batch: per-ingest cost is
    * independent of corpus size by construction. */
  def assignBatchToStored(batch: DataFrame, idCol: String, vecCol: String,
      landmarks: DataFrame): DataFrame = {
    val lmRows = landmarks
      .select(col("lm_id"), col("lm_rank"), col("lv"), col("radius"))
      .collect()
    val cands = array(lmRows.map { r =>
      val lv = r.getSeq[Float](2).toArray
      struct((lit(1.0) - cosFF(col("v"), typedlit(lv))).as("d"),
        lit(r.getLong(0)).as("lm_id"), lit(r.getLong(1)).as("lm_rank"),
        lit(r.getDouble(3)).as("radius"))
    }.toIndexedSeq: _*)
    batch
      .select(col(idCol).cast("long").as("vec_id"), col(vecCol).as("v"))
      .select(col("vec_id"), array_min(cands).as("m"))
      .select(col("vec_id"), col("m.lm_id").as("lm_id"),
        col("m.lm_rank").as("lm_rank"),
        (round(col("m.d"), 6) + lit(0.0)).as("dist"),
        (round(col("m.radius"), 6) + lit(0.0)).as("radius"),
        when(col("m.d") > col("m.radius"), 1L).otherwise(0L).as("novel"))
  }

  /** Periodic coverage-radius refresh for a stored landmark index —
    * the maintenance half of q112's write-once contract. Landmarks
    * themselves are IMMUTABLE (identity, rank, and vector never
    * change, so stored assignments and the probe shape stay valid);
    * what drifts is coverage: once an ingest batch is ACCEPTED into
    * the corpus, its vectors are corpus members, and each landmark's
    * radius must grow to max(stored radius, max distance of accepted
    * vectors assigned to it) or the monitor keeps flagging territory
    * the corpus now occupies. A vector that flagged novel before its
    * batch was accepted therefore flips to covered after refresh
    * (spec-pinned in CoresetSpec), while genuinely new territory
    * still flags. The batch max uses UNROUNDED distances (like the
    * build-time radius — rounding is emission-only) so the flip is
    * exact, not at the mercy of a 1e-6 rounding edge.
    *
    * Scale shape: one narrow map over the accepted batch (k landmarks
    * ride as literals), a k-row aggregation, a k-row join — refresh
    * cost is independent of corpus size, and the output is the same
    * k-row table shape, ready to overwrite the store. */
  def refreshRadii(landmarks: DataFrame, acceptedBatch: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val lmRows = landmarks
      .select(col("lm_id"), col("lm_rank"), col("lv"), col("radius"))
      .collect()
    val lms = lmRows.map { r =>
      (r.getLong(0), r.getSeq[Float](2).toArray)
    }.toVector
    val batchMax = nearest(
      acceptedBatch.select(col(idCol).cast("long").as("vec_id"),
        col(vecCol).as("v")), lms)
      .groupBy(col("m.lm_id").as("lm_id"))
      .agg(max(col("m.d")).as("batch_radius"))
    landmarks.join(broadcast(batchMax), Seq("lm_id"), "left")
      .select(col("lm_id"), col("lm_rank"), col("lv"),
        greatest(col("radius"),
          coalesce(col("batch_radius"), lit(0.0))).as("radius"))
  }

  /** Landmark RE-SELECTION — the escalation beyond [[refreshRadii]],
    * closing the drift lifecycle. Refresh keeps landmarks immutable
    * and grows radii to absorb accepted batches, which is cheap and
    * correct until the batches come from genuinely new territory:
    * then a radius stretches to cluster-gap scale and the monitor
    * goes BLIND — everything inside the ballooned ball reads as
    * covered, including territory nothing in the corpus occupies
    * (spec-pinned in CoresetChunkerSpec). Re-selection re-runs the
    * deterministic k-center traversal over corpus ∪ accepted, so the
    * new territory gets its own landmarks, radii shrink back to
    * cluster scale, and novelty detection discriminates again.
    *
    * Operational contract (the monitor that should trigger this):
    * after a refresh, compare each landmark's new radius to its
    * build-time value — a radius that grew past ~2× build scale means
    * the accepted batch was not an expansion of existing territory
    * but a new region, and the index should be re-selected rather
    * than re-stretched. Re-selection REPLACES the stored table:
    * landmark identities and ranks are reassigned (rank 1 = the new
    * seed), so stored per-batch assignments against the old index
    * are historical records, not joinable against the new one.
    *
    * Cost shape: this is the expensive path by design — the k-center
    * traversal is k−1 driver-coordinated TakeOrdered(1) scans over
    * corpus ∪ accepted (at 100 TB: over a deterministic hash-sample,
    * per [[kCenterAssign]]'s note), vs [[refreshRadii]]'s
    * corpus-independent batch pass. That asymmetry is why the
    * lifecycle is refresh-per-batch, reselect-on-alert. */
  def reselectLandmarks(corpus: DataFrame, accepted: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame =
    landmarksWithRadius(
      corpus.select(col(idCol), col(vecCol))
        .unionByName(accepted.select(col(idCol), col(vecCol))),
      idCol, vecCol, k)

  /** (vec_id, m: struct(d, lm_id, lm_rank)) — nearest landmark per
    * row via the map-side min-struct pattern. */
  private def nearest(base: DataFrame,
      lms: Vector[(Long, Array[Float])]): DataFrame = {
    val cands = array(lms.zipWithIndex.map { case ((id, lv), i) =>
      struct((lit(1.0) - cosFF(col("v"), typedlit(lv))).as("d"),
        lit(id).as("lm_id"), lit(i + 1L).as("lm_rank"))
    }: _*)
    base.select(col("vec_id"), array_min(cands).as("m"))
  }

  // nearest landmark via array_min over (dist, lm_id, lm_rank)
  // structs — field-order comparison IS the (dist asc, id asc)
  // tie-break; the same map-side min-struct pattern as the IVF
  // assignment (no shuffle, no window)
  private def assignTo(base: DataFrame,
      lms: Vector[(Long, Array[Float])]): DataFrame =
    nearest(base, lms)
      .select(col("vec_id"), col("m.lm_id").as("lm_id"),
        col("m.lm_rank").as("lm_rank"),
        // + 0.0 normalizes IEEE -0.0 (a landmark's self-distance after
        // rounding) so both engines emit the same zero
        (round(col("m.d"), 6) + lit(0.0)).as("dist"))

  /** Prototypicality pruning: assign every vector to a cell (argmax
    * cosine against the seed centroid set, ties by centroid id — the
    * same assignment q63/q51 gate), average each cell into its TRUE
    * centroid, score every member by cosine to that centroid, and
    * prune the top `pruneFrac` most-prototypical members per cell
    * (they carry the least marginal information; the hard,
    * far-from-center examples survive). Returns the full decision
    * table (vec_id, cell, proto, proto_rank, decision).
    *
    * Determinism: the centroid mean is the one order-sensitive double
    * aggregate in the operator, so each component is rounded to 6
    * places BEFORE any cosine — after that every engine computes
    * bit-identical doubles, and ranking ties (identical rounded
    * scores) break by vec_id.
    *
    * Scale shape: one narrow assignment pass (centroids broadcast),
    * one posexplode + grouped avg for centroids (shuffle keyed by
    * (cell, pos) — 64·cells rows out), one broadcast join back, one
    * window per cell. Cells are IVF-sized (thousands at 100 TB), so
    * per-cell windows are wide and the centroid table stays
    * broadcast-able by construction. */
  def prototypePrune(emb: DataFrame, idCol: String, vecCol: String,
      seeds: DataFrame, seedIdCol: String, seedVecCol: String,
      pruneFrac: Double = 0.25): DataFrame = {
    val assigned = graft.engine.CacheRegistry.retain(
      IvfAnn.assign(emb.select(col(idCol), col(vecCol)), idCol, vecCol,
          seeds.select(col(seedIdCol).as("centroid_id"),
            col(seedVecCol).as("centroid_vec")))
        .select(col(idCol).as("vec_id"), col(vecCol).as("v"),
          col("centroid").as("cell")))
    val cents = assigned
      .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("cell"), col("pos"))
      .agg(round(avg(col("x").cast("double")), 6).as("c"))
      .groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("cell"), transform(col("pc"), p => p("c")).as("cv"))
    val scored = assigned.join(broadcast(cents), Seq("cell"))
      .select(col("vec_id"), col("cell"),
        round(cosFD(col("v"), col("cv")), 6).as("proto"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cell"))
    scored
      .withColumn("proto_rank", row_number().over(
        w.orderBy(col("proto").desc, col("vec_id").asc)).cast("long"))
      .withColumn("n_cell", count(lit(1)).over(w))
      .select(col("vec_id"), col("cell"), col("proto"), col("proto_rank"),
        when(col("proto_rank") <= ceil(lit(pruneFrac) * col("n_cell")),
          lit("prune")).otherwise(lit("keep")).as("decision"))
  }
}
