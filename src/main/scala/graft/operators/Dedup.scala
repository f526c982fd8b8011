package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection for large text corpora (builder brief /
  * BASELINE.json north_star: dedup as a first-class 100 TB operator,
  * generalizing the reference's exact-hash file identity checks,
  * faexport_db/models/file.py:50–63, to fuzzy document identity).
  *
  * All hashing uses Spark's codegen'd xxhash64 — no UDFs anywhere; the
  * whole family stays inside WholeStageCodegen until the LSH-bucket
  * shuffle.
  *
  * Scale design: one pipeline, sketch → candidates → verify.
  *  - Sketch. [[corpusSketch]] is the one per-doc sketch build
  *    (shingles, minhash signature), a narrow projection with no
  *    shuffle. [[explodedBands]] turns it into the bucket-key table, in
  *    memory or at rest.
  *  - Candidates. One sketch family: the signature banded as
  *    [[SketchBands]] bands of [[SketchK]]/[[SketchBands]] rows, docs
  *    bucketed on (band_id, band_hash). At 8 × 4 a pair at Jaccard
  *    0.8 collides in some band with probability 1 − (1 − 0.8⁴)⁸ ≈
  *    0.9996, and the candidate count stays near the true pair count
  *    (measured: 256 candidates for the 256 pairs of sf0.1). Within a
  *    corpus the band table self-joins ([[multiSketchPairsFromStore]]);
  *    a batch probes a corpus by joining its band table to the
  *    corpus's ([[incrementalPairsBetweenStores]]).
  *  - Verify. Every path hands its candidate pairs to one exact-Jaccard
  *    core ([[verifiedByJaccard]]). A lossless filter ahead of exact
  *    Jaccard (length, prefix) goes there, and every path inherits it.
  *
  * The text-taking entry points ([[multiSketchPairs]],
  * [[incrementalMinhashPairsFromStore]]) sketch once and delegate to
  * the store variants. q27's simhash path ([[SimhashPairs]]) keeps its
  * own chunk buckets and shares the verification step.
  */
object Dedup {

  /** The one banding every store and probe uses: [[SketchK]] minhash
    * slots in [[SketchBands]] bands. The sketch stores' build params
    * are written from these, so a probe can never band differently
    * from the table it reads. */
  val SketchK = 32
  val SketchBands = 8

  /** Whitespace tokens, lowercased. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Distinct w-word shingles (w=3): the unit of MinHash/Jaccard
    * similarity. Texts shorter than w tokens contribute one whole-text
    * shingle (guards element_at under ANSI mode). */
  def shingles(text: Column, w: Int = 3): Column =
    graft.functions.VectorOps.shingles(tokens(text), w)

  /** MinHash signature: k independent permutations; sig[i] = min over
    * shingles of h_i(shingle). Each shingle STRING is hashed exactly
    * once; the k permutations re-hash the resulting long (h, i) —
    * hashing a fixed-width long k times is ~20× cheaper than hashing
    * the string k times, which dominates signature cost at corpus
    * scale. */
  def minhashSignature(sh: Column, k: Int = SketchK): Column =
    graft.functions.TextHashes.minhashSignature(sh, k)

  /** LSH band keys: split the signature into `bands` bands of
    * `rows = k/bands` and hash each; docs sharing any (band, hash) are
    * candidates. */
  def bandKeys(sig: Column, k: Int = SketchK, bands: Int = SketchBands): Column = {
    val r = k / bands
    transform(sequence(lit(0), lit(bands - 1)),
      j => struct(j.as("band_id"),
        xxhash64(slice(sig, j * r + 1, lit(r))).as("band_hash")))
  }

  /** Exact Jaccard over two shingle arrays.
    *
    * PRECONDITION: both arrays must be duplicate-free — the identity
    * |A∪B| = |A|+|B|−|A∩B| used here holds only for sets, and a
    * caller passing raw token arrays (with repeats) gets silently
    * deflated similarities. Every in-repo producer satisfies this by
    * construction ([[shingles]]/ShinglesExpr dedupes); external
    * callers with possibly-repeating elements must `array_distinct`
    * first. The identity matters because one array_intersect replaces
    * the intersect+union pair — the verification step over candidate
    * pairs is the CPU hot spot of every sketch-dedup composite
    * (q27/q62/q67), and this halves its set-op work (the repeated
    * `inter` subtree is eliminated by codegen CSE). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / ((size(a) + size(b)).cast("double") - inter)
  }

  /** Lossless prefilter for `jaccard(a, b) >= t`: since
    * |A∩B| <= min(|A|,|B|) and |A∪B| >= max(|A|,|B|), J <= min/max —
    * a length comparison that skips the expensive set ops for the
    * random hash-bucket collisions that dominate candidate sets. */
  def sizeRatioAtLeast(a: Column, b: Column, t: Double): Column =
    least(size(a), size(b)).cast("double") >= lit(t) * greatest(size(a), size(b))

  /** SimHash (64-bit): per-token xxhash64, bit-wise majority vote
    * weighted by token frequency; near-dups have small Hamming
    * distance. Built from bit arithmetic on codegen'd functions. */
  def simhash(text: Column): Column =
    graft.functions.TextHashes.simhash64(tokens(text))

  /** Hamming distance between two 64-bit hashes. */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Rebalance an under-partitioned input before CPU-heavy per-row
    * sketch compute (see [[graft.Tables.spread]]). */
  private[graft] def spread(df: DataFrame): DataFrame =
    graft.Tables.spread(df)

  /** Pin the candidate frame to full task width before the exact-
    * Jaccard verification joins — the [[graft.engine.Spread]] trap, at
    * the OTHER end of the pipeline: the candidate pair list is a few
    * narrow columns (AQE sees KBs and coalesces its exchange to 1–2
    * partitions), but each row then pays an array_intersect over two
    * whole shingle sets — the CPU hot spot of every sketch-dedup
    * composite. Measured at sf0.1 before this existed: the
    * verification stage of q67/q62 ran as 2 tasks of ~1.8 s each on a
    * 32-core session (~40% of the warm wall; Bench's `query_metrics`
    * carries the per-query task times), with the other
    * 30 cores idle. Keyed on the first verification join's key so the
    * exchange doubles as that join's left-side distribution — at any
    * scale the join needed this shuffle anyway. */
  private[operators] def spreadForVerify(cands: DataFrame, key: String): DataFrame =
    graft.engine.Spread.spreadForExplosion(cands, col(key))

  /** The verification step of every sketch path: candidate pairs
    * (`aCol`, `bCol`) meet their shingle arrays — `left` (doc, sh) on
    * `aCol`, `right` (doc, sh) on `bCol` — the lossless
    * [[sizeRatioAtLeast]] cut drops pairs whose lengths already rule
    * the threshold out, and exact [[jaccard]] >= `threshold` decides.
    * Returns (`aCol`, `bCol`, jaccard). Callers set the candidate
    * frame's width ([[spreadForVerify]]) and prune an at-rest side
    * ([[graft.engine.ProbePrune]]) before calling; the joins carry no
    * hint, so AQE sizes them from the runtime shingle tables. */
  private[operators] def verifiedByJaccard(cands: DataFrame,
      aCol: String, bCol: String, left: DataFrame, right: DataFrame,
      threshold: Double): DataFrame =
    cands
      .join(left.select(col("doc").as(aCol), col("sh").as("sh_a")), Seq(aCol))
      .join(right.select(col("doc").as(bCol), col("sh").as("sh_b")), Seq(bCol))
      .filter(sizeRatioAtLeast(col("sh_a"), col("sh_b"), threshold))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col(aCol), col(bCol), col("jaccard"))

  /** Within-table minhash candidates: (doc_a, doc_b) pairs of a band
    * table ([[explodedBands]]) sharing a (band_id, band_hash) bucket,
    * doc_a < doc_b, once per shared band. */
  private def bandSelfJoinPairs(banded: DataFrame): DataFrame =
    banded.select(col("band_id"), col("band_hash"), col("doc").as("doc_a"))
      .join(banded.select(col("band_id"), col("band_hash"), col("doc").as("doc_b")),
        Seq("band_id", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")

  /** Within-table simhash candidates: (doc_a, doc_b, sim_a, sim_b)
    * pairs of a chunk table ([[explodedChunks]]) sharing a
    * (chunk_idx, chunk_value) bucket, doc_a < doc_b, once per shared
    * chunk. Callers cut on Hamming distance. q27's [[SimhashPairs]]
    * only. */
  private[operators] def bucketSelfJoinPairs(chunked: DataFrame): DataFrame =
    chunked.select(col("chunk_idx"), col("chunk_value"),
        col("doc").as("doc_a"), col("simhash").as("sim_a"))
      .join(chunked.select(col("chunk_idx"), col("chunk_value"),
          col("doc").as("doc_b"), col("simhash").as("sim_b")),
        Seq("chunk_idx", "chunk_value"))
      .filter(col("doc_a") < col("doc_b"))

  /** Per-doc sketch frame (doc, sh, sig) — the one sketch build of the
    * family, and the table a production deployment persists ONCE per
    * corpus so later ingest batches never re-read or re-hash the
    * corpus text (at 100 TB, additionally persist the exploded band
    * table bucketed by its bucket key; [[incrementalMinhashPairs]]
    * derives it narrowly when absent). Banding 8 × 4 reaches every
    * exact pair on the corpora measured (perfbench seeds 1, 3 and 7,
    * sf0.01, sf0.1 — see [[multiSketchPairs]]), so the sketch carries
    * no second family. */
  def corpusSketch(docs: DataFrame, idCol: String, textCol: String,
      k: Int = SketchK): DataFrame =
    spread(docs.select(col(idCol), col(textCol)))
      .select(col(idCol).as("doc"), shingles(col(textCol)).as("sh"))
      .withColumn("sig", minhashSignature(col("sh"), k))

  /** Incremental cross-batch near-dup detection — the daily-ingest
    * shape of fuzzy dedup at corpus scale: a NEW batch of documents
    * is checked against an EXISTING corpus via the corpus's persisted
    * sketch table ([[corpusSketch]]); text is shingled and sketched
    * only for the batch. Candidates are minhash-band collisions,
    * generated by broadcasting the batch's band keys over the
    * corpus-side band table, so the corpus streams with no shuffle and
    * no recompute — cost per ingest is O(batch · bands) + candidate
    * verification, independent of corpus size. Returns
    * (batch_doc, corpus_doc, jaccard >= threshold).
    *
    * Batch and corpus ids must be DISJOINT (a shared id would emit a
    * degenerate self-pair); the daily-ingest contract guarantees it.
    *
    * The broadcast hint is applied only while the batch holds at most
    * `maxBroadcastBatchDocs` documents (each contributes
    * [[SketchBands]] narrow key rows to the broadcast table). A
    * backfill-sized batch above the threshold gets NO hint — the
    * candidate join then shuffles on the bucket keys (AQE may still
    * choose a broadcast from actual sizes), which is slower but
    * cannot hit Spark's broadcast hard limit. The count that decides
    * this materializes the retained batch sketch, work the candidate
    * join was about to do anyway.
    */
  def incrementalMinhashPairs(corpusSketch: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.8,
      maxBroadcastBatchDocs: Long = 1000000L): DataFrame = {
    val corpus = graft.engine.CacheRegistry.retain(corpusSketch)
    incrementalMinhashPairsFromStore(
      corpus.select(col("doc"), col("sh")), explodedBands(corpus),
      batch, idCol, textCol, threshold, maxBroadcastBatchDocs)
  }

  /** Exploded minhash band-key table (doc, band_id, band_hash) of a
    * [[corpusSketch]] frame — at rest, persisted bucketed by
    * (band_id, band_hash) so candidate joins read bucket-local data. */
  def explodedBands(sketch: DataFrame, k: Int = SketchK,
      bands: Int = SketchBands): DataFrame =
    sketch.select(col("doc"),
      explode(bandKeys(col("sig"), k, bands)).as("band"))
      .select(col("doc"), col("band.band_id").as("band_id"),
        col("band.band_hash").as("band_hash"))

  /** Exploded simhash chunk table (doc, simhash, chunk_idx,
    * chunk_value) of a (doc, simhash) frame — q27's candidate buckets
    * ([[SimhashPairs]]). Carries the full simhash so the pigeonhole
    * Hamming filter runs without a join back. */
  private[operators] def explodedChunks(sketch: DataFrame, chunks: Int): DataFrame = {
    val bits = 64 / chunks
    sketch.select(col("doc"), col("simhash"),
      explode(transform(sequence(lit(0), lit(chunks - 1)), c => struct(
        c.as("chunk_idx"),
        call_function("shiftright", col("simhash"), c * bits)
          .bitwiseAND(lit((1L << bits) - 1)).as("chunk_value")))).as("ch"))
      .select(col("doc"), col("simhash"),
        col("ch.chunk_idx").as("chunk_idx"), col("ch.chunk_value").as("chunk_value"))
  }

  /** [[incrementalMinhashPairs]] against the AT-REST corpus layout:
    * the two corpus-side tables a production deployment writes once
    * per corpus — `corpusShingles` (doc, sh) and `corpusBands`
    * ([[explodedBands]]) — are read from persisted storage, so an
    * ingest batch never re-reads or re-hashes corpus text even across
    * JVMs (the in-JVM-cache variant above derives them from the sketch
    * frame and delegates here). The batch is sketched once
    * ([[corpusSketch]], retained) and probes through
    * [[incrementalPairsBetweenStores]]. Same contract: batch/corpus
    * ids disjoint, broadcast hint only under `maxBroadcastBatchDocs`. */
  def incrementalMinhashPairsFromStore(
      corpusShingles: DataFrame, corpusBands: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.8,
      maxBroadcastBatchDocs: Long = 1000000L): DataFrame = {
    val batchSk = graft.engine.CacheRegistry.retain(
      corpusSketch(batch, idCol, textCol))
    incrementalPairsBetweenStores(corpusShingles, corpusBands,
      batchSk.select(col("doc"), col("sh")), explodedBands(batchSk),
      threshold, maxBroadcastBatchDocs)
  }

  /** Batch-vs-corpus near-dup pairs with BOTH ends in sketch-table
    * form: each side is a (shingles, bands) pair, so the operation
    * hashes no text at all. Every batch probe lands here:
    * [[incrementalMinhashPairsFromStore]] sketches its batch text once
    * and delegates; the accept lifecycle
    * ([[graft.queries.LlmOps.acceptClusterRelabel]]) passes the batch
    * partitions acceptSketchBatch just wrote, or one in-memory
    * [[corpusSketch]] of the batch via [[explodedBands]] (the q123
    * shape). Both band tables must be banded at [[SketchK]] ×
    * [[SketchBands]] — the layout the sketch stores record in their
    * params.
    *
    * One hint rule: the batch's narrow band table ([[SketchBands]]
    * rows per doc) is broadcast while the batch holds at most
    * `maxBroadcastBatchDocs` docs — the backfill guard, decided by one
    * batch-sized count. The verification joins carry the whole shingle
    * arrays and get no hint; AQE picks their strategy from runtime
    * sizes. Each candidate pair is verified once by exact Jaccard.
    * Batch and corpus doc ids must be disjoint (the accept id guard
    * enforces it). Returns (batch_doc, corpus_doc, jaccard >=
    * threshold). */
  def incrementalPairsBetweenStores(
      corpusShingles: DataFrame, corpusBands: DataFrame,
      batchShingles: DataFrame, batchBands: DataFrame,
      threshold: Double = 0.8,
      maxBroadcastBatchDocs: Long = 1000000L): DataFrame = {
    val hintBatch: DataFrame => DataFrame =
      if (batchShingles.count() <= maxBroadcastBatchDocs) broadcast
      else identity
    // pruning the bands on `band_hash` alone keeps a SUPERSET of the
    // composite join key; the equi-join below re-tightens it
    val cands = graft.engine.CacheRegistry.retain(
      graft.engine.ProbePrune.pruneToProbeKeys(
          corpusBands, "band_hash", batchBands, "band_hash")
        .join(hintBatch(batchBands.select(col("doc").as("batch_doc"),
            col("band_id"), col("band_hash"))),
          Seq("band_id", "band_hash"))
        .select(col("batch_doc"), col("doc").as("corpus_doc"))
        .distinct()) // a pair may collide in several bands
    // the corpus shingles pruned to the candidate docs in the SCAN: the
    // verification join is batch-proportional in rows matched but
    // streamed every corpus shingle array (measured 2.8 s of a 4.4 s
    // probe at 262k docs × 300 tokens); the store is sorted by `doc`
    // inside each bucket (Storage.appendBucketed), so row-group stats
    // skip the non-candidate bulk
    verifiedByJaccard(cands, "batch_doc", "corpus_doc", batchShingles,
      graft.engine.ProbePrune.pruneToProbeKeys(
        corpusShingles, "doc", cands, "corpus_doc"), threshold)
  }

  /** [[multiSketchPairs]] against the AT-REST corpus layout: WITHIN-
    * corpus near-dup pairs computed entirely from the persisted sketch
    * tables — `corpusShingles` (doc, sh) and `corpusBands`
    * ([[explodedBands]]) — so a periodic whole-corpus dedup, or the
    * near-dup stage of a curation run (q119), never re-shingles or
    * re-hashes a byte of corpus text. With the band table bucketed by
    * its bucket key (the layout [[corpusSketch]] prescribes and q91's
    * store writes), the candidate self-join can run bucket-local — no
    * Exchange on the n·bands candidate-generation side (at gate scale
    * the planner instead picks a broadcast build over one bucketed
    * scan: also Exchange-free, and faster than the inline path even
    * against its warm cache because the sketch compute is gone — the
    * committed BENCH_FULL_latest.json carries the gate-level
    * comparison, q119 vs q67). Verification reads the stored shingle
    * arrays (doc-bucketed, so the verification joins co-partition at
    * corpus scale). Each candidate pair is verified exactly once by
    * exact Jaccard. `spreadVerify = false` is for BATCH-sized sketch
    * frames (q123's internal-edge call), where the pinned exchange
    * costs more than the full-width verification buys. Returns
    * (doc_a, doc_b, jaccard >= threshold) with doc_a < doc_b. */
  def multiSketchPairsFromStore(corpusShingles: DataFrame,
      corpusBands: DataFrame, threshold: Double = 0.8,
      spreadVerify: Boolean = true): DataFrame = {
    // a pair may collide in several bands
    val cands = bandSelfJoinPairs(corpusBands).distinct()
    verifiedByJaccard(if (spreadVerify) spreadForVerify(cands, "doc_a") else cands,
      "doc_a", "doc_b", corpusShingles, corpusShingles, threshold)
  }

  /** Within-corpus near-dup pairs: minhash-band candidates verified
    * once by exact Jaccard. Returns (doc_a, doc_b, jaccard >=
    * threshold) with doc_a < doc_b.
    *
    * Banding decides recall, and exact verification decides every
    * emitted pair. The default 8 bands × 4 rows found every pair with
    * all-pairs exact Jaccard >= 0.8 on the five corpora measured —
    * perfbench `analytics` seeds 1, 3 and 7 (120 pairs each, planted
    * at J 0.8–1.0), sf0.01 (25) and sf0.1 (256) — at 1.0–1.3
    * candidates per true pair. 4 × 8 (each of its bands covers two
    * 8 × 4 bands, so its candidates are a subset) missed up to 25 of
    * the 120 perfbench pairs; a simhash-chunk family unioned on top
    * added thousands of candidates and no pair 8 × 4 missed. q28
    * keeps `bands = 4` over the corpus it is oracle-checked on.
    *
    * One scan sketches every doc into a retained [[corpusSketch]];
    * [[multiSketchPairsFromStore]] then runs over its shingles and its
    * exploded band table. */
  def multiSketchPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, k: Int = SketchK,
      bands: Int = SketchBands): DataFrame = {
    val sk = graft.engine.CacheRegistry.retain(
      corpusSketch(docs, idCol, textCol, k))
    multiSketchPairsFromStore(sk.select(col("doc"), col("sh")),
      explodedBands(sk, k, bands), threshold)
  }

  private def symEdges(e: DataFrame): DataFrame =
    e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))

  /** m(u) = min(Γ(u) ∪ {u}) over a symmetric adjacency. */
  private def nbrMins(adj: DataFrame): DataFrame =
    adj.groupBy(col("src").as("u")).agg(min(col("dst")).as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))

  /** Alternating star contraction (the large-star / small-star
    * MapReduce-CC algorithm, Kiveris et al. 2014; also GraphFrames'
    * default): each large-star re-attaches every larger-id neighbor
    * of u to m(u) = min(Γ(u) ∪ u), each small-star the smaller-id
    * neighbors (and u itself); the graph contracts toward
    * min-centered stars in O(log² n) rounds REGARDLESS of component
    * diameter. Input must be a symmetric loop-free adjacency; returns
    * (node, cluster = component-min id) for every node with an edge.
    *
    * Per round: two grouped min-aggregations and two node-keyed joins
    * over a SHRINKING edge table (each undirected edge maps to at
    * most one re-attached edge — no blowup); convergence = edge-set
    * stability (both-direction exceptAll, cheap once stars form). Hot
    * star centers are groupBy keys (map-side partial min) and
    * unique-keyed join build sides, so no shuffle-output skew. */
  private def starContract(adjInit: DataFrame, maxIter: Int): (DataFrame, Int) = {
    var adj = adjInit.localCheckpoint(false)
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      // LARGE-STAR: every neighbor v > u re-attaches to m(u); each
      // undirected edge is processed from its smaller endpoint only
      val ls = adj.filter(col("dst") > col("src"))
        .join(nbrMins(adj), col("src") === col("u"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
      val adjLs = symEdges(ls).distinct().localCheckpoint(false)
      // SMALL-STAR: the v <= u neighbors (and u itself) attach to m(u)
      val m2 = nbrMins(adjLs)
      val ss = adjLs.filter(col("dst") < col("src"))
        .join(m2, col("src") === col("u"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .unionByName(m2.select(col("u").as("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst"))
      val next = symEdges(ss).distinct().localCheckpoint(false)
      // a full no-op round means both operations hit their fixpoint —
      // the graph is a forest of min-centered stars (each op strictly
      // shrinks the paper's potential otherwise, so no oscillation)
      done = next.exceptAll(adj).unionByName(adj.exceptAll(next)).isEmpty
      adj = next
      iter += 1
    }
    require(done, s"starContract did not converge in $maxIter rounds")
    (nbrMins(adj).select(col("u").as("node"), col("m").as("cluster")), iter)
  }

  /** Near-dup CLUSTER formation — the step that turns a pair list into
    * dedup decisions (keep one representative per cluster): connected
    * components, HYBRID. Phase 1 runs a few rounds of one-hop
    * min-label propagation — the cheapest possible round (one edge
    * join + one count), and near-dup graphs in the wild are
    * small-diameter clusters that fully converge here. Phase 2, only
    * if labels are still moving, CONTRACTS the graph by the current
    * labels and finishes with [[starContract]] — O(log² n) rounds
    * regardless of diameter.
    *
    * The split exists because each phase loses badly outside its
    * regime, measured at sf0.1: on q102's near-percolation
    * 0.4-threshold graph one-hop alone needs 16 rounds (vs
    * maxIter = 20 — a crash waiting for the next scale factor; label
    * pointer-doubling only trims it to 12), while pure star
    * contraction converges in 4 rounds but its heavier rounds cost
    * ~1.1 s extra on the small-diameter q62/q67 graphs that one-hop
    * finishes in 4. The hybrid keeps the cheap path exactly when it
    * wins and bounds the long-chain case by contraction.
    *
    * 100 TB shape: phase-1 rounds are one shuffle each on the node
    * key (the classic large-graph CC), `localCheckpoint` per round
    * cuts lineage, edge table persisted; the phase-2 contracted graph
    * is label-image-sized (≤ nodes, usually far smaller). Returns
    * (node, cluster) with cluster = min node id in the component.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20, oneHopRounds: Int = 4): DataFrame =
    connectedComponentsWithStats(pairs, aCol, bCol, maxIter, oneHopRounds)._1

  /** INCREMENTAL cluster maintenance — the production lifecycle of
    * near-dup clustering: the corpus's (node, cluster = component min
    * id) labels are already materialized (q62's output at rest), a new
    * ingest batch arrives with its cross-edges to the corpus
    * ([[incrementalMinhashPairsFromStore]]) and its internal edges
    * ([[multiSketchPairs]] over just the batch), and the labels are
    * brought up to date WITHOUT re-clustering the corpus.
    *
    * Mechanism: contract every batch↔corpus edge to the corpus
    * endpoint's stored cluster label (a previously edge-less corpus
    * doc rides as itself), union the batch-internal edges, and run
    * [[connectedComponents]] on this CONTRACTED graph — its node set
    * is {touched cluster labels} ∪ {batch docs} ∪ {newly touched
    * corpus docs}, sized by the batch's adjacency, not the corpus.
    * Because a stored label IS the min id of its component, the
    * contracted component min equals the global min over the merged
    * member sets, so relabeling is exact: stored labels whose cluster
    * appears in the contracted result remap to its component min (one
    * broadcast-sized join over the label column — untouched clusters
    * pass through unchanged), and contracted nodes that are real doc
    * ids (batch docs, newly touched corpus docs) take their component
    * min directly. Output schema and semantics equal a full
    * re-clustering over corpus ∪ batch edges — q123 pins this against
    * q62's recursive-CTE oracle, DedupSpec against the operator
    * itself (cluster merges via a batch bridge included).
    *
    * PRECONDITION: batch ids must be DISJOINT from corpus ids (the
    * same daily-ingest contract [[incrementalMinhashPairsFromStore]]
    * documents) — a batch doc sharing an id with a clustered corpus
    * doc would be emitted twice (once remapped, once as a contracted
    * node), and one sharing an id with an untouched cluster's LABEL
    * would hijack that cluster through the remap join. Re-ingesting a
    * corrected version of an existing doc is an upsert, not an
    * accept: route it through a refresh. ENFORCED: both variants fail
    * fast on a collision (broadcast semi-join guard in the shared
    * core; DedupSpec pins the rejection).
    *
    * At 100 TB: the expensive loop runs on the contracted graph
    * (batch-sized); the only corpus-scale work is the narrow label
    * remap join, and nothing re-reads corpus text or re-shuffles
    * corpus edges — in particular the touched-label set used to
    * separate real-doc nodes from label nodes is collected from the
    * contraction join itself (batch-adjacency-sized, broadcastable),
    * never from a corpus-wide distinct. */
  def incrementalConnectedComponents(storedLabels: DataFrame,
      batchCorpusEdges: DataFrame, batchEdges: DataFrame): DataFrame = {
    val (cc, touched) =
      contractedRelabel(storedLabels, batchCorpusEdges, batchEdges)
    val remapped = storedLabels
      .join(cc.withColumnRenamed("cnode", "cluster"), Seq("cluster"), "left")
      .select(col("node"), coalesce(col("cl"), col("cluster")).as("cluster"))
    val newNodes = cc.join(touched, Seq("cnode"), "left_anti")
      .select(col("cnode").as("node"), col("cl").as("cluster"))
    remapped.unionByName(newNodes)
  }

  /** The LABEL-DELTA form of [[incrementalConnectedComponents]]: only
    * rows whose label CHANGED (members of clusters a batch edge merged
    * into a smaller-min component) plus NEW nodes (batch docs and
    * newly-touched edge-less corpus docs) are emitted — untouched
    * clusters stay at rest entirely. The full labeling is `stored
    * labels overridden by delta` (apply deltas latest-batch-wins);
    * DedupSpec pins delta-applied ≡ the full variant ≡ a from-scratch
    * [[connectedComponents]] run.
    *
    * This is what makes per-batch maintenance cost genuinely
    * batch-proportional at 100 TB: the full variant's output (and its
    * store write-back) is corpus-sized per batch, while this delta is
    * sized by the batch's adjacency — the corpus-scale work left is
    * one broadcast-inner-join SCAN of the label store (changed-member
    * lookup; no shuffle, no corpus-wide write), measured in
    * SCALE_EVIDENCE's incremental_clusters sweep. */
  def incrementalConnectedComponentsDelta(storedLabels: DataFrame,
      batchCorpusEdges: DataFrame, batchEdges: DataFrame): DataFrame = {
    val (cc, touched) =
      contractedRelabel(storedLabels, batchCorpusEdges, batchEdges)
    // members of touched clusters whose component min moved: the cc
    // frame is batch-adjacency-sized, so the lookup broadcasts and the
    // stored-label side is a narrow scan, not a shuffle
    val changed = storedLabels
      .join(broadcast(cc.withColumnRenamed("cnode", "cluster")),
        Seq("cluster"))
      .filter(col("cl") =!= col("cluster"))
      .select(col("node"), col("cl").as("cluster"))
    val newNodes = cc.join(touched, Seq("cnode"), "left_anti")
      .select(col("cnode").as("node"), col("cl").as("cluster"))
    changed.unionByName(newNodes)
  }

  /** Shared core of the incremental-CC variants: contract batch edges
    * to stored labels, run CC on the contracted (batch-sized) graph,
    * and return (contracted labels as (cnode, cl), touched stored
    * labels as (cnode)). Enforces the id-disjointness PRECONDITION
    * documented on [[incrementalConnectedComponents]]: batch ids must
    * not collide with stored nodes (stored labels are component-min
    * member ids, so the node check covers labels too) — a collision
    * would silently double-emit the doc or hijack an untouched cluster
    * through the remap join, so it fails fast instead, naming the
    * upsert route. */
  private def contractedRelabel(storedLabels: DataFrame,
      batchCorpusEdges: DataFrame, batchEdges: DataFrame)
      : (DataFrame, DataFrame) = {
    // retained: the contraction join feeds the contracted edge list,
    // the touched-label set, AND the precondition guard below, and its
    // upstream (the batch-corpus edge derivation) is typically the
    // query's most expensive subtree — without the cache Spark
    // re-evaluates it once per consumer. Batch-adjacency-sized,
    // registered for CacheRegistry.releaseAll like sparseTopK's build
    // (callers release at query boundaries; see CacheRegistry's
    // contract). batchEdges likewise (guard + contracted union).
    val bc0 = graft.engine.CacheRegistry.retain(batchCorpusEdges
      .join(storedLabels.withColumnRenamed("node", "corpus_doc"),
        Seq("corpus_doc"), "left"))
    val be = graft.engine.CacheRegistry.retain(
      batchEdges.select(col("doc_a"), col("doc_b")))
    // the guard's collect is the FIRST action, so it also materializes
    // both caches for the main pipeline; limit(5) keeps it a bounded
    // coordinator read (offender sample for the error message)
    val batchIds = bc0.select(col("batch_doc").as("id"))
      .unionByName(be.select(col("doc_a").as("id")))
      .unionByName(be.select(col("doc_b").as("id")))
      .distinct()
    val clash = storedLabels
      .join(broadcast(batchIds), col("node") === col("id"), "left_semi")
      .select(col("node")).limit(5).collect()
    require(clash.isEmpty,
      "incremental CC precondition violated: batch ids " +
        clash.map(_.get(0)).mkString(", ") +
        " already exist in the stored labels — re-ingesting an existing doc " +
        "is an upsert, not an accept; route it through a store refresh " +
        "(StoreAdmin refresh) instead")
    val bc = bc0.select(col("batch_doc").as("a"),
      coalesce(col("cluster"), col("corpus_doc")).as("b"))
    val contracted = bc
      .unionByName(be.select(col("doc_a").as("a"), col("doc_b").as("b")))
    val cc = connectedComponents(contracted, "a", "b")
      .select(col("node").as("cnode"), col("cluster").as("cl"))
    // contracted nodes that are real doc ids, not stored labels: batch
    // docs and corpus docs that had no corpus-internal edge before.
    // Every label in the contracted graph arrived through a bc edge,
    // so the label set to exclude is exactly the contraction join's
    // matched clusters — batch-adjacency-sized, NOT a corpus-wide
    // distinct over the stored labels
    val touchedLabels = bc0.filter(col("cluster").isNotNull)
      .select(col("cluster").as("cnode")).distinct()
    (cc, touchedLabels)
  }

  /** [[connectedComponents]] plus its round counts
    * (one-hop rounds run, star-contraction rounds run) — the numbers
    * `ScaleEvidence`'s convergence sweep records.
    *
    * Scale-adaptive short-circuit: when the edge table fits
    * [[graft.engine.DriverLocal]]'s bound, the labels are solved with
    * a driver-side min-id union-find over its one collect instead of
    * the distributed loop — the same runtime size-switch philosophy as
    * AQE's broadcast decision. Below the bound the edge list is a
    * dimension-sized table and the ~10 driver-coordinated
    * label-propagation / star-contraction rounds are pure
    * job-scheduling latency (measured: the CC stage of q102 cost ~3 s
    * at a few hundred edges, all of it round overhead). The bound is
    * on the near-dup PAIR count, which the callers' banded / celled
    * candidate generation keeps linear in corpus size. The union-find
    * reproduces the loop's labels exactly (component min id,
    * deterministic); ScaleEvidence's convergence sweep sets the bound
    * to 0 so it always measures the distributed rounds. */
  private[graft] def connectedComponentsWithStats(
      pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20, oneHopRounds: Int = 4): (DataFrame, Int, Int) = {
    val edges = symEdges(pairs
        .select(col(aCol).as("src"), col(bCol).as("dst"))
        .filter(col("src") =!= col("dst")))
      .distinct()
    // the short-circuit only engages for integral id columns: the
    // union-find works on longs, and only an integral input type
    // survives the long roundtrip losslessly — any other id type
    // (string, decimal, ...) takes the distributed loop, which is
    // type-agnostic, instead of risking a silently-corrupting cast
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val idType = edges.schema("src").dataType
    val local =
      if (!Seq(ByteType, ShortType, IntegerType, LongType).contains(idType)) None
      else graft.engine.DriverLocal.collect(
        edges.select(col("src").cast("long"), col("dst").cast("long")))
    local.foreach { rows =>
      val spark = pairs.sparkSession
      import spark.implicits._
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x // path compression keeps unions near-linear amortized
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      rows.map(r => (r.getLong(0), r.getLong(1))).foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val ra = find(a); val rb = find(b)
        // union-by-min: the surviving root is always the smaller id,
        // so every final root is its component's global min — the
        // exact label the distributed loop converges to
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val labels = parent.keysIterator.map(n => (n, find(n))).toVector
      // cast back to the INPUT id type so the output schema does not
      // depend on which path the runtime edge count selected
      return (spark.createDataset(labels).toDF("node", "cluster")
        .select(col("node").cast(idType).as("node"),
          col("cluster").cast(idType).as("cluster")), 0, 0)
    }
    // Persist and materialize the edge table through the Dataset path
    // BEFORE the loop: the loop's localCheckpoint compiles its lineage via
    // queryExecution.toRdd, which is statically planned — no AQE — so
    // an unmaterialized pair pipeline would re-run with sort-merge
    // joins and no runtime broadcast/coalescing (measured 3× slower).
    // After this count the loops read only the cached edges.
    edges.persist().count()
    // the first propagation round is folded into initialization:
    // label = min(node, neighbors) — identical to one step from
    // label = node, one fewer distributed round
    var labels = edges.groupBy(col("src").as("node"))
      .agg(min(col("dst")).as("nl"))
      .select(col("node"), least(col("node"), col("nl")).as("label"))
      .localCheckpoint(false)
    var changed = 1L
    var i = 0
    while (changed > 0 && i < oneHopRounds) {
      val nbrMin = edges
        .join(labels.select(col("node").as("dst"), col("label").as("dl")), Seq("dst"))
        .groupBy(col("src").as("node")).agg(min(col("dl")).as("nl"))
      // lazy localCheckpoint: the convergence count below is the ONE
      // job that both materializes this round and cuts its lineage
      val stepped = labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"), col("label"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("next"))
        .localCheckpoint(false)
      changed = stepped.filter(col("next") =!= col("label")).count()
      labels = stepped.select(col("node"), col("next").as("label"))
      i += 1
    }
    var starRounds = 0
    val out =
      if (changed == 0) labels
      else {
        // contract by current labels: every label value is a node of
        // the SAME component (labels only ever copy reachable ids),
        // so components of the contracted graph are the images of the
        // originals — and each contains its component's min id, whose
        // label is itself. Fully-converged components contract to
        // loops and drop out; the left join falls back to their label.
        val contracted = edges
          .join(labels.select(col("node").as("src"), col("label").as("lsrc")),
            Seq("src"))
          .join(labels.select(col("node").as("dst"), col("label").as("ldst")),
            Seq("dst"))
          .select(col("lsrc").as("src"), col("ldst").as("dst"))
          .filter(col("src") =!= col("dst"))
          .distinct()
        val (star, rounds) = starContract(contracted, maxIter)
        starRounds = rounds
        labels
          .join(star.select(col("node").as("label"), col("cluster")),
            Seq("label"), "left")
          .select(col("node"),
            coalesce(col("cluster"), col("label")).as("label"))
      }
    // `out` flows only through checkpointed frames (labels, and the
    // star loop's materialized adjacency) — no lineage to `edges`
    edges.unpersist()
    (out.select(col("node"), col("label").as("cluster")), i, starRounds)
  }
}

/** SimHash near-duplicate pairing via Hamming-distance LSH: split the
  * 64-bit fingerprint into `chunks` equal chunks; by pigeonhole, any
  * pair within Hamming distance < chunks shares at least one exact
  * chunk, so bucketing on (chunk_idx, chunk_value) finds all such pairs
  * with one shuffle — no O(n²) comparison.
  */
object SimhashPairs {

  def pairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, chunks: Int = 4): DataFrame = {
    require(64 % chunks == 0, "chunks must divide 64")
    val sh = Dedup.spread(docs.select(col(idCol), col(textCol)))
      .select(col(idCol).as("doc"),
        Dedup.simhash(col(textCol)).as("simhash"))
    // hamming is cheap per-row bit math — cut BEFORE the distinct so
    // the dedup shuffle only carries surviving pairs
    Dedup.bucketSelfJoinPairs(Dedup.explodedChunks(sh, chunks))
      .withColumn("hamming", Dedup.hamming(col("sim_a"), col("sim_b")))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming").distinct()
  }

  /** SimHash-candidates → exact-Jaccard verification: near-dup pairs
    * whose candidates came from simhash chunk buckets and whose
    * DECISION (jaccard >= threshold) is exact and engine-agnostic —
    * the oracle-checkable form of the simhash family. `chunks = 8`
    * with the Hamming <= chunks-1 cut keeps exactly the
    * pigeonhole-complete candidate region (any pair within Hamming 7
    * shares an untouched chunk), a wide margin over the distance
    * near-identical documents actually reach — and the cheap
    * xor-popcount cut keeps the expensive shingle-array verification
    * off the ~n·(n/2^bits) random chunk collisions. */
  def verifiedPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, chunks: Int = 8): DataFrame = {
    val sh = graft.engine.CacheRegistry.retain(
      Dedup.spread(docs.select(col(idCol), col(textCol)))
        .select(col(idCol).as("doc"),
          Dedup.shingles(col(textCol)).as("sh")))
    val cands = pairs(docs, idCol, textCol, maxHamming = chunks - 1, chunks = chunks)
      .select(col("doc_a"), col("doc_b"))
    Dedup.verifiedByJaccard(Dedup.spreadForVerify(cands, "doc_a"),
      "doc_a", "doc_b", sh, sh, threshold)
  }
}
