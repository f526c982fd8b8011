package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.operators.SpanDedup

/** Round-8 corpus-construction operators: epoch-aware mixture
  * upsampling, cross-source n-gram contamination audit, and exact
  * duplicate-span detection — the three ops a training-data pipeline
  * runs between "corpus curated" (q67/q80) and "shards written" (q88).
  * All oracle-checkable: membership and window positions are pure
  * functions of the data (md5 buckets / token positions), no
  * engine-specific state.
  */
object CorpusOps {

  type Q = (SparkSession, String) => DataFrame

  /** Epoch-aware mixture UPsampling — the other half of q87's
    * downsampling: a mixture spec quotes epochs per source (e.g.
    * "books ×3.0, web ×2.5, cc ×1.0, ref ×0.4") and each document is
    * emitted floor(w) times plus one more iff its md5 bucket falls
    * under the fractional threshold — deterministic, reproducible
    * across engines, stable under corpus growth (same properties as
    * q69/q87 membership). The weights live in a broadcast TABLE
    * (n_full copies + a 256-bucket hex threshold for the fraction);
    * re-weighting is a config change.
    *
    * Scale: broadcast join + per-row explode (narrow — fan-out ≤
    * ceil(w), no shuffle) + one grouped agg. The epoch column is what
    * a trainer keys curriculum decisions on. */
  private val q93UpsampleEpochs: Q = (s, d) => {
    import s.implicits._
    // (source, full copies, fractional-epoch threshold): src1 ×2.5,
    // src2 ×0.4, src3 ×3.0, src4 ×1.25; everything else ×1.0
    val weights = Seq(
      ("src1", 2, "80"), ("src2", 0, "66"), ("src3", 3, "00"),
      ("src4", 1, "40"))
      .toDF("source", "n_full", "thr")
    val bucket = substring(md5(concat(lit("ep"), $"doc_id".cast("string"))), 1, 2)
    t(s, d, "documents")
      .join(broadcast(weights), Seq("source"), "left")
      .withColumn("copies",
        coalesce($"n_full", lit(1)) +
          when(bucket < coalesce($"thr", lit("00")), 1).otherwise(0))
      .filter($"copies" >= 1) // ×0.4 rows above threshold drop out
      .withColumn("epoch", explode(sequence(lit(1L), $"copies".cast("long"))))
      .groupBy($"source", $"epoch")
      .agg(count(lit(1)).as("n"),
        sum($"doc_id").as("id_sum"),
        min($"doc_id").as("id_min"),
        max($"doc_id").as("id_max"))
  }

  /** Cross-source 8-gram contamination audit
    * ([[SpanDedup.overlapMatrix]]): which dataset pairs share verbatim
    * 8-word windows, with Jaccard and containment over each pair's
    * distinct-window sets. Run before mixing sources (and before
    * trusting a held-out split drawn from a "different" source). */
  private val q94SourceOverlap: Q = (s, d) =>
    SpanDedup.overlapMatrix(t(s, d, "documents"), "doc_id", "text",
      "source", k = 8)

  /** Exact duplicate-span detection ([[SpanDedup.duplicateSpans]]):
    * maximal runs of ≥ 8 tokens appearing verbatim in ≥ 2 documents —
    * per-document 1-based [span_start, span_end] token bounds plus the
    * number of duplicated windows merged into the span. */
  private val q95DupSpans: Q = (s, d) =>
    SpanDedup.duplicateSpans(t(s, d, "documents"), "doc_id", "text", k = 8)

  /** Deterministic training-order shuffle: every document gets a
    * contiguous 1-based global position in md5-pseudo-random order and
    * a 64-doc shard — the "shuffle the corpus once, stream shards in
    * order" layout SGD training consumes. The global row_number is
    * computed WITHOUT a global sort: the md5 key's hex prefix is its
    * range bucket (a hex-prefix bucket IS a range of the full key
    * order), so a per-bucket row_number plus a broadcast per-bucket
    * offset table reproduces the global ordering exactly — the only
    * single-partition window runs over the bucket-count frame
    * (the q88 two-phase prefix-sum pattern applied to ordering).
    * `prefixLen` is the scale knob: bucket count = 16^p, and each
    * bucket's rows sort inside ONE window task, so pick p with
    * n/16^p ≈ a task-sized sort (p=4 → 65 536 buckets ≈ 1.5M
    * rows/bucket at 100 G docs; the offset frame stays ≤ 16^p rows,
    * still broadcast-sized). md5 is uniform, so buckets are balanced
    * by construction — no skew handling needed. Oracle = the naive
    * global ORDER BY row_number, so the hash match proves the
    * decomposition. */
  private val q96TrainingOrder: Q = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val docsPerShard = 64L
    val prefixLen = 4
    val keyed = t(s, d, "documents")
      .select($"doc_id",
        md5(concat(lit("shuf"), $"doc_id".cast("string"))).as("k"))
      .withColumn("bkt", substring($"k", 1, prefixLen))
    val wIn = Window.partitionBy($"bkt").orderBy($"k")
    val wOff = Window.orderBy($"bkt").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = keyed.groupBy($"bkt").agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum($"cnt").over(wOff), lit(0L)))
      .select($"bkt", $"off")
    keyed
      .withColumn("rn", row_number().over(wIn))
      .join(broadcast(offsets), Seq("bkt"))
      .withColumn("global_pos", $"off" + $"rn")
      .select($"doc_id", $"global_pos",
        floor(($"global_pos" - 1) / docsPerShard).cast("long").as("shard"))
  }

  /** Duplicate-span removal round-trip
    * ([[SpanDedup.removeDuplicateSpans]]): later occurrences of any
    * shared ≥ 8-token run are cut, first occurrences survive, empty
    * leftovers drop. The oracle rebuilds every document's kept text
    * independently, so the md5 match checks the reconstruction
    * byte-for-byte. */
  private val q97RemoveDupSpans: Q = (s, d) =>
    SpanDedup.removeDuplicateSpans(t(s, d, "documents"), "doc_id", "text",
      k = 8)
      .select(col("doc_id"), md5(col("kept")).as("kept_md5"),
        col("n_kept"), col("n_removed"))

  /** Concat-and-chunk sequence packing — the GPT-style layout: all
    * documents are conceptually concatenated in doc_id order and cut
    * into fixed `seqLen`-token training sequences; a document may span
    * a boundary. Emits, per document, the sequence its first token
    * lands in, the offset inside that sequence, and the sequence its
    * last token lands in — exactly what a loader needs to place
    * attention-mask boundaries. Differs from q88 (whole-doc shard
    * assignment): here the TOKEN stream is chunked, not the doc list.
    * The global token prefix sum is the same two-phase decomposition
    * as q88 — per-range-bucket window + broadcast per-bucket offsets;
    * nothing document-sized crosses a single partition. Oracle = the
    * naive global running sum. */
  private val q98SequencePack: Q = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val seqLen = 2048L
    val bucketWidth = 500L
    val base = t(s, d, "documents")
      .select($"doc_id",
        size(graft.operators.Dedup.tokens($"text")).cast("long").as("n_tokens"))
      .withColumn("bkt", floor($"doc_id" / bucketWidth).cast("long"))
    val wIn = Window.partitionBy($"bkt").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wOff = Window.orderBy($"bkt").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy($"bkt").agg(sum($"n_tokens").as("tot"))
      .withColumn("off", coalesce(sum($"tot").over(wOff), lit(0L)))
      .select($"bkt", $"off")
    base.withColumn("cum_in", sum($"n_tokens").over(wIn))
      .join(broadcast(offsets), Seq("bkt"))
      .withColumn("start_tok", $"off" + $"cum_in" - $"n_tokens") // 0-based
      .select($"doc_id", $"n_tokens",
        floor($"start_tok" / seqLen).cast("long").as("seq_first"),
        ($"start_tok" % seqLen).cast("long").as("seq_offset"),
        floor(($"start_tok" + $"n_tokens" - 1) / seqLen).cast("long").as("seq_last"))
  }

  /** Temperature-sampled mixture weights — the operator that PRODUCES
    * the weights tables q87/q93 consume: per-source natural token
    * share p_i and the temperature-flattened share
    * sqrt(n_i)/Σ sqrt(n_j) (T = 2, i.e. w ∝ p^(1/T) — the standard
    * multilingual/multi-source rebalancing), plus the implied
    * upsample factor temp_share/nat_share. sqrt, not pow(x, 0.5):
    * both engines correctly round IEEE sqrt, while pow's last ulp is
    * libm-dependent. One grouped agg over the corpus + a single-row
    * broadcast of the totals; shares rounded to 6 dp for
    * engine-portable hashing. */
  private val q99TemperatureWeights: Q = (s, d) => {
    import s.implicits._
    val perSource = t(s, d, "documents")
      .select($"source",
        size(graft.operators.Dedup.tokens($"text")).cast("long").as("nt"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"nt").as("n_tokens"))
    val tot = perSource.agg(sum($"n_tokens").as("tot"),
      sum(sqrt($"n_tokens")).as("ws"))
    perSource.crossJoin(broadcast(tot))
      .select($"source", $"n_docs", $"n_tokens",
        round($"n_tokens" / $"tot", 6).as("nat_share"),
        round(sqrt($"n_tokens") / $"ws", 6).as("temp_share"),
        round((sqrt($"n_tokens") / $"ws") / ($"n_tokens" / $"tot"), 6)
          .as("upsample"))
  }

  /** Bloom-prefiltered decontamination
    * ([[graft.operators.Decontaminate.flagOverlap]]): q77's semantics
    * (same contamination injection, same output) through the
    * bloom-prune + exact-confirm path that survives eval sets too
    * large to broadcast. The oracle is the plain exact join — the
    * hash match proves the bloom sandwich changes nothing but the
    * shuffle volume. */
  private val q100BloomDecontaminate: Q = (s, d) => {
    import s.implicits._
    val docs = t(s, d, "documents").select($"doc_id", $"text")
    val contaminated = docs.filter($"doc_id" % 100 === 0)
      .select(($"doc_id" + 200001).as("doc_id"),
        concat($"text", lit(" with extra trailing commentary appended"))
          .as("text"))
    val corpus = docs.unionByName(contaminated).filter($"doc_id" % 100 =!= 0)
    val evalDocs = docs.filter($"doc_id" % 100 === 0)
    graft.operators.Decontaminate.flagOverlap(corpus, evalDocs, k = 8)
  }

  /** Vocabulary build + coverage curve ([[graft.operators.Vocab
    * .coverage]]): top-1000 tokens by corpus frequency with rank and
    * cumulative occurrence share — the artifact that becomes the
    * broadcast vocab table the scoring operators (q75 unigram LM)
    * consume, and the curve a tokenizer team reads to pick a vocab
    * size. Deterministic: (count desc, token asc) is a total order. */
  private val q103VocabCoverage: Q = (s, d) =>
    graft.operators.Vocab.coverage(t(s, d, "documents"), "text",
      vocabSize = 1000)

  /** Page-boundary healing ([[graft.operators.PageStitch
    * .stitchPairs]]): documents are split into two overlapping
    * "pages" (a scrape's pagination shape — page A carries the first
    * half plus an 8-token carry-over, page B the second half), then
    * the operator re-discovers every stitchable pair from the k-gram
    * tail/head keys alone and EXTENDS each match to its maximal
    * verbatim overlap. The oracle replays split, candidate join, and
    * per-pair overlap maximization with list slices, so the stitch
    * decisions (who joins whom, exact overlap, merged length) are
    * hash-checked. Cross-document coincidental k-token overlaps are
    * legitimate output and are verified identically by both engines. */
  private val q104PageStitch: Q = (s, d) => {
    import s.implicits._
    val k = 8
    // spread BEFORE tokenization: everything downstream (the page
    // slices, the head side's ~57 positioned k-gram hashes per page,
    // the overlap verification) is per-row CPU work that otherwise
    // runs on the scan's 1–2 parquet splits at gate scale (two 2-task
    // stages carried ~85% of q104's task time; Bench's `query_metrics`). No-op at
    // real scale (Tables.spread only widens under-partitioned scans).
    val tok = graft.Tables.spread(t(s, d, "documents"))
      .select($"doc_id", graft.operators.Dedup.tokens($"text").as("w"))
      .withColumn("n", size($"w")).filter($"n" >= 16)
    val h = floor($"n" / 2).cast("int")
    val pages = tok
      .select(($"doc_id" * 2).as("page_id"),
        slice($"w", lit(1), h + lit(k)).as("t"))
      .unionByName(tok.select(($"doc_id" * 2 + 1).as("page_id"),
        slice($"w", h + lit(1), $"n" - h).as("t")))
    graft.operators.PageStitch.stitchPairs(pages, "page_id", "t", k = k)
  }

  /** Distributed BPE merge learning ([[graft.operators.BpeTrain
    * .learnMerges]]): the first 5 merge rules learned from corpus
    * word counts, plus the Σ freq·|symbols| checksum row that pins
    * every word's post-merge segmentation. The oracle replays all 5
    * iterations — pair counting, argmax with the (count, left, right)
    * tie-break, and the greedy left-to-right merge fold (DuckDB
    * `list_reduce` with the same string accumulator) — so the learned
    * rule SEQUENCE is hash-checked, not just the final counts. */
  private val q105BpeMerges: Q = (s, d) =>
    graft.operators.BpeTrain.learnMerges(t(s, d, "documents"), "text",
      numMerges = 5)

  /** The learned BPE tokenizer APPLIED ([[graft.operators.BpeTrain
    * .segmentations]]): per-document word and BPE-token counts under
    * the 5 rules q105 learns. The segmentation dictionary is
    * vocab-sized and BROADCAST into the per-doc join — exactly how a
    * production tokenization pass runs at corpus scale (one narrow
    * scan + broadcast lookup, no corpus-keyed shuffle beyond the
    * per-doc agg). The oracle replays training AND application, so a
    * single mis-segmented word anywhere in the corpus hash-fails. */
  private val q106BpeTokenize: Q = (s, d) => {
    import s.implicits._
    val docs = t(s, d, "documents")
    val seg = graft.operators.BpeTrain.segmentations(docs, "text",
      numMerges = 5)
    docs
      .select($"doc_id",
        explode(graft.operators.Dedup.tokens($"text")).as("word"))
      .join(broadcast(seg.select($"word", $"n_syms")), Seq("word"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_words"), sum($"n_syms").as("n_bpe_tokens"))
  }

  /** Page healing round trip ([[graft.operators.PageStitch
    * .healedDocs]]): q104's stitch decisions carried through to the
    * reconstructed documents, md5 over the merged token stream — the
    * oracle rebuilds every merged text independently with list
    * slices, so the heal is checked byte for byte (for the planted
    * split pairs the merged text equals the original document). */
  private val q107PageHeal: Q = (s, d) => {
    import s.implicits._
    val k = 8
    // same under-partitioned-scan spread as q104 (the heal adds two
    // pair-scale joins on top of the same stitch pipeline)
    val tok = graft.Tables.spread(t(s, d, "documents"))
      .select($"doc_id", graft.operators.Dedup.tokens($"text").as("w"))
      .withColumn("n", size($"w")).filter($"n" >= 16)
    val h = floor($"n" / 2).cast("int")
    val pages = tok
      .select(($"doc_id" * 2).as("page_id"),
        slice($"w", lit(1), h + lit(k)).as("t"))
      .unionByName(tok.select(($"doc_id" * 2 + 1).as("page_id"),
        slice($"w", h + lit(1), $"n" - h).as("t")))
    graft.operators.PageStitch.healedDocs(pages, "page_id", "t", k = k)
  }

  /** Sliding-window chunking ([[graft.operators.Chunker]]): 64-token
    * windows, stride 48 (16-token overlap), one row per chunk with
    * its md5 dedup key — the long-document pretreatment upstream of
    * q98's sequence packing. Narrow per-row explode, no shuffle. */
  private val q108DocChunks: Q = (s, d) =>
    graft.operators.Chunker.chunk(t(s, d, "documents"), "doc_id", "text",
      window = 64, stride = 48)

  /** Prototypicality pruning ([[graft.operators.Coreset
    * .prototypePrune]]): q63's cell assignment carried through to the
    * TRUE per-cell centroid, every member scored by cosine to it, the
    * top 25% most-prototypical members of each cell marked for
    * pruning. The oracle replays assignment, centroid mean (rounded
    * before any comparison), scoring, and the ranked decision. */
  private val q109PrototypePrune: Q = (s, d) => {
    import s.implicits._
    val emb = t(s, d, "embeddings")
    graft.operators.Coreset.prototypePrune(emb, "vec_id", "embedding",
      emb.filter($"vec_id" < 16), "vec_id", "embedding", pruneFrac = 0.25)
  }

  /** Greedy k-center landmark selection + assignment
    * ([[graft.operators.Coreset.kCenterAssign]], k=16): the oracle
    * replays the full farthest-point traversal as a recursive CTE —
    * seed, all 15 selection rounds with their (min-dist desc, id asc)
    * argmax, and the final nearest-landmark assignment — so WHICH
    * landmarks get picked and WHERE every vector lands are both
    * gated. */
  private val q110KcenterLandmarks: Q = (s, d) =>
    graft.operators.Coreset.kCenterAssign(t(s, d, "embeddings"),
      "vec_id", "embedding", k = 16)

  /** Cross-document n-gram novelty: the fraction of a document's
    * distinct 8-grams that occur in NO other document — the
    * uniqueness complement of q76's intra-doc repetition and q94's
    * pairwise source overlap. One shuffle keyed on the md5 of the
    * gram (fixed-width, engine-portable; production would key on
    * xxhash64) plus one per-doc re-aggregation. */
  private val q111GramNovelty: Q = (s, d) => {
    import s.implicits._
    // spread before the shingle explode + per-gram md5: the gram
    // pipeline feeds BOTH the df aggregation and the join side, and a
    // single-split scan ran each as a ~0.5 s single task (Bench's
    // `query_metrics`: `max_task_sec`);
    // no-op at real scale
    val g = graft.Tables.spread(t(s, d, "documents"))
      .select($"doc_id",
        explode(graft.operators.Dedup.shingles($"text", 8)).as("g"))
      .select($"doc_id", md5($"g").as("gk"))
    val dfreq = g.groupBy($"gk").agg(count(lit(1)).as("df"))
    g.join(dfreq, Seq("gk"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when($"df" === 1, 1L).otherwise(0L)).as("n_unique"))
      .withColumn("novelty",
        round($"n_unique".cast("double") / $"n_grams", 6))
  }

  /** q112's backing store: the corpus k-center landmark index at
    * rest — k rows (lm_id, lm_rank, lv, radius), built ONCE per
    * corpus split (vec_id % 10 ≠ 0) and persisted; later ingest
    * batches probe the tiny table, never the corpus. Same
    * write-once/probe-forever contract as the sketch store (q91) and
    * cosine index (q92); durable across sessions
    * ([[graft.storage.DurableStores]]). */
  private[graft] def landmarkStore(s: SparkSession, d: String): DataFrame = {
    import graft.storage.{DurableStores, Storage}
    val lmT = Storage.tableNameFor("graft_kcenter_landmarks", d)
    DurableStores.openOrBuild(s, d, "kcenter_landmarks", Seq(lmT),
        params = "k=16",
        // non-fold family, but the same in-place upgrade template (r17
        // verdict item 2): a non-layout params bump re-stamps instead
        // of rebuilding a corpus-sized landmark sweep
        migrate = DurableStores.reStampMigration("k=16", Set("k"))) { st =>
      graft.engine.CacheRegistry.withRetained {
        st.appendTable(lmT, graft.operators.Coreset.landmarksWithRadius(
          t(s, d, "embeddings").filter(col("vec_id") % 10 =!= 0),
          "vec_id", "embedding", k = 16))
      }
      Seq(DurableStores.TableMeta.plain(s, lmT))
    }
    s.table(lmT)
  }

  /** Embedding drift detection against the STORED landmark index
    * ([[graft.operators.Coreset.assignBatchToStored]]): the ingest
    * batch (vec_id % 10 = 0) probes q112's persisted k-center
    * landmarks+radii; a batch vector landing outside its landmark's
    * corpus coverage radius flags novel — the per-batch novel
    * fraction is the distribution-shift monitor. The oracle replays
    * the ENTIRE chain from scratch: corpus k-center traversal,
    * corpus radii, batch assignment, flags. */
  private val q112BatchDrift: Q = (s, d) => {
    import s.implicits._
    graft.operators.Coreset.assignBatchToStored(
      t(s, d, "embeddings").filter($"vec_id" % 10 === 0),
      "vec_id", "embedding", landmarkStore(s, d))
  }

  /** Drift detection against REFRESHED radii ([[graft.operators
    * .Coreset.refreshRadii]] under the hard gate): the first half of
    * the ingest split (vec_id % 20 = 0) is ACCEPTED into the corpus,
    * so landmark coverage radii grow to absorb it — landmarks
    * themselves stay immutable — and the second half (vec_id % 20 =
    * 10) then probes the refreshed index. The oracle replays the
    * entire chain from scratch: corpus k-center traversal, corpus
    * radii, the accepted batch's per-landmark max distances, the
    * greatest/coalesce refresh, and the final probe with novelty
    * flags. */
  private val q116DriftRefreshed: Q = (s, d) => {
    import s.implicits._
    val refreshed = graft.operators.Coreset.refreshRadii(
      landmarkStore(s, d),
      t(s, d, "embeddings").filter($"vec_id" % 20 === 0),
      "vec_id", "embedding")
    graft.operators.Coreset.assignBatchToStored(
      t(s, d, "embeddings").filter($"vec_id" % 20 === 10),
      "vec_id", "embedding", refreshed)
  }

  /** Drift detection after landmark RE-SELECTION ([[graft.operators
    * .Coreset.reselectLandmarks]] under the hard gate): the accepted
    * half of the ingest split joins the corpus and the k-center
    * traversal RE-RUNS over the union — new landmark identities, new
    * ranks, cluster-scale radii — and the held-out half probes the
    * re-selected index. This is the escalation beyond q116's
    * radius-stretch refresh (same split pair, so the two gates
    * bracket the lifecycle: stretch vs re-select). The oracle replays
    * the entire chain from scratch over the union corpus: traversal,
    * radii, probe, novelty flags. */
  private val q118DriftReselected: Q = (s, d) => {
    import s.implicits._
    val emb = t(s, d, "embeddings")
    val reselected = graft.operators.Coreset.reselectLandmarks(
      emb.filter($"vec_id" % 10 =!= 0),
      emb.filter($"vec_id" % 20 === 0),
      "vec_id", "embedding", k = 16)
    graft.operators.Coreset.assignBatchToStored(
      emb.filter($"vec_id" % 20 === 10), "vec_id", "embedding", reselected)
  }

  /** Per-bucket occupancy cap shared by the q114/q115 Spark calls and
    * their oracle CTEs — ONE constant so the gate always replays the
    * exact cut the operator applies. */
  private val sparseBucketCap = 64

  /** Hashed TF-IDF sparse vectors ([[graft.operators.SparseVectors
    * .hashedTfidf]]): every document's top-16 signed md5-bucket
    * components, L2-normalized — the text→vector bridge when no
    * embedding column exists. */
  private val q113HashedTfidf: Q = (s, d) =>
    graft.operators.SparseVectors.hashedTfidf(
      t(s, d, "documents"), "doc_id", "text", topM = 16)

  /** Sparse similarity top-k over q113's vectors ([[graft.operators
    * .SparseVectors.sparseTopK]]): shared-bucket candidate join over
    * occupancy-capped (top-64-per-bucket) posting lists, exact dot
    * over surviving shared buckets, (cos desc, id asc) ranking —
    * candidate volume linear in corpus size by construction. */
  private val q114SparseTopk: Q = (s, d) =>
    graft.operators.SparseVectors.sparseTopK(
      graft.operators.SparseVectors.hashedTfidf(
        t(s, d, "documents"), "doc_id", "text", topM = 16),
      k = 3, bucketCap = sparseBucketCap)

  /** q115's backing store: the sparse-vector corpus layout at rest —
    * [[graft.operators.SparseVectors.corpusStats]] (term, df, n_docs;
    * vocab-sized, the write-once vocabulary table) as a plain catalog
    * table, plus the corpus components bucketed by `bucket` so the
    * probe side's cappedPostings window reads bucket-local data. The
    * write-once/probe-forever pattern is the fourth index family
    * alongside the sketch (q91), cosine (q92), and landmark (q112)
    * stores. Reference analog: the covering hash-search layout
    * (faexport_db/schema/indexes.sql:6–24 → submission.py:400–412). */
  private[graft] def sparseStatsStore(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    import graft.storage.{DurableStores, Storage}
    val statsT = Storage.tableNameFor("graft_sparse_stats", d)
    val compT = Storage.tableNameFor("graft_sparse_components", d)
    DurableStores.openOrBuild(s, d, "sparse", Seq(statsT, compT),
        params = "topM=16,buckets=16",
        migrate = DurableStores.reStampMigration("topM=16,buckets=16",
          Set("topM", "buckets"))) { st =>
      graft.engine.CacheRegistry.withRetained {
        val corpus = t(s, d, "documents").filter(col("doc_id") % 10 =!= 0)
        val stats = graft.engine.CacheRegistry.retain(
          graft.operators.SparseVectors.corpusStats(corpus, "doc_id", "text"))
        st.appendTable(statsT, stats)
        st.appendBucketed(compT,
          graft.operators.SparseVectors.hashedTfidfWithStats(
            corpus, "doc_id", "text", stats, topM = 16),
          Seq("bucket"), numBuckets = 16)
      }
      Seq(DurableStores.TableMeta.plain(s, statsT),
        DurableStores.TableMeta.bucketed(s, compT, Seq("bucket"), 16))
    }
    (s.table(statsT), s.table(compT))
  }

  /** Sparse top-k of a NEW ingest batch against the STORED corpus
    * ([[sparseStatsStore]]): the batch (doc_id % 10 = 0) is vectorized
    * by [[graft.operators.SparseVectors.hashedTfidfWithStats]] under
    * the persisted vocabulary — terms the corpus never saw score df=0
    * (IDF ln(N+1), the maximally-informative unseen-term convention) —
    * and probes the persisted corpus components through the same
    * occupancy-capped postings cut as q114. Neither the corpus text
    * nor its term stream is re-read once the store exists (plan-pinned
    * in StoreSpec); the oracle replays the entire chain from scratch,
    * df-fallback included. */
  private val q115SparseTopkStored: Q = (s, d) => {
    val (stats, comp) = sparseStatsStore(s, d)
    graft.operators.SparseVectors.sparseTopKAgainst(
      graft.operators.SparseVectors.hashedTfidfWithStats(
        t(s, d, "documents").filter(col("doc_id") % 10 === 0),
        "doc_id", "text", stats, topM = 16),
      comp, k = 3, bucketCap = sparseBucketCap)
  }

  val queries: Map[String, Q] = Map(
    "q93_upsample_epochs" -> q93UpsampleEpochs,
    "q94_source_overlap" -> q94SourceOverlap,
    "q95_dup_spans" -> q95DupSpans,
    "q96_training_order" -> q96TrainingOrder,
    "q97_remove_dup_spans" -> q97RemoveDupSpans,
    "q98_sequence_pack" -> q98SequencePack,
    "q99_temperature_weights" -> q99TemperatureWeights,
    "q100_bloom_decontaminate" -> q100BloomDecontaminate,
    "q103_vocab_coverage" -> q103VocabCoverage,
    "q104_page_stitch" -> q104PageStitch,
    "q105_bpe_merges" -> q105BpeMerges,
    "q106_bpe_tokenize" -> q106BpeTokenize,
    "q107_page_heal" -> q107PageHeal,
    "q108_doc_chunks" -> q108DocChunks,
    "q109_prototype_prune" -> q109PrototypePrune,
    "q110_kcenter_landmarks" -> q110KcenterLandmarks,
    "q111_gram_novelty" -> q111GramNovelty,
    "q112_batch_drift" -> q112BatchDrift,
    "q113_hashed_tfidf" -> q113HashedTfidf,
    "q114_sparse_topk" -> q114SparseTopk,
    "q115_sparse_topk_stored" -> q115SparseTopkStored,
    "q116_drift_refreshed" -> q116DriftRefreshed,
    "q118_drift_reselected" -> q118DriftReselected)

  /** One unrolled BPE iteration: pair counts over the current
    * segmentation, argmax with the (count desc, left, right)
    * tie-break, and the greedy left-to-right merge application as a
    * `list_reduce` fold over a '|'-joined string accumulator —
    * exactly [[graft.operators.BpeTrain]]'s fold. */
  private def bpeIterCte(i: Int): String =
    s"""p$i AS (
       |  SELECT s[j] AS l, s[j+1] AS r, CAST(sum(freq) AS BIGINT) AS cnt
       |  FROM w${i - 1}, LATERAL (SELECT unnest(generate_series(1, len(s) - 1)) AS j) g
       |  GROUP BY 1, 2),
       |b$i AS (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1),
       |w$i AS (
       |  SELECT word, freq,
       |    string_split(list_reduce(list_prepend('', s), (acc, x) ->
       |      CASE WHEN acc = '' THEN x
       |           WHEN (acc = b.l OR ends_with(acc, '|' || b.l)) AND x = b.r
       |             THEN CASE WHEN acc = b.l THEN b.l || b.r
       |                  ELSE substring(acc, 1, length(acc) - length(b.l) - 1) || '|' || b.l || b.r END
       |           ELSE acc || '|' || x END), '|') AS s
       |  FROM w${i - 1}, b$i b)""".stripMargin

  private val bpeMergesSql: String =
    s"""WITH tk AS (
       |  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
       |  FROM documents),
       |w0 AS (
       |  SELECT word, count(*) AS freq,
       |    list_transform(range(1, length(word) + 1), i -> substring(word, i, 1)) AS s
       |  FROM tk GROUP BY word),
       |${(1 to 5).map(bpeIterCte).mkString(",\n")}
       |SELECT CAST(step AS BIGINT) AS step, merge_left, merge_right, pair_count FROM (
       |  SELECT 1 AS step, l AS merge_left, r AS merge_right, cnt AS pair_count FROM b1
       |  UNION ALL SELECT 2, l, r, cnt FROM b2
       |  UNION ALL SELECT 3, l, r, cnt FROM b3
       |  UNION ALL SELECT 4, l, r, cnt FROM b4
       |  UNION ALL SELECT 5, l, r, cnt FROM b5
       |  UNION ALL SELECT 6, '<eos>', '<eos>',
       |    (SELECT CAST(sum(freq * len(s)) AS BIGINT) FROM w5))""".stripMargin

  /** Training AND application replayed: the same 5 unrolled
    * iterations, then every word's final segmentation length joined
    * back onto the per-document token stream. */
  private val bpeTokenizeSql: String =
    s"""WITH tk AS (
       |  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
       |  FROM documents),
       |w0 AS (
       |  SELECT word, count(*) AS freq,
       |    list_transform(range(1, length(word) + 1), i -> substring(word, i, 1)) AS s
       |  FROM tk GROUP BY word),
       |${(1 to 5).map(bpeIterCte).mkString(",\n")},
       |seg AS (SELECT word, len(s) AS n_syms FROM w5),
       |dtk AS (
       |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
       |  FROM documents)
       |SELECT doc_id, count(*) AS n_words,
       |  CAST(sum(n_syms) AS BIGINT) AS n_bpe_tokens
       |FROM dtk JOIN seg USING (word)
       |GROUP BY doc_id""".stripMargin

  /** The hashed-TF-IDF vector build shared by q113/q114's oracles:
    * md5-bucket (first three hex chars, 4096 buckets), sign from the
    * fourth hex digit's parity, q68's ln((N+1)/(df+1)) IDF, L2 normalization
    * over the full vector, rounded weights, top-16 cut ranked on the
    * ROUNDED |weight| with bucket tie-break. */
  private val hashedTfidfCte: String =
    """terms AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
      |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |w0 AS (
      |  SELECT t.doc_id, substring(md5(t.term), 1, 3) AS bucket,
      |    sum((CASE WHEN (strpos('0123456789abcdef',
      |            substring(md5(t.term), 4, 1)) - 1) % 2 = 0
      |          THEN 1.0 ELSE -1.0 END)
      |      * t.tf * ln(CAST(n.n_docs + 1 AS DOUBLE) / (df.df + 1))) AS wraw
      |  FROM tf t JOIN df USING (term) CROSS JOIN n
      |  GROUP BY 1, 2),
      |nrm AS (SELECT doc_id, sqrt(sum(wraw * wraw)) AS nn FROM w0 GROUP BY doc_id),
      |wn AS (
      |  SELECT w0.doc_id, bucket, round(wraw / nn, 6) + 0.0 AS wgt,
      |    row_number() OVER (PARTITION BY w0.doc_id
      |      ORDER BY abs(round(wraw / nn, 6) + 0.0) DESC, bucket ASC) AS rk
      |  FROM w0 JOIN nrm USING (doc_id) WHERE nn > 0),
      |comp AS (SELECT doc_id, bucket, wgt, rk FROM wn WHERE rk <= 16)""".stripMargin

  /** One split's hashed-TF-IDF components under the CORPUS split's
    * stats — q115's oracle building block, replaying
    * [[graft.operators.SparseVectors.hashedTfidfWithStats]]: LEFT JOIN
    * + coalesce is the df=0 unseen-term fallback (a no-op for the
    * corpus split itself, every one of whose terms carries a df).
    * Emits CTEs prefixed `p`; expects `cdf` (term, df) and `cn`
    * (n_docs) in scope. */
  private def splitCompCte(p: String, src: String): String =
    s"""${p}terms AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
       |  FROM $src),
       |${p}tf AS (SELECT doc_id, term, count(*) AS tf FROM ${p}terms GROUP BY 1, 2),
       |${p}w0 AS (
       |  SELECT t.doc_id, substring(md5(t.term), 1, 3) AS bucket,
       |    sum((CASE WHEN (strpos('0123456789abcdef',
       |            substring(md5(t.term), 4, 1)) - 1) % 2 = 0
       |          THEN 1.0 ELSE -1.0 END)
       |      * t.tf * ln(CAST(cn.n_docs + 1 AS DOUBLE) / (coalesce(cdf.df, 0) + 1))) AS wraw
       |  FROM ${p}tf t LEFT JOIN cdf USING (term) CROSS JOIN cn
       |  GROUP BY 1, 2),
       |${p}nrm AS (SELECT doc_id, sqrt(sum(wraw * wraw)) AS nn FROM ${p}w0 GROUP BY doc_id),
       |${p}comp AS (
       |  SELECT doc_id, bucket, wgt FROM (
       |    SELECT w.doc_id, bucket, round(wraw / nn, 6) + 0.0 AS wgt,
       |      row_number() OVER (PARTITION BY w.doc_id
       |        ORDER BY abs(round(wraw / nn, 6) + 0.0) DESC, bucket ASC) AS rk
       |    FROM ${p}w0 w JOIN ${p}nrm USING (doc_id) WHERE nn > 0)
       |  WHERE rk <= 16)""".stripMargin

  /** The stored-landmark chain shared by q112/q116's oracles: corpus
    * split, full pairwise distances, the recursive k-center traversal
    * (seed = min id, 15 argmax rounds with (dist desc, id asc)
    * tie-break), landmark vectors, corpus assignment, and per-landmark
    * coverage radii — everything up to (and including) CTE `rad`;
    * callers append their own probe. */
  private def landmarkChainCte(
      embWhere: String = "vec_id % 10 <> 0"): String =
    s"""emb AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE $embWhere),
       |dmat AS (
       |  SELECT a.vec_id AS ida, b.vec_id AS idb,
       |    1.0 - ${cosSql("a.embedding", "b.embedding")} AS dist
       |  FROM emb a JOIN emb b ON a.vec_id < b.vec_id),
       |dsym AS (
       |  SELECT ida, idb, dist FROM dmat
       |  UNION ALL SELECT idb, ida, dist FROM dmat),
       |sel AS (
       |  WITH RECURSIVE r(k, ids) AS (
       |    SELECT 1, [(SELECT min(vec_id) FROM emb)]
       |    UNION ALL
       |    SELECT k + 1, list_append(ids, (
       |      SELECT idb FROM dsym
       |      WHERE list_contains(r.ids, ida) AND NOT list_contains(r.ids, idb)
       |      GROUP BY idb ORDER BY min(dist) DESC, idb ASC LIMIT 1))
       |    FROM r WHERE k < 16)
       |  SELECT ids FROM r ORDER BY k DESC LIMIT 1),
       |lmr AS (
       |  SELECT unnest(ids) AS lm_id,
       |    unnest(range(1, len(ids) + 1)) AS lm_rank FROM sel),
       |lmv AS (
       |  SELECT l.lm_id, l.lm_rank, e.embedding AS lv
       |  FROM lmr l JOIN emb e ON e.vec_id = l.lm_id),
       |ca AS (
       |  SELECT e.vec_id, l.lm_id,
       |    1.0 - ${cosSql("e.embedding", "l.lv")} AS d
       |  FROM emb e CROSS JOIN lmv l),
       |car AS (
       |  SELECT vec_id, lm_id, d FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY d ASC, lm_id ASC) AS rk FROM ca)
       |  WHERE rk = 1),
       |rad AS (SELECT lm_id, max(d) AS radius FROM car GROUP BY lm_id)""".stripMargin

  /** Promote-to-double, fold-in-index-order cosine — the exact
    * arithmetic functions.VectorOps performs (same helper as
    * LlmOps.cosSql; duplicated here to keep each module's oracle
    * block self-contained). */
  private def cosSql(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b),
       |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |     * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin

  val oracles: Map[String, String] = Map(
    "q105_bpe_merges" -> bpeMergesSql,
    "q106_bpe_tokenize" -> bpeTokenizeSql,
    // sliding-window chunking replayed with per-row generate_series +
    // list slices; chunk_md5 checks every chunk byte for byte
    "q108_doc_chunks" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, w, len(w) AS n,
        |    CASE WHEN len(w) <= 64 THEN 1
        |         ELSE CAST(ceil((len(w) - 64) / 48.0) AS INTEGER) + 1
        |    END AS nc
        |  FROM tok),
        |e AS (SELECT doc_id, w, n, unnest(range(0, nc)) AS i FROM base)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |  CAST(i * 48 AS BIGINT) AS start_tok,
        |  CAST(least(64, n - i * 48) AS BIGINT) AS n_tok,
        |  md5(array_to_string(
        |    w[CAST(i * 48 + 1 AS INTEGER) :
        |      CAST(i * 48 + least(64, n - i * 48) AS INTEGER)], ' '))
        |    AS chunk_md5
        |FROM e""".stripMargin,
    // q63's cell assignment -> true centroid mean (rounded to 6 BEFORE
    // any comparison, the one order-sensitive aggregate) -> cosine
    // prototypicality -> ranked prune decision
    "q109_prototype_prune" ->
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 16),
         |ec AS (
         |  SELECT e.vec_id, e.embedding, c.cid,
         |    ${cosSql("e.embedding", "c.cv")} AS cos_c
         |  FROM embeddings e CROSS JOIN c),
         |assign AS (
         |  SELECT vec_id, embedding, cid AS cell FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY cos_c DESC, cid ASC) AS rk FROM ec)
         |  WHERE rk = 1),
         |cm AS (
         |  SELECT cell, r.range AS pos,
         |    round(avg(CAST(embedding[r.range + 1] AS DOUBLE)), 6) AS comp
         |  FROM assign CROSS JOIN range(0, 64) r GROUP BY cell, pos),
         |cent AS (SELECT cell, array_agg(comp ORDER BY pos) AS cv2 FROM cm GROUP BY cell),
         |scored AS (
         |  SELECT a.vec_id, a.cell,
         |    round(list_sum(list_transform(list_zip(a.embedding, t.cv2),
         |        z -> CAST(z[1] AS DOUBLE) * z[2]))
         |      / (sqrt(list_sum(list_transform(a.embedding,
         |          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         |       * sqrt(list_sum(list_transform(t.cv2, x -> x * x)))), 6) AS proto
         |  FROM assign a JOIN cent t USING (cell))
         |SELECT vec_id, cell, proto,
         |  CAST(row_number() OVER (
         |    PARTITION BY cell ORDER BY proto DESC, vec_id ASC) AS BIGINT)
         |    AS proto_rank,
         |  CASE WHEN row_number() OVER (
         |         PARTITION BY cell ORDER BY proto DESC, vec_id ASC)
         |       <= ceil(0.25 * count(*) OVER (PARTITION BY cell))
         |       THEN 'prune' ELSE 'keep' END AS decision
         |FROM scored""".stripMargin,
    // the full greedy farthest-point traversal as a recursive CTE:
    // seed = min id, 15 selection rounds each picking the argmax of
    // min-distance-to-selected (ties: dist DESC, id ASC), then
    // nearest-landmark assignment (ties: dist ASC, landmark ASC)
    "q110_kcenter_landmarks" ->
      s"""WITH emb AS (SELECT vec_id, embedding FROM embeddings),
         |dmat AS (
         |  SELECT a.vec_id AS ida, b.vec_id AS idb,
         |    1.0 - ${cosSql("a.embedding", "b.embedding")} AS dist
         |  FROM emb a JOIN emb b ON a.vec_id < b.vec_id),
         |dsym AS (
         |  SELECT ida, idb, dist FROM dmat
         |  UNION ALL SELECT idb, ida, dist FROM dmat),
         |sel AS (
         |  WITH RECURSIVE r(k, ids) AS (
         |    SELECT 1, [(SELECT min(vec_id) FROM emb)]
         |    UNION ALL
         |    SELECT k + 1, list_append(ids, (
         |      SELECT idb FROM dsym
         |      WHERE list_contains(r.ids, ida) AND NOT list_contains(r.ids, idb)
         |      GROUP BY idb ORDER BY min(dist) DESC, idb ASC LIMIT 1))
         |    FROM r WHERE k < 16)
         |  SELECT ids FROM r ORDER BY k DESC LIMIT 1),
         |lmr AS (
         |  SELECT unnest(ids) AS lm_id,
         |    unnest(range(1, len(ids) + 1)) AS lm_rank FROM sel),
         |lmv AS (
         |  SELECT l.lm_id, l.lm_rank, e.embedding AS lv
         |  FROM lmr l JOIN emb e ON e.vec_id = l.lm_id),
         |ad AS (
         |  SELECT e.vec_id, l.lm_id, l.lm_rank,
         |    1.0 - ${cosSql("e.embedding", "l.lv")} AS d
         |  FROM emb e CROSS JOIN lmv l)
         |SELECT vec_id, lm_id, CAST(lm_rank AS BIGINT) AS lm_rank,
         |  round(d, 6) + 0.0 AS dist
         |FROM (SELECT *, row_number() OVER (
         |        PARTITION BY vec_id ORDER BY d ASC, lm_id ASC) AS rk
         |      FROM ad)
         |WHERE rk = 1""".stripMargin,
    // the whole stored-landmark drift chain from scratch: k-center
    // traversal over the corpus split, per-landmark coverage radius
    // (max member distance), then the batch probe with novelty flags
    "q112_batch_drift" ->
      s"""WITH ${landmarkChainCte()},
         |batch AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0),
         |ba AS (
         |  SELECT b.vec_id, l.lm_id, l.lm_rank,
         |    1.0 - ${cosSql("b.embedding", "l.lv")} AS d
         |  FROM batch b CROSS JOIN lmv l),
         |bar AS (
         |  SELECT vec_id, lm_id, lm_rank, d FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY d ASC, lm_id ASC) AS rk FROM ba)
         |  WHERE rk = 1)
         |SELECT b.vec_id, b.lm_id, CAST(b.lm_rank AS BIGINT) AS lm_rank,
         |  round(b.d, 6) + 0.0 AS dist, round(r.radius, 6) + 0.0 AS radius,
         |  CAST(CASE WHEN b.d > r.radius THEN 1 ELSE 0 END AS BIGINT) AS novel
         |FROM bar b JOIN rad r USING (lm_id)""".stripMargin,
    // q112's chain, then: the accepted half of the ingest split grows
    // each landmark's radius to max(corpus radius, accepted max) —
    // the greatest/coalesce refresh — and the held-out half probes
    // the refreshed index
    "q116_drift_refreshed" ->
      s"""WITH ${landmarkChainCte()},
         |b1 AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0),
         |b2 AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 = 10),
         |b1a AS (
         |  SELECT b.vec_id, l.lm_id,
         |    1.0 - ${cosSql("b.embedding", "l.lv")} AS d
         |  FROM b1 b CROSS JOIN lmv l),
         |b1r AS (
         |  SELECT vec_id, lm_id, d FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY d ASC, lm_id ASC) AS rk FROM b1a)
         |  WHERE rk = 1),
         |b1max AS (SELECT lm_id, max(d) AS brad FROM b1r GROUP BY lm_id),
         |rad2 AS (
         |  SELECT r.lm_id, greatest(r.radius, coalesce(m.brad, 0.0)) AS radius
         |  FROM rad r LEFT JOIN b1max m USING (lm_id)),
         |ba AS (
         |  SELECT b.vec_id, l.lm_id, l.lm_rank,
         |    1.0 - ${cosSql("b.embedding", "l.lv")} AS d
         |  FROM b2 b CROSS JOIN lmv l),
         |bar AS (
         |  SELECT vec_id, lm_id, lm_rank, d FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY d ASC, lm_id ASC) AS rk FROM ba)
         |  WHERE rk = 1)
         |SELECT b.vec_id, b.lm_id, CAST(b.lm_rank AS BIGINT) AS lm_rank,
         |  round(b.d, 6) + 0.0 AS dist, round(r.radius, 6) + 0.0 AS radius,
         |  CAST(CASE WHEN b.d > r.radius THEN 1 ELSE 0 END AS BIGINT) AS novel
         |FROM bar b JOIN rad2 r USING (lm_id)""".stripMargin,
    // the re-selection chain from scratch: k-center traversal over
    // corpus ∪ accepted (the union IS the new corpus), union-wide
    // coverage radii, then the held-out probe against the re-selected
    // index — q112's probe tail over q118's union-built chain
    "q118_drift_reselected" ->
      s"""WITH ${landmarkChainCte("vec_id % 10 <> 0 OR vec_id % 20 = 0")},
         |batch AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 = 10),
         |ba AS (
         |  SELECT b.vec_id, l.lm_id, l.lm_rank,
         |    1.0 - ${cosSql("b.embedding", "l.lv")} AS d
         |  FROM batch b CROSS JOIN lmv l),
         |bar AS (
         |  SELECT vec_id, lm_id, lm_rank, d FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY d ASC, lm_id ASC) AS rk FROM ba)
         |  WHERE rk = 1)
         |SELECT b.vec_id, b.lm_id, CAST(b.lm_rank AS BIGINT) AS lm_rank,
         |  round(b.d, 6) + 0.0 AS dist, round(r.radius, 6) + 0.0 AS radius,
         |  CAST(CASE WHEN b.d > r.radius THEN 1 ELSE 0 END AS BIGINT) AS novel
         |FROM bar b JOIN rad r USING (lm_id)""".stripMargin,
    // the full hashed-vector build, every component bit-checked
    "q113_hashed_tfidf" ->
      s"""WITH $hashedTfidfCte
         |SELECT doc_id, bucket, wgt, CAST(rk AS BIGINT) AS comp_rank
         |FROM comp""".stripMargin,
    // shared-bucket candidate join over the sparsified vectors with
    // the identical per-bucket occupancy cut (top-64 by |wgt|, doc_id
    // tie-break) the Spark operator applies, exact dot over surviving
    // shared buckets, (cos desc, id asc) top-3
    "q114_sparse_topk" ->
      s"""WITH $hashedTfidfCte,
         |gen AS (
         |  SELECT doc_id, bucket, wgt FROM (
         |    SELECT doc_id, bucket, wgt, row_number() OVER (
         |      PARTITION BY bucket ORDER BY abs(wgt) DESC, doc_id ASC) AS occ
         |    FROM comp)
         |  WHERE occ <= $sparseBucketCap),
         |p AS (
         |  SELECT a.doc_id AS qid, g.doc_id AS nid,
         |    round(sum(a.wgt * g.wgt), 6) AS cos
         |  FROM comp a JOIN gen g
         |    ON a.bucket = g.bucket AND a.doc_id <> g.doc_id
         |  GROUP BY 1, 2)
         |SELECT qid, CAST(rank AS BIGINT) AS rank, nid, cos FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
         |  FROM p WHERE cos > 0)
         |WHERE rank <= 3""".stripMargin,
    // the whole stored-stats chain from scratch: corpus-split df/N
    // stats, corpus components, the batch vectorized under the CORPUS
    // stats (LEFT JOIN + coalesce = the df=0 unseen-term fallback),
    // the identical occupancy cut on the corpus postings, top-3
    "q115_sparse_topk_stored" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
         |batchd AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
         |statsrc AS (
         |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
         |  FROM corpus),
         |cdf AS (SELECT term, count(DISTINCT doc_id) AS df FROM statsrc GROUP BY 1),
         |cn AS (SELECT count(*) AS n_docs FROM corpus),
         |${splitCompCte("c", "corpus")},
         |${splitCompCte("b", "batchd")},
         |gen AS (
         |  SELECT doc_id, bucket, wgt FROM (
         |    SELECT doc_id, bucket, wgt, row_number() OVER (
         |      PARTITION BY bucket ORDER BY abs(wgt) DESC, doc_id ASC) AS occ
         |    FROM ccomp)
         |  WHERE occ <= $sparseBucketCap),
         |p AS (
         |  SELECT b.doc_id AS qid, g.doc_id AS nid,
         |    round(sum(b.wgt * g.wgt), 6) AS cos
         |  FROM bcomp b JOIN gen g
         |    ON b.bucket = g.bucket AND b.doc_id <> g.doc_id
         |  GROUP BY 1, 2)
         |SELECT qid, CAST(rank AS BIGINT) AS rank, nid, cos FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
         |  FROM p WHERE cos > 0)
         |WHERE rank <= 3""".stripMargin,
    // distinct 8-grams per doc (short docs: one whole-text gram, the
    // shingles guard), md5 gram keys, document frequency, unique
    // fraction per doc
    "q111_gram_novelty" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) >= 8 THEN
        |      list_distinct(list_transform(range(0, len(t) - 7),
        |        i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' ||
        |             t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' ||
        |             t[i+7] || ' ' || t[i+8]))
        |    ELSE [array_to_string(t, ' ')] END AS s
        |  FROM tk),
        |g AS (SELECT doc_id, md5(unnest(s)) AS gk FROM sh),
        |dfreq AS (SELECT gk, count(*) AS df FROM g GROUP BY gk)
        |SELECT doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
        |  round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS novelty
        |FROM g JOIN dfreq USING (gk)
        |GROUP BY doc_id""".stripMargin,
    "q93_upsample_epochs" ->
      """WITH w(source, n_full, thr) AS (VALUES
        |  ('src1', 2, '80'), ('src2', 0, '66'), ('src3', 3, '00'),
        |  ('src4', 1, '40')),
        |c AS (
        |  SELECT d.source, d.doc_id,
        |    coalesce(w.n_full, 1) +
        |      CASE WHEN substring(md5('ep' || CAST(d.doc_id AS VARCHAR)), 1, 2)
        |                < coalesce(w.thr, '00') THEN 1 ELSE 0 END AS copies
        |  FROM documents d LEFT JOIN w ON d.source = w.source),
        |e AS (
        |  SELECT source, doc_id,
        |    unnest(generate_series(1, copies)) AS epoch
        |  FROM c WHERE copies >= 1)
        |SELECT source, CAST(epoch AS BIGINT) AS epoch, count(*) AS n,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  min(doc_id) AS id_min, max(doc_id) AS id_max
        |FROM e GROUP BY source, epoch""".stripMargin,
    "q94_source_overlap" ->
      """WITH tok AS (
        |  SELECT source, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT source,
        |    array_to_string(w[i:i+7], ' ') AS s
        |  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(w) - 7)) AS i) g
        |  WHERE len(w) >= 8),
        |n AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
        |p AS (
        |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared
        |  FROM sh a JOIN sh b USING (s)
        |  WHERE a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT p.source_a, p.source_b, p.shared,
        |  na.n AS n_a, nb.n AS n_b,
        |  round(CAST(p.shared AS DOUBLE) / (na.n + nb.n - p.shared), 6) AS jaccard,
        |  round(CAST(p.shared AS DOUBLE) / least(na.n, nb.n), 6) AS containment
        |FROM p
        |JOIN n na ON na.source = p.source_a
        |JOIN n nb ON nb.source = p.source_b""".stripMargin,
    "q95_dup_spans" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, i AS pos, array_to_string(w[i:i+7], ' ') AS s
        |  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(w) - 7)) AS i) g
        |  WHERE len(w) >= 8),
        |dup AS (SELECT s FROM sh GROUP BY s HAVING count(DISTINCT doc_id) >= 2),
        |hit AS (
        |  SELECT doc_id, pos,
        |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM sh JOIN dup USING (s)),
        |isl AS (
        |  SELECT doc_id, pos,
        |    sum(CASE WHEN prev IS NULL OR pos - prev > 8 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos
        |            ROWS UNBOUNDED PRECEDING) AS island
        |  FROM hit)
        |SELECT doc_id AS doc, min(pos) AS span_start,
        |  CAST(max(pos) + 7 AS BIGINT) AS span_end, count(*) AS n_windows
        |FROM isl GROUP BY doc_id, island""".stripMargin,
    // naive global ORDER BY — the hash match proves the two-phase
    // bucket/offset decomposition equals the global row_number
    "q96_training_order" ->
      """WITH k AS (
        |  SELECT doc_id, md5('shuf' || CAST(doc_id AS VARCHAR)) AS k
        |  FROM documents)
        |SELECT doc_id,
        |  row_number() OVER (ORDER BY k) AS global_pos,
        |  CAST(floor((row_number() OVER (ORDER BY k) - 1) / 64) AS BIGINT)
        |    AS shard
        |FROM k""".stripMargin,
    "q97_remove_dup_spans" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, i AS pos, array_to_string(w[i:i+7], ' ') AS s
        |  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(w) - 7)) AS i) g
        |  WHERE len(w) >= 8),
        |own AS (
        |  SELECT s, min(doc_id) AS owner FROM sh
        |  GROUP BY s HAVING count(DISTINCT doc_id) >= 2),
        |rmpos AS (
        |  SELECT DISTINCT sh.doc_id, unnest(generate_series(sh.pos, sh.pos + 7)) AS p
        |  FROM sh JOIN own USING (s) WHERE sh.doc_id > own.owner),
        |rml AS (SELECT doc_id, list(p) AS rm FROM rmpos GROUP BY doc_id),
        |rebuilt AS (
        |  SELECT t.doc_id, len(t.w) AS n_in,
        |    list_transform(
        |      list_filter(generate_series(1, len(t.w)),
        |        i -> NOT list_contains(coalesce(r.rm, []), i)),
        |      i -> t.w[i]) AS kept_arr
        |  FROM tok t LEFT JOIN rml r USING (doc_id))
        |SELECT doc_id, md5(array_to_string(kept_arr, ' ')) AS kept_md5,
        |  CAST(len(kept_arr) AS BIGINT) AS n_kept,
        |  CAST(n_in - len(kept_arr) AS BIGINT) AS n_removed
        |FROM rebuilt WHERE len(kept_arr) > 0""".stripMargin,
    // naive global running sum — the hash match proves the two-phase
    // bucket/offset prefix sum equals the global token cursor
    "q98_sequence_pack" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens AS BIGINT)
        |      AS start_tok
        |  FROM tk)
        |SELECT doc_id, n_tokens,
        |  CAST(floor(start_tok / 2048.0) AS BIGINT) AS seq_first,
        |  CAST(start_tok % 2048 AS BIGINT) AS seq_offset,
        |  CAST(floor((start_tok + n_tokens - 1) / 2048.0) AS BIGINT) AS seq_last
        |FROM c""".stripMargin,
    "q99_temperature_weights" ->
      """WITH ps AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(string_split_regex(lower(trim(text)), '\s+')))
        |      AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |tot AS (
        |  SELECT CAST(sum(n_tokens) AS BIGINT) AS tot,
        |    sum(sqrt(CAST(n_tokens AS DOUBLE))) AS ws FROM ps)
        |SELECT source, n_docs, n_tokens,
        |  round(n_tokens / CAST(tot AS DOUBLE), 6) AS nat_share,
        |  round(sqrt(CAST(n_tokens AS DOUBLE)) / ws, 6) AS temp_share,
        |  round((sqrt(CAST(n_tokens AS DOUBLE)) / ws)
        |    / (n_tokens / CAST(tot AS DOUBLE)), 6) AS upsample
        |FROM ps, tot""".stripMargin,
    // the plain exact join (q77's oracle) — identical output proves
    // the bloom prune + confirm sandwich is invisible to results
    "q100_bloom_decontaminate" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 200001 AS doc_id,
        |    text || ' with extra trailing commentary appended' AS text
        |  FROM documents WHERE doc_id % 100 = 0),
        |tk AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
        |  FROM all_docs),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN length(t) >= 8 THEN
        |      list_distinct(list_transform(range(0, length(t) - 7),
        |        i -> md5(array_to_string(t[i+1:i+8], ' '))))
        |    ELSE [md5(array_to_string(t, ' '))] END AS g
        |  FROM tk),
        |grams AS (SELECT doc_id, unnest(g) AS gh FROM sh),
        |ev AS (SELECT DISTINCT gh FROM grams WHERE doc_id % 100 = 0)
        |SELECT g.doc_id, count(*) AS n_contaminated_grams
        |FROM grams g JOIN ev USING (gh)
        |WHERE g.doc_id % 100 <> 0
        |GROUP BY g.doc_id""".stripMargin,
    "q103_vocab_coverage" ->
      """WITH tk AS (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        |  FROM documents),
        |c AS (SELECT token, count(*) AS n FROM tk GROUP BY token),
        |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS tot FROM c),
        |r AS (
        |  SELECT token, n,
        |    row_number() OVER (ORDER BY n DESC, token) AS rank,
        |    CAST(sum(n) OVER (ORDER BY n DESC, token
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM c)
        |SELECT CAST(rank AS BIGINT) AS rank, token, CAST(n AS BIGINT) AS n,
        |  round(cum / tot, 6) AS cum_coverage
        |FROM r, tot WHERE rank <= 1000""".stripMargin,
    // GROUND TRUTH, not a replay: ALL page pairs, maximal verbatim
    // tail/head overlap >= 8 by direct slice comparison — a pair the
    // positioned-k-gram candidate join missed, or a spurious overlap
    // it invented, hash-fails here
    "q104_page_stitch" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents WHERE len(string_split_regex(lower(trim(text)), '\s+')) >= 16),
        |pg AS (
        |  SELECT doc_id * 2 AS page_id,
        |    w[1 : CAST(floor(len(w) / 2) AS INTEGER) + 8] AS t FROM tok
        |  UNION ALL
        |  SELECT doc_id * 2 + 1,
        |    w[CAST(floor(len(w) / 2) AS INTEGER) + 1 : len(w)] FROM tok),
        |keys AS (
        |  SELECT page_id, t, len(t) AS lt FROM pg WHERE len(t) >= 8),
        |ov AS (
        |  SELECT a.page_id AS page_a, b.page_id AS page_b, a.lt AS la,
        |    b.lt AS lb,
        |    list_max(list_filter(generate_series(8, least(a.lt, b.lt)),
        |      o -> a.t[a.lt - o + 1 : a.lt] = b.t[1 : o])) AS overlap
        |  FROM keys a JOIN keys b ON a.page_id <> b.page_id)
        |SELECT page_a, page_b, CAST(overlap AS BIGINT) AS overlap_len,
        |  CAST(la + lb - overlap AS BIGINT) AS merged_len
        |FROM ov WHERE overlap IS NOT NULL""".stripMargin,
    // q104's ground truth extended through reconstruction: the merged
    // token stream rebuilt independently and md5-matched
    "q107_page_heal" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents WHERE len(string_split_regex(lower(trim(text)), '\s+')) >= 16),
        |pg AS (
        |  SELECT doc_id * 2 AS page_id,
        |    w[1 : CAST(floor(len(w) / 2) AS INTEGER) + 8] AS t FROM tok
        |  UNION ALL
        |  SELECT doc_id * 2 + 1,
        |    w[CAST(floor(len(w) / 2) AS INTEGER) + 1 : len(w)] FROM tok),
        |keys AS (
        |  SELECT page_id, t, len(t) AS lt FROM pg WHERE len(t) >= 8),
        |ov AS (
        |  SELECT a.page_id AS page_a, b.page_id AS page_b, a.lt AS la,
        |    b.lt AS lb, a.t AS ta, b.t AS tb,
        |    list_max(list_filter(generate_series(8, least(a.lt, b.lt)),
        |      o -> a.t[a.lt - o + 1 : a.lt] = b.t[1 : o])) AS overlap
        |  FROM keys a JOIN keys b ON a.page_id <> b.page_id)
        |SELECT page_a, page_b, CAST(overlap AS BIGINT) AS overlap_len,
        |  CAST(la + lb - overlap AS BIGINT) AS merged_len,
        |  md5(array_to_string(
        |    list_concat(ta, tb[CAST(overlap AS INTEGER) + 1 : lb]), ' '))
        |    AS merged_md5
        |FROM ov WHERE overlap IS NOT NULL""".stripMargin)
}
