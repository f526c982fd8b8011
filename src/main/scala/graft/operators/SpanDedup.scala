package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact duplicate-SPAN detection and cross-source n-gram overlap —
  * the positional complement of [[Dedup]]'s whole-document sketches
  * (which answer "are these two docs similar?" but not "which run of
  * words is copied?").
  *
  * The unit is the positional k-word window: (doc, pos, window-hash)
  * for every token position 1..n_tokens-k+1. A window whose hash
  * occurs in ≥ 2 distinct documents marks its [pos, pos+k-1] token
  * range as duplicated; per-document, overlapping/adjacent ranges
  * merge into maximal spans (classic gaps-and-islands). This is the
  * dataflow shape of exact substring deduplication over a training
  * corpus — the reference's exact-hash identity checks
  * (faexport_db/models/file.py:50–63) lifted from whole files to
  * intra-document character runs.
  *
  * Scale design:
  *  - windowing is a per-row narrow projection (one pass over text,
  *    tokens sliced in place — no shuffle, stays in codegen);
  *  - duplicate detection shuffles ONCE on the 64-bit window hash
  *    (the same O(n·windows) layout as LSH banding — never all pairs);
  *  - the islands window partitions BY DOCUMENT (bounded by document
  *    length), never globally — no single-reducer stage anywhere;
  *  - cross-source overlap aggregates the distinct (source, hash) set,
  *    so the self-join fan-out is bounded by #sources per hash, not
  *    #documents.
  */
object SpanDedup {

  /** Positional k-word windows: (doc, pos, wh) with 1-based token
    * position and a 64-bit window hash. Documents shorter than k
    * tokens emit nothing (they cannot contain a k-word duplicate).
    * Narrow: explode only — no shuffle. */
  def positionalWindows(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val toks = Dedup.tokens(col(textCol))
    // spread before the per-row window work: tokenization plus one
    // xxhash64 per token position is CPU the scan's split count
    // otherwise serializes (single-split parquet at gate scale ran the
    // whole windowing as one 0.65 s task — q95/q97's `max_task_sec` in
    // Bench's `query_metrics`); no-op on
    // scans that already carry >= parallelism splits
    Dedup.spread(docs.select(col(idCol), col(textCol)))
      .select(col(idCol).as("doc"), toks.as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col("doc"), explode(
        transform(sequence(lit(1), size(col("toks")) - lit(k - 1)),
          i => struct(i.cast("long").as("pos"),
            xxhash64(array_join(slice(col("toks"), i, lit(k)), " ")).as("wh"))))
        .as("w"))
      .select(col("doc"), col("w.pos").as("pos"), col("w.wh").as("wh"))
  }

  /** Maximal duplicated token spans per document: every k-window whose
    * hash appears in ≥ 2 distinct docs flags [pos, pos+k-1]; flagged
    * ranges that overlap or touch merge into one span. Returns
    * (doc, span_start, span_end, n_windows) with 1-based inclusive
    * token bounds.
    *
    * One shuffle on the window hash decides duplication (map-side
    * partial counts, then a semi join back to the positional rows);
    * the island numbering runs in a PER-DOC window. */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    val win = graft.engine.CacheRegistry.retain(
      positionalWindows(docs, idCol, textCol, k))
    // hashes seen in >= 2 distinct docs; count(distinct) partial-aggs
    // map-side, so the shuffle carries (wh, partial-set) not raw rows
    val dup = win.groupBy(col("wh"))
      .agg(countDistinct(col("doc")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("wh"))
    val byDoc = Window.partitionBy(col("doc")).orderBy(col("pos"))
    val run = Window.partitionBy(col("doc")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    win.join(dup, Seq("wh"), "left_semi")
      .withColumn("prev", lag(col("pos"), 1).over(byDoc))
      // a window starting more than k past the previous one leaves a
      // gap between [prev, prev+k-1] and [pos, pos+k-1] — new island
      .withColumn("isl", sum(
        when(col("prev").isNull || col("pos") - col("prev") > k, 1)
          .otherwise(0)).over(run))
      .groupBy(col("doc"), col("isl"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(k - 1)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc"), col("span_start"), col("span_end"), col("n_windows"))
  }

  /** Duplicate-span REMOVAL — the transform downstream of
    * [[duplicateSpans]]: every k-window that also occurs in an EARLIER
    * document (lower id = the span's "owner") has its [pos, pos+k-1]
    * token range deleted from the later document; the first occurrence
    * survives verbatim, later occurrences keep only their novel
    * tokens. Documents left empty (pure duplicates) are dropped.
    * Returns (id, kept, n_kept, n_removed) where `kept` is the
    * surviving text, lowercased and single-space joined.
    *
    * Reconstruction is a NARROW per-row array filter: removed
    * positions arrive as one per-doc set (bounded by document length)
    * and the token array is filtered in place with an index-aware
    * higher-order function — no re-sort, no per-token shuffle, no
    * collect_list regroup. Shuffles: the window-hash ownership agg +
    * join (same layout as [[duplicateSpans]]) and the per-doc
    * removed-set agg. */
  def removeDuplicateSpans(docs: DataFrame, idCol: String,
      textCol: String, k: Int = 8): DataFrame = {
    val win = graft.engine.CacheRegistry.retain(
      positionalWindows(docs, idCol, textCol, k))
    val owners = win.groupBy(col("wh"))
      .agg(min(col("doc")).as("owner"), countDistinct(col("doc")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("wh"), col("owner"))
    // removed token positions, one set per doc (set size <= doc length)
    val removed = win.join(owners, Seq("wh"))
      .filter(col("doc") > col("owner"))
      .select(col("doc"), explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("p"))
      .groupBy(col("doc")).agg(collect_set(col("p")).as("rm"))
    // the reconstruction side re-tokenizes every doc and filters its
    // token array in place — the same per-row CPU the windowing pays,
    // so it gets the same under-partitioned-scan spread
    Dedup.spread(docs.select(col(idCol), col(textCol)))
      .select(col(idCol).as("doc"), Dedup.tokens(col(textCol)).as("toks"))
      .join(removed, Seq("doc"), "left")
      .withColumn("kept_arr", when(col("rm").isNull, col("toks"))
        .otherwise(filter(col("toks"),
          (_, i) => !array_contains(col("rm"), (i + lit(1)).cast("long")))))
      .select(col("doc").as(idCol),
        array_join(col("kept_arr"), " ").as("kept"),
        size(col("kept_arr")).cast("long").as("n_kept"),
        (size(col("toks")) - size(col("kept_arr"))).cast("long").as("n_removed"))
      .filter(col("kept") =!= "")
  }

  /** Cross-source k-gram overlap matrix — the contamination audit run
    * between datasets before mixing them: for every pair of sources
    * sharing at least one distinct k-word window, the shared distinct
    * window count and Jaccard / containment coefficients.
    * Returns (source_a, source_b, shared, n_a, n_b, jaccard,
    * containment) with source_a < source_b.
    *
    * The self-join runs on the DISTINCT (source, hash) set, so fan-out
    * per hash is bounded by the number of sources (a constant), not
    * document count; per-source distinct totals are a #sources-row
    * broadcast. */
  def overlapMatrix(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, k: Int = 8): DataFrame = {
    // window directly against the group column — no join back to docs;
    // the distinct is the single shuffle that builds the per-source set
    val toks = Dedup.tokens(col(textCol))
    val sh = graft.engine.CacheRegistry.retain(
      // same under-partitioned-scan spread as positionalWindows
      Dedup.spread(docs.select(col(groupCol), col(textCol)))
        .select(col(groupCol).as("src"), toks.as("toks"))
        .filter(size(col("toks")) >= k)
        .select(col("src"), explode(
          transform(sequence(lit(1), size(col("toks")) - lit(k - 1)),
            i => xxhash64(array_join(slice(col("toks"), i, lit(k)), " "))))
          .as("wh"))
        .distinct())
    val totals = sh.groupBy(col("src")).agg(count(lit(1)).as("n"))
    val pairs = sh.select(col("src").as("source_a"), col("wh"))
      .join(sh.select(col("src").as("source_b"), col("wh")), Seq("wh"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(broadcast(totals.select(col("src").as("source_a"), col("n").as("n_a"))),
        Seq("source_a"))
      .join(broadcast(totals.select(col("src").as("source_b"), col("n").as("n_b"))),
        Seq("source_b"))
      .withColumn("jaccard",
        round(col("shared").cast("double") /
          (col("n_a") + col("n_b") - col("shared")), 6))
      .withColumn("containment",
        round(col("shared").cast("double") / least(col("n_a"), col("n_b")), 6))
      .select(col("source_a"), col("source_b"), col("shared"),
        col("n_a"), col("n_b"), col("jaccard"), col("containment"))
  }
}
