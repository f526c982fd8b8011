package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Page-boundary healing: find (page_a, page_b) pairs where the TAIL
  * of one token sequence verbatim-overlaps the HEAD of another by at
  * least `k` tokens — the shape of documents split mid-stream by a
  * scraper's pagination or a shard boundary, which a training corpus
  * wants re-joined before tokenization (otherwise both fragments carry
  * a truncated context AND the overlap region is duplicated).
  *
  * Reference analog: none — the reference ingests whole submissions
  * (faexport_db/db.py bulk paths); this is the LLM-pipeline suite.
  *
  * Mechanics: an overlap of length o means A's last o tokens equal
  * B's first o — so A's last k tokens (ONE key per page) appear in B
  * at start position o-k+1. B therefore contributes its k-grams at
  * start positions 1..maxOverlap-k+1 (a CONSTANT bound, not data-
  * sized), candidates come from a single equi-join of A-tail keys
  * against those positioned grams, and each candidate position p
  * implies exactly one overlap hypothesis o = p+k-1, verified by a
  * full slice comparison and reduced to the per-pair maximum. Every
  * true overlap o is found: its tail k-gram sits at position o-k+1 of
  * B by definition, so the key join cannot miss it (for o <=
  * maxOverlap); conversely only slice-verified hypotheses are
  * emitted, so coincidental interior k-gram collisions never surface.
  *
  * At 100 TB: the only corpus-scale movement is the hash shuffle of
  * two narrow key frames — one key per page on the tail side,
  * <= (maxOverlap - k + 1) keys per page on the head side (constant
  * fan-out, tunable to the scraper's carry-over bound); verification
  * and the max-reduce touch only candidate pairs. Hot boilerplate
  * keys (cover pages, headers) are bounded per key by page-key
  * cardinality and can be pre-counted and capped upstream if a
  * scrape is pathological.
  */
object PageStitch {

  /** (page_a, page_b, overlap_len, merged_len) for every ordered pair
    * with a verbatim tail/head overlap of at least `k` tokens;
    * `overlap_len` is the MAXIMUM such overlap (exact as long as the
    * true overlap is <= `maxOverlap`). `tokensCol` is an
    * array&lt;string&gt; column; pages shorter than `k` tokens
    * contribute nothing. */
  def stitchPairs(pages: DataFrame, idCol: String, tokensCol: String,
      k: Int = 8, maxOverlap: Int = 64): DataFrame = {
    val base = pages
      .select(col(idCol).as("pid"), col(tokensCol).as("t"))
      .withColumn("lt", size(col("t")))
      .filter(col("lt") >= k)
    // keys are xxhash64 over the k-token slice (hashing an array
    // column hashes its elements) — no per-position string building;
    // a hash collision could only surface a spurious candidate, and
    // every candidate is full-slice verified below
    val tails = base.select(col("pid").as("page_a"), col("t").as("ta"),
      col("lt").as("la"),
      xxhash64(slice(col("t"), col("lt") - (k - 1), lit(k))).as("key"))
    val heads = base
      .select(col("pid").as("page_b"), col("t").as("tb"), col("lt").as("lb"))
      .withColumn("p", explode(sequence(lit(1),
        least(lit(maxOverlap), col("lb")) - (k - 1))))
      .withColumn("key", xxhash64(slice(col("tb"), col("p"), lit(k))))
    tails.join(heads, Seq("key"))
      .filter(col("page_a") =!= col("page_b"))
      .withColumn("o", col("p") + (k - 1))
      // an overlap cannot exceed A's length — and the slice below
      // needs a positive start (a deep-position key match against a
      // short A is a collision, not an overlap)
      .filter(col("o") <= col("la"))
      // the one hypothesis position p implies: verify the FULL overlap
      .filter(slice(col("ta"), col("la") - col("o") + 1, col("o")) ===
        slice(col("tb"), lit(1), col("o")))
      .groupBy(col("page_a"), col("page_b"), col("la"), col("lb"))
      .agg(max(col("o")).cast("long").as("overlap_len"))
      .select(col("page_a"), col("page_b"), col("overlap_len"),
        (col("la") + col("lb") - col("overlap_len")).cast("long")
          .as("merged_len"))
  }

  /** The HEAL step: every stitchable pair with its reconstructed
    * document — page A's tokens followed by page B's tokens past the
    * overlap. Joins the pair decisions back to the page tokens (two
    * id-keyed joins — pair-scale, not corpus-scale) and rebuilds the
    * merged token stream per pair; emits an md5 of the joined text so
    * the reconstruction is hash-checkable byte for byte. */
  def healedDocs(pages: DataFrame, idCol: String, tokensCol: String,
      k: Int = 8, maxOverlap: Int = 64): DataFrame = {
    val toks = pages.select(col(idCol).as("pid"), col(tokensCol).as("t"))
    // pin the pair frame to full task width before the token joins:
    // the stitch decisions are a few narrow columns (AQE coalesces to
    // one task) but each joined row then pays an array concat + md5
    // over two whole token streams — the same byte-blind-AQE trap as
    // the dedup verification joins (one 0.5 s single-task stage at
    // gate scale; see q104's `max_task_sec` in Bench's `query_metrics`)
    graft.engine.Spread.spreadForExplosion(
        stitchPairs(pages, idCol, tokensCol, k, maxOverlap), col("page_a"))
      .join(toks.select(col("pid").as("page_a"), col("t").as("ta")),
        Seq("page_a"))
      .join(toks.select(col("pid").as("page_b"), col("t").as("tb")),
        Seq("page_b"))
      .select(col("page_a"), col("page_b"), col("overlap_len"),
        col("merged_len"),
        md5(array_join(concat(col("ta"),
          slice(col("tb"), col("overlap_len").cast("int") + 1,
            size(col("tb")) - col("overlap_len").cast("int"))), " "))
          .as("merged_md5"))
  }
}
