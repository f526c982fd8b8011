package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE merge LEARNING — the tokenizer-training step that
  * produces the merge table a BPE tokenizer runs with (the reference
  * has nothing comparable; q56's BPE-ish token counting CONSUMES such
  * rules, this operator learns them). Classic corpus-level BPE à la
  * Sennrich: count symbol-pair frequencies weighted by word frequency,
  * merge the argmax pair everywhere (greedy left-to-right within each
  * word), repeat.
  *
  * Distribution shape — the same one production tokenizer trainers
  * use: the corpus is touched ONCE (whitespace word count, one
  * map-side-combined shuffle); every iteration thereafter runs on the
  * DISTINCT-WORD table (vocab-sized, ≪ corpus — millions of rows at
  * 100 TB, not billions), so N merges cost N small jobs, not N corpus
  * scans. Per iteration: pair counts are one grouped agg over
  * per-word adjacent symbol pairs (weighted by the precomputed word
  * freq); the winning pair is a TakeOrdered(1) — a SINGLE row to the
  * driver, the same broadcast-scalar-decision shape as a k-means
  * centroid collect; applying the merge is a narrow per-word fold.
  *
  * The fold uses a STRING accumulator ('|'-joined symbols, greedy
  * left-to-right: a tail symbol equal to `left` followed by `right`
  * collapses) — chosen because DuckDB's `list_reduce` can replay it
  * with identical semantics, making the learned rules AND their
  * application oracle-checkable end to end. Tokens must not contain
  * the '|' separator (whitespace-split tokens here cannot).
  */
object BpeTrain {

  /** (step, merge_left, merge_right, pair_count): the first
    * `numMerges` learned rules in order, ties broken by
    * (count desc, left asc, right asc) — a total order, so the
    * learned sequence is deterministic — plus a final
    * (numMerges+1, '&lt;eos&gt;', '&lt;eos&gt;', Σ freq·|symbols|)
    * row that pins the post-merge segmentation of EVERY word. */
  def learnMerges(docs: DataFrame, textCol: String,
      numMerges: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    val (merges, words) = learn(docs, textCol, numMerges)
    val totalSyms = words.agg(sum(col("freq") * size(col("s"))))
      .collect()(0).getLong(0)
    spark.createDataFrame(
        merges :+ ((numMerges + 1L, "<eos>", "<eos>", totalSyms)))
      .toDF("step", "merge_left", "merge_right", "pair_count")
  }

  /** The learned tokenizer APPLIED: every distinct word with its
    * final symbol segmentation after `numMerges` learned merges —
    * the vocab-sized dictionary a tokenization pass broadcasts.
    * (word, freq, n_syms, syms = '|'-joined segmentation). */
  def segmentations(docs: DataFrame, textCol: String,
      numMerges: Int = 5): DataFrame =
    learn(docs, textCol, numMerges)._2
      .select(col("word"), col("freq"),
        size(col("s")).cast("long").as("n_syms"),
        array_join(col("s"), "|").as("syms"))

  /** Spark string ordering = unsigned byte order over UTF-8
    * (UTF8String.binaryCompare) — NOT java.lang.String's UTF-16 order
    * (they diverge on supplementary-plane characters). */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes("UTF-8")
    val y = b.getBytes("UTF-8")
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** The fold's greedy left-to-right merge on a symbol array: a tail
    * symbol equal to `l` followed by `r` collapses (the just-merged
    * symbol participates as the new tail, same as the string
    * accumulator). */
  private def applyMerge(s: Array[String], l: String,
      r: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < s.length) {
      if (out.nonEmpty && out.last == l && s(i) == r)
        out(out.length - 1) = l + r
      else out += s(i)
      i += 1
    }
    out.toArray
  }

  /** Driver-local learning short-circuit (round 18): the
    * distinct-word table is vocab-sized by construction, and the
    * per-merge loop is `numMerges` dependent TakeOrdered(1) + fold
    * rounds — pure job-launch latency at gate scale (q105's warm wall
    * was 1.5 s of which total task time was 0.25 s; Bench's
    * `query_metrics` records both). When
    * the word table fits [[graft.engine.DriverLocal]]'s bound it is
    * collected once and the loop runs on the driver with EXACTLY the
    * distributed semantics: argmax by (count desc, left asc, right
    * asc) under UTF8String's unsigned-byte string order, and the same
    * greedy left-to-right merge fold (BpeTrainSpec pins local ==
    * distributed on a tie-rich corpus). Past the bound — vocabularies
    * are millions of rows at 100 TB — the distributed loop runs
    * unchanged. */
  private def learnLocal(spark: org.apache.spark.sql.SparkSession,
      rows: Array[org.apache.spark.sql.Row], numMerges: Int)
      : (Seq[(Long, String, String, Long)], DataFrame) = {
    import spark.implicits._
    var words = rows.map(r => (r.getString(0), r.getLong(1),
      r.getSeq[String](2).toArray))
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    for (step <- 1 to numMerges) {
      val cnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (_, f, s) =>
        var j = 0
        while (j + 1 < s.length) {
          val k = (s(j), s(j + 1))
          cnt(k) = cnt.getOrElse(k, 0L) + f
          j += 1
        }
      }
      // same failure as the distributed collect()(0) on a pair-less
      // corpus: learning is undefined when no word has two symbols
      require(cnt.nonEmpty,
        s"BPE merge $step: no symbol pairs left to learn from")
      // argmax by (count desc, left asc, right asc) — the asc legs
      // under UTF8 byte order ([[utf8Lt]])
      var best = cnt.head
      cnt.foreach { e =>
        val better =
          e._2 > best._2 ||
            (e._2 == best._2 && (utf8Lt(e._1._1, best._1._1) ||
              (e._1._1 == best._1._1 && utf8Lt(e._1._2, best._1._2))))
        if (better) best = e
      }
      val (bl, br) = best._1
      merges += ((step.toLong, bl, br, best._2))
      words = words.map { case (w, f, s) =>
        (w, f, applyMerge(s, bl, br))
      }
    }
    (merges.toSeq,
      spark.createDataset(words.toSeq.map { case (w, f, s) =>
        (w, f, s.toSeq)
      }).toDF("word", "freq", "s"))
  }

  private def learn(docs: DataFrame, textCol: String, numMerges: Int)
      : (Seq[(Long, String, String, Long)], DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    var words = graft.engine.CacheRegistry.retain(docs
      .select(explode(Dedup.tokens(col(textCol))).as("word"))
      .groupBy($"word").agg(count(lit(1)).as("freq"))
      .withColumn("s", transform(sequence(lit(1), length($"word")),
        i => $"word".substr(i, lit(1)))))
    graft.engine.DriverLocal.collect(words) match {
      case Some(rows) => return learnLocal(spark, rows, numMerges)
      case None =>
    }
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    for (step <- 1 to numMerges) {
      // Spark's sequence() counts DOWN when start > stop — guard the
      // single-symbol words instead of emitting a [1, 0] ramp
      val best = words
        .filter(size($"s") >= 2)
        .select($"freq", explode(transform(sequence(lit(1), size($"s") - 1),
          j => struct(element_at($"s", j).as("l"),
            element_at($"s", j + 1).as("r")))).as("p"))
        .groupBy($"p.l".as("l"), $"p.r".as("r"))
        .agg(sum($"freq").as("cnt"))
        .orderBy($"cnt".desc, $"l".asc, $"r".asc)
        .limit(1).collect()(0)
      val (l, r) = (best.getString(0), best.getString(1))
      merges += ((step.toLong, l, r, best.getLong(2)))
      val folded = aggregate($"s", lit(""), (acc, x) =>
        when(acc === "", x)
          .when((acc === lit(l) ||
              endswith(acc, lit("|" + l))) && x === lit(r),
            when(acc === lit(l), lit(l + r))
              .otherwise(concat(
                acc.substr(lit(1), length(acc) - (l.length + 1)),
                lit("|" + l + r))))
          .otherwise(concat(acc, lit("|"), x)))
      words = graft.engine.CacheRegistry.retain(
        words.select($"word", $"freq", split(folded, "\\|").as("s")))
    }
    (merges.toSeq, words)
  }
}
