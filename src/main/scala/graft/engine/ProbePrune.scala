package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit}

/** Scan-pruning for batch-bounded probes of corpus-scale SORTED
  * tables. An incremental operator (dedup probe, merge maintenance)
  * is batch-proportional in rows MATCHED, but a plain join streams
  * the whole at-rest table to match them — corpus-proportional in
  * bytes read. When the probe side's key set is batch-bounded,
  * collect it (a bounded coordinator read of the same class as the
  * union-find edge collect) and push it into the table's scan, so
  * row groups and pages outside the candidate set never decode.
  *
  * Predicate shape matters: a large `isin` is NOT a usable pushdown —
  * above `spark.sql.parquet.pushdown.inFilterThreshold` Spark
  * degrades it to one min/max range (prunes nothing for scattered
  * keys), and raising that threshold makes ParquetFilters build a
  * LEFT-DEEP OR chain, which overflows the task stack at a few
  * thousand values (measured: StackOverflowError in the scan task at
  * 8k keys). So the filter splits into two roles: row-level exactness
  * stays an `isInCollection` (an InSet hash set, evaluated
  * post-decode, short-circuiting the conjunction), and I/O pruning is
  * a RANGE COVER — the sorted key set split at its largest gaps into
  * at most `maxRanges` BETWEEN predicates, OR'd as a balanced tree
  * (stack-safe in parquet's recursive evaluator). The ranges are a
  * superset of the keys, so correctness never depends on them; the
  * following equi/semi join re-tightens to exact matches.
  *
  * [[graft.storage.Storage.appendBucketed]] sorts every store by its
  * bucket keys at write time, so the skip fraction grows with corpus
  * size: at gate scale a table is a handful of row groups, at 100 TB
  * it is millions, of which a batch names thousands. Past
  * [[DriverLocal]]'s bound — a backfill-sized probe — the prune is
  * skipped and the join reverts to the full stream (at that batch size
  * the scan amortizes; an unbounded collect would not).
  *
  * Below `minTableBytes` the table is returned as it is, with no probe
  * job. The gate measures what the table scans: the summed
  * `sizeInBytes` of its optimized plan's leaf relations (the parquet
  * files, a cached relation, a local relation). It does not use the
  * estimate at the plan's root, because without CBO Catalyst sizes a
  * join as the product of its inputs: the nested submission store of
  * an archive whose five tables scan a few KB is estimated above
  * 256 MB, so every incremental refresh paid the probe. */
object ProbePrune {

  /** The system property `graft.probe.prune=force` prunes regardless
    * of table size: specs pin the pushdown plan on gate-scale
    * fixtures. */
  private def forced = sys.props.get("graft.probe.prune").contains("force")

  /** `table` restricted to the values of `probe`'s `probeCol` in its
    * `tableCol`, with the bounded-collect / InSet / range-cover
    * contract above. */
  def pruneToProbeKeys(table: DataFrame, tableCol: String,
      probe: DataFrame, probeCol: String,
      maxRanges: Int = 256, minTableBytes: Long = 256L << 20): DataFrame = {
    // pruning has a FIXED cost (a bounded collect job on the probe
    // side, plus per-row predicate evaluation on the rows that do
    // decode) and a benefit proportional to the table bytes skipped —
    // below ~a quarter GB the whole table is a handful of row groups
    // and the full stream is cheaper than the bookkeeping (measured:
    // gate-scale accept probes ran ~1.5x slower with pruning forced
    // on, while the 262k-doc sweep point ran 1.8x faster with it).
    // Catalyst file-level stats make the decision free.
    if (!forced && scannedBytes(table) < BigInt(minTableBytes))
      return table
    DriverLocal.collect(probe.select(col(probeCol)).distinct()) match {
      case None => table
      case Some(rows) if rows.isEmpty => table.limit(0)
      case Some(rows) =>
        val ids = rows.map(_.get(0))
        val exact = table.filter(col(tableCol).isInCollection(ids))
        rangeCover(ids, maxRanges).fold(exact)(ranges =>
          exact.filter(orTree(ranges.map { case (lo, hi) =>
            if (lo == hi) col(tableCol) === lit(lo)
            else col(tableCol) >= lit(lo) && col(tableCol) <= lit(hi)
          })))
    }
  }

  private def scannedBytes(table: DataFrame): BigInt =
    table.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes).sum

  private def orTree(cs: IndexedSeq[Column]): Column =
    if (cs.length == 1) cs.head
    else {
      val (a, b) = cs.splitAt(cs.length / 2)
      orTree(a) || orTree(b)
    }

  /** Cover an (integral-typed) key set with at most `maxRanges`
    * inclusive ranges: sort, then split at the largest gaps — the
    * cover is tight where keys cluster and cheap where they scatter.
    * None for non-integral keys (they keep only the InSet row
    * filter). */
  private[engine] def rangeCover(ids: Array[Any],
      maxRanges: Int): Option[IndexedSeq[(Long, Long)]] = {
    val longs = ids.collect {
      case l: java.lang.Long => l.longValue
      case i: java.lang.Integer => i.longValue
      case s: java.lang.Short => s.longValue
    }
    if (longs.length != ids.length) return None
    val sorted = longs.distinct.sorted.toIndexedSeq
    val splits =
      if (sorted.length <= maxRanges) (1 until sorted.length).toIndexedSeq
      else (1 until sorted.length)
        .sortBy(i => -(sorted(i) - sorted(i - 1))).take(maxRanges - 1).sorted
    val starts = 0 +: splits
    val ends = splits.map(_ - 1) :+ (sorted.length - 1)
    Some(starts.zip(ends).map { case (a, b) => (sorted(a), sorted(b)) })
  }
}
