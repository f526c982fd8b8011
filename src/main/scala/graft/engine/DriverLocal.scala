package graft.engine

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.functions.col

/** The one bound on driver-local shortcuts. Five operators run either
  * distributed or, when their input is small, on the driver over one
  * collect: [[graft.operators.IvfAnn.refine]] (Lloyd),
  * [[graft.operators.Coreset.selectLandmarks]] (k-center traversal),
  * [[graft.operators.BpeTrain]]'s merge loop,
  * [[graft.operators.Dedup.connectedComponentsWithStats]] (union-find)
  * and [[ProbePrune.pruneToProbeKeys]] (the probe's key set). Each
  * calls [[collect]]; on None it runs its distributed twin, whose
  * answer is the same (DriverLocalSpec flips every site).
  *
  * Two limits: a row bound, the session conf
  * `spark.graft.driverLocal.maxRows` (default 1 << 17; 0 sends every
  * non-empty input to the distributed twin), and a fixed cap of 32 MB
  * on the collected rows' UnsafeRow bytes — the row bound alone would
  * let a 4096-dim embedding sample collect GBs. */
object DriverLocal {
  val MaxRowsConf = "spark.graft.driverLocal.maxRows"
  val DefaultMaxRows: Long = 1L << 17
  val MaxBytes: Long = 32L << 20

  /** The rows of `df` when there are at most `maxRows` of them and
    * they fit `MaxBytes`, else None. One job with one task: the task
    * reads the partitions in turn and stops at the first row past
    * either limit, so an over-bound input costs at most the bytes that
    * fit and sends nothing back but the verdict. */
  def collect(df: DataFrame): Option[Array[Row]] = {
    val maxRows = df.sparkSession.conf.get(MaxRowsConf, s"$DefaultMaxRows").toLong
    val schema = df.schema
    // a fresh plan, so a cache registered after `df` was built is used
    val taken = df.select(col("*")).queryExecution.toRdd.coalesce(1)
      .mapPartitions { it =>
        val toUnsafe = UnsafeProjection.create(schema)
        var bytes = 0L
        val rows = it.map(toUnsafe(_).copy()).takeWhile { r =>
          bytes += r.getSizeInBytes; bytes <= MaxBytes
        }.take(maxRows.min(Int.MaxValue - 1).toInt + 1).toArray
        Iterator(Option.when(rows.length <= maxRows && bytes <= MaxBytes)(rows))
      }.collect()
    val toRow = ExpressionEncoder(schema).resolveAndBind().createDeserializer()
    taken.headOption.fold(Option(Array.empty[Row]))(_.map(_.map(toRow)))
  }
}
