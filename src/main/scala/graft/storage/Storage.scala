package graft.storage

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Parquet table registry — replaces the reference's Database object
  * (faexport_db/db.py:53–137) and schema bootstrap
  * (faexport_db/schema/faexport_db.sql).
  *
  * Layout: one directory per table under a root; the append-only fact
  * tables (`user_snapshots`, `submission_snapshots` and their children)
  * are hive-partitioned by `website_id` because every reference read
  * path filters on it (web.py:68–153) — partition pruning replaces the
  * covering indexes of indexes.sql:6–24. Bulk-insert chunking
  * (db.py:102–127, 1000 rows/statement) is subsumed by parquet row
  * groups; "deferred index builds" (indexes.sql:1–3) are moot.
  *
  * Opening a table ([[read]]) launches no Spark job. A bare
  * `spark.read.parquet(dir)` runs a one-task job to read a footer and
  * infer the schema; here the driver lists the table directory, takes
  * the first data file (names starting with `_` or `.` are skipped,
  * `key=value` partition directories are descended), reads that one
  * footer and converts it with Spark's own
  * `ParquetFileFormat.readSchemaFromFooter` — the conversion schema
  * inference runs inside its job. Partition columns named by the
  * file's `key=value` directories are dropped from that schema, so
  * Spark still infers them (and their types) from the directory names.
  * The table is then opened with `spark.read.schema(dataSchema)`.
  *
  * The schema is memoised per table in this instance, together with
  * the footer file's path and length. An entry is used only while that
  * file still exists with the same length: parquet files get unique
  * names and are never modified, so an overwrite, a compaction, a
  * delete done outside this class or a write from another instance
  * invalidates the entry on its own — no write path touches the memo.
  *
  * Three cases keep the bare `spark.read.parquet(dir)`, with its
  * inference job and its exceptions: the directory is missing, it holds
  * no readable data file, or the session sets
  * `spark.sql.parquet.mergeSchema` (a merged schema needs every footer).
  *
  * 100 TB note: for shuffle-free merge-on-read, write snapshot tables
  * sorted within partitions by the entity key
  * (`sortWithinPartitions`) so the M-family groupBy can use
  * sort-based aggregation without re-sorting; with a catalog, the same
  * tables would be `bucketBy(entityKey)` to remove the merge shuffle
  * entirely (SURVEY §4.4).
  */
class Storage(spark: SparkSession, root: String) {
  import Storage.StoredSchema

  private val partitioned = Set(
    "user_snapshots", "submission_snapshots")

  private val schemas = new ConcurrentHashMap[String, StoredSchema]()

  def path(table: String): String = s"$root/$table"

  private def fs: FileSystem = FileSystem.get(
    new java.net.URI(root), spark.sparkContext.hadoopConfiguration)

  def append(table: String, df: DataFrame): Unit = {
    val w = df.write.mode(SaveMode.Append)
    if (partitioned(table)) w.partitionBy("website_id").parquet(path(table))
    else w.parquet(path(table))
  }

  def overwrite(table: String, df: DataFrame): Unit = {
    // rewrite via temp dir: reading and overwriting the same parquet
    // path in one job is unsafe
    val tmp = s"$root/.tmp_$table"
    df.write.mode(SaveMode.Overwrite).parquet(tmp)
    swapIn(tmp, table)
  }

  private def swapIn(tmp: String, table: String): Unit = {
    val dst = new Path(path(table))
    fs.delete(dst, true)
    fs.rename(new Path(tmp), dst)
  }

  def read(table: String): DataFrame =
    dataSchema(table).fold(spark.read)(spark.read.schema(_)).parquet(path(table))

  /** The stored data schema of `table` (partition columns excluded),
    * from the memo while its footer file is unchanged, else from one
    * footer; None when the table must be opened by inference. */
  private def dataSchema(table: String): Option[StructType] =
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
    else Option(schemas.get(table)).filter(_.isCurrent(fs))
      .orElse(footerSchema(new Path(path(table))).map { s =>
        schemas.put(table, s); s
      })
      .map(_.schema)

  private def footerSchema(dir: Path): Option[StoredSchema] =
    try firstDataFile(dir, Nil).map { case (file, partitionCols) =>
      val footer = ParquetFileReader.readFooter(
        HadoopInputFile.fromStatus(file, spark.sparkContext.hadoopConfiguration),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      val schema = ParquetFileFormat.readSchemaFromFooter(
        new Footer(file.getPath, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      StoredSchema(file.getPath, file.getLen, StructType(schema.filterNot(f =>
        partitionCols.exists(spark.sessionState.conf.resolver(_, f.name)))))
    } catch {
      // a missing directory or an unreadable file: inference reports it
      case NonFatal(_) => None
    }

  /** Depth-first, in name order: the first data file under `dir` and
    * the partition columns named by the directories above it. */
  private def firstDataFile(dir: Path, partitionCols: List[String])
      : Option[(FileStatus, List[String])] = {
    val (dirs, files) = fs.listStatus(dir)
      .filterNot(st => Storage.isHidden(st.getPath.getName))
      .sortBy(_.getPath.getName)
      .partition(_.isDirectory)
    files.headOption.map(_ -> partitionCols).orElse(
      dirs.iterator.flatMap { d =>
        val name = d.getPath.getName
        val col = if (name.contains("=")) List(
          ExternalCatalogUtils.unescapePathName(name.takeWhile(_ != '=')))
          else Nil
        firstDataFile(d.getPath, partitionCols ++ col)
      }.nextOption())
  }

  def exists(table: String): Boolean = fs.exists(new Path(path(table)))

  /** Bucketed append via the catalog (SURVEY §4.4 "bucket/sort the
    * snapshot tables by entity key so merge becomes a shuffle-free
    * aggregation"): rows are hash-bucketed and sorted by the entity
    * key at write time, so the M-family `groupBy(entityKey)` reads
    * bucket-local data and the Exchange disappears from the merge plan
    * (asserted in StorageSpec). This is the 100 TB layout — the
    * shuffle this removes is the single largest cost in merge-on-read
    * at scale. */
  def appendBucketed(table: String, df: DataFrame, bucketCols: Seq[String],
      numBuckets: Int = 64): Unit = {
    df.write.mode(SaveMode.Append)
      .format("parquet")
      .option("path", path(table))
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)
  }

  /** Bucketed write with a sort order FINER than the bucket key (e.g.
    * bucket by entity, sort by (entity, time, tieBreak) — the at-rest
    * layout a merge-ordered reader needs). The input is repartitioned
    * onto the bucket key with numBuckets partitions first: Spark's
    * bucket-id function IS HashPartitioning's, so each write task then
    * holds exactly one bucket and writes exactly one file — the
    * one-file-per-bucket condition under which the scan reports its
    * sort order and downstream operators skip their Sort entirely. */
  def appendBucketedSorted(table: String, df: DataFrame,
      bucketCols: Seq[String], sortCols: Seq[String],
      numBuckets: Int = 64): Unit = {
    // fail fast on a second write: one-file-per-bucket (what lets the
    // scan report its at-rest sort and downstream plans skip their
    // Sort) only holds for the FIRST write — a later Append makes a
    // second file per bucket and the plan contract silently breaks
    // (answers stay right, the dim-side Sort quietly returns). Every
    // legitimate caller is a build-once/rebuild path that starts from
    // a dropped table.
    require(!spark.catalog.tableExists(table) && !exists(table),
      s"appendBucketedSorted('$table') targets a table that already " +
        "exists — a second append breaks the one-file-per-bucket sorted-" +
        "scan contract; drop and rebuild the table instead")
    df.repartition(numBuckets, bucketCols.map(df.col): _*)
      .write.mode(SaveMode.Append)
      .format("parquet")
      .option("path", path(table))
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(sortCols.head, sortCols.tail: _*)
      .saveAsTable(table)
  }

  /** Read a bucketed table through the catalog (bucket metadata only
    * lives there; a bare parquet read would lose it). */
  def readBucketed(table: String): DataFrame = spark.table(table)

  /** Catalog-registered plain append (small unpartitioned tables that
    * travel with a partitioned/bucketed store, e.g. centroids). */
  def appendTable(table: String, df: DataFrame): Unit =
    df.write.mode(SaveMode.Append)
      .format("parquet")
      .option("path", path(table))
      .saveAsTable(table)

  /** A10/A11 get-or-create dimension upsert: append only the rows whose
    * natural key is absent (archive_contributor.py:41–57 ON CONFLICT DO
    * NOTHING; website.py:46–55 EXISTS check).
    *
    * The anti-join against the stored keys runs once, as the write
    * itself: it lands in a private staging directory, and only the
    * data files that hold rows move into the table. Spark writes a
    * schema-only file even when a write has no rows, so without the
    * staging step every upsert that brings no new key would add an
    * empty file to the table. */
  def upsertDimension(table: String, rows: DataFrame, keyCols: Seq[String]): Unit = {
    val unique = rows.dropDuplicates(keyCols)
    if (!exists(table)) append(table, unique)
    else {
      val staging = fs.makeQualified(
        new Path(s"$root/.upsert_${table}_${java.util.UUID.randomUUID}"))
      try {
        val w = unique.join(read(table), keyCols, "left_anti").write
        if (partitioned(table)) w.partitionBy("website_id").parquet(staging.toString)
        else w.parquet(staging.toString)
        val staged = fs.listFiles(staging, true)
        val files = Iterator.continually(staged).takeWhile(_.hasNext).map(_.next()).toList
        for (f <- files if !Storage.isHidden(f.getPath.getName) && rowCount(f) > 0) {
          val dst = new Path(path(table) +
            f.getPath.toUri.getPath.stripPrefix(staging.toUri.getPath))
          fs.mkdirs(dst.getParent)
          fs.rename(f.getPath, dst)
        }
      } finally fs.delete(staging, true)
    }
  }

  private def rowCount(file: FileStatus): Long =
    ParquetFileReader.readFooter(
      HadoopInputFile.fromStatus(file, spark.sparkContext.hadoopConfiguration),
      ParquetMetadataConverter.NO_FILTER).getBlocks.asScala.map(_.getRowCount).sum

  /** Small-files compaction — the operational companion of streaming
    * ingest: micro-batch appends accumulate many small parquet files,
    * degrading scan parallelism and footer overhead at scale. Rewrites
    * the table into ~`targetFiles` files (per hive partition when the
    * table is partitioned) via the same temp-dir swap as [[overwrite]].
    * Contents are unchanged — compaction is pure layout maintenance. */
  def compact(table: String, targetFiles: Int = 1): Unit = {
    val df = read(table)
    val tmp = s"$root/.tmp_$table"
    val w = df.repartition(targetFiles).write.mode(SaveMode.Overwrite)
    if (partitioned(table)) w.partitionBy("website_id").parquet(tmp)
    else w.parquet(tmp)
    swapIn(tmp, table)
  }

  /** Settings bootstrap — version seed row (faexport_db.sql:116–124). */
  def initSettings(): Unit = {
    import spark.implicits._
    upsertDimension("settings",
      Seq(("version", "0.2.1")).toDF("setting_id", "setting_value"),
      Seq("setting_id"))
  }
}

object Storage {
  /** A memoised data schema and the footer file it was read from. */
  private final case class StoredSchema(file: Path, length: Long,
      schema: StructType) {
    def isCurrent(fs: FileSystem): Boolean =
      try fs.getFileStatus(file).getLen == length
      catch { case _: java.io.FileNotFoundException => false }
  }

  /** Names Spark's file listing skips as well (`_SUCCESS`, `.crc` side
    * files); `_key=value` stays a partition directory. */
  private def isHidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")

  /** Catalog-safe per-directory table name: a readable sanitized tail
    * plus an md5 of the EXACT path, so two distinct dirs can never
    * share a table (same scheme as the q83 bucketed store,
    * MergeScaleQ.bucketedTableName). */
  def tableNameFor(prefix: String, dir: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val readable = dir.replaceAll("[^A-Za-z0-9]", "_").takeRight(40)
    s"${prefix}_${readable}_$digest"
  }
}
