package graft

import java.nio.file.{Files, Path => JPath}
import java.util.Comparator

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.storage.{DurableStores, Storage}

/** The accept/compact protocol every delta-store family shares (sketch,
  * cosine, cluster, asof, merge), checked the same five ways per
  * family in an isolated store root:
  *
  *  1. a compact with nothing committed returns false;
  *  2. replaying a committed batch rewrites no partition file;
  *  3. a NEW id that sorts before a committed one fails fast;
  *  4. a partition with no commit marker stays out of the family's
  *     committed read;
  *  5. replaying a batch after compact folded it is a no-op.
  *
  * Plus the accept-time id check: an id that cannot name its own
  * partition directory (or the empty id) is refused before anything
  * is written. */
class StoreProtocolSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** One family's protocol surface: accept the fixed batch for an id,
    * compact, plant rows under an id with no marker, and ask whether
    * the family's committed read shows the planted rows. */
  private final class Family(val store: String, val deltaTables: Seq[String],
      val accept: (String, Option[Set[String]]) => Unit,
      val compact: () => Boolean,
      val plantUnmarked: String => Unit,
      val plantedVisible: () => Boolean)

  /** A crashed accept: `rows` written as batch `id`'s partition of
    * `table` by the writer accepts use, with no commit marker. */
  private def insertUnmarked(table: String, id: String, rows: DataFrame): Unit =
    DurableStores.writeBatchPartition(spark, Storage.tableNameFor(table, sf),
      id, rows)

  /** (table/file -> mtime) of every file under one batch partition of
    * the given delta tables; empty for partitions that do not exist. */
  private def partitionMtimes(tables: Seq[String], id: String): Map[String, Long] = {
    val root = DurableStores.root(spark)
    tables.flatMap { t =>
      val p = new Path(s"$root/${Storage.tableNameFor(t, sf)}/batch_id=$id")
      val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!f.exists(p)) Nil
      else f.listStatus(p).toSeq.map(x =>
        s"$t/${x.getPath.getName}" -> x.getModificationTime)
    }.toMap
  }

  private def withIsolatedRoot(body: JPath => Unit): Unit = {
    val s = spark
    val root = Files.createTempDirectory("graft_protocol_root")
    val prevRoot = s.conf.getOption("spark.graft.store.root")
    s.conf.set("spark.graft.store.root", root.toString)
    try body(root)
    finally {
      // drop the stores while the isolated root is current: DROP TABLE
      // also clears this session's cached relations, which would
      // otherwise keep reading the deleted root's files
      StoreAdmin.builders(s, sf).foreach { case (store, _) =>
        DurableStores.drop(s, sf, store)
      }
      prevRoot match {
        case Some(r) => s.conf.set("spark.graft.store.root", r)
        case None => s.conf.unset("spark.graft.store.root")
      }
      DurableStores.resetVerifiedForTest()
      graft.engine.CacheRegistry.releaseAll()
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(root)) {
        _.sorted(Comparator.reverseOrder[JPath]())
          .iterator().asScala.foreach(f => Files.deleteIfExists(f))
      }
    }
  }

  private val lineage = Some(Set("p_b1", "p_b2", "p_b3"))

  private def checkProtocol(f: Family): Unit = withIsolatedRoot { _ =>
    val s = spark
    assert(!f.compact(), s"${f.store}: nothing committed, compact must return false")

    f.accept("p_b2", lineage)
    assert(DurableStores.committedBatches(s, sf, f.store).contains("p_b2"))
    val committedAt = partitionMtimes(f.deltaTables, "p_b2")
    assert(committedAt.nonEmpty, s"${f.store}: accept wrote no partition")
    f.accept("p_b2", lineage)
    assert(partitionMtimes(f.deltaTables, "p_b2") === committedAt,
      s"${f.store}: a committed batch's replay rewrote partition files")

    val ex = intercept[IllegalArgumentException](f.accept("p_b1", lineage))
    assert(ex.getMessage.contains("lexicographically monotone"),
      s"${f.store}: unexpected error: ${ex.getMessage}")
    assert(!DurableStores.committedBatches(s, sf, f.store).contains("p_b1"))

    // planted into the LAST delta table of each family
    f.plantUnmarked("p_b3")
    assert(DurableStores.presentBatchPartitions(s,
        Storage.tableNameFor(f.deltaTables.last, sf)).contains("p_b3"),
      s"${f.store}: the planted partition is missing")
    assert(!f.plantedVisible(),
      s"${f.store}: a partition with no marker is in the committed read")

    assert(f.compact(), s"${f.store}: compact of a committed batch returned false")
    assert(DurableStores.foldedBatches(s, sf, f.store).contains("p_b2"))
    val foldedAt = partitionMtimes(f.deltaTables, "p_b2")
    f.accept("p_b2", lineage)
    assert(partitionMtimes(f.deltaTables, "p_b2") === foldedAt,
      s"${f.store}: replaying a folded batch wrote partition files")
    assert(!f.plantedVisible(),
      s"${f.store}: the unmarked partition became visible after compact")
    graft.engine.CacheRegistry.releaseAll()
  }

  private def docs(id: String): DataFrame = {
    val s = spark
    import s.implicits._
    val n = id.last.asDigit.toLong
    Seq((930000L + 2 * n, s"protocol spec document $id unique gallimaufry"),
      (930001L + 2 * n, s"protocol spec document $id unique gallimaufry"))
      .toDF("doc_id", "text")
  }

  test("sketch family: accept/compact protocol") {
    val s = spark
    import s.implicits._
    checkProtocol(new Family("sketch_accept",
      Seq("graft_sketchacc_bands", "graft_sketchacc_shingles"),
      (id, lin) => graft.queries.LlmOps.acceptSketchBatch(s, sf, id,
        docs(id), "doc_id", "text", lineage = lin),
      () => graft.queries.LlmOps.compactSketchStore(s, sf),
      id => insertUnmarked("graft_sketchacc_shingles", id,
        graft.operators.Dedup.corpusSketch(
          Seq((930100L, "an unmarked partial batch row")).toDF("doc_id", "text"),
          "doc_id", "text")
          .select(col("doc"), col("sh"))),
      () => graft.queries.LlmOps.sketchAcceptStore(s, sf)._1
        .filter(col("batch_id") === "p_b3").count() > 0L))
  }

  test("cosine family: accept/compact protocol") {
    val s = spark
    import s.implicits._
    def vecs(id: String): DataFrame = {
      val n = id.last.asDigit
      Seq((930200L + n,
        Array.tabulate(64)(i => math.sin(i * (n + 5) + 2).toFloat).toSeq))
        .toDF("vec_id", "embedding")
    }
    checkProtocol(new Family("cosine_accept", Seq("graft_cosacc_members"),
      (id, lin) => graft.queries.LlmOps.acceptCosineBatch(s, sf, id,
        vecs(id), lineage = lin),
      () => graft.queries.LlmOps.compactCosineStore(s, sf),
      id => insertUnmarked("graft_cosacc_members", id,
        graft.operators.EmbeddingDedup.assignToCells(
          graft.queries.LlmOps.cosineStore(s, sf)._1,
          vecs("p_b9"), "vec_id", "embedding")),
      () => graft.queries.LlmOps.cosineAcceptStore(s, sf)
        .filter(col("batch_id") === "p_b3").count() > 0L))
  }

  test("cluster family: accept/compact protocol") {
    val s = spark
    import s.implicits._
    checkProtocol(new Family("cluster_accept", Seq("graft_clusacc_labels"),
      (id, lin) => graft.queries.LlmOps.acceptClusterRelabel(s, sf, id,
        docs(id), "doc_id", "text", lineage = lin),
      () => graft.queries.LlmOps.compactClusterStore(s, sf),
      id => insertUnmarked("graft_clusacc_labels", id,
        Seq((930300L, 930300L)).toDF("node", "cluster")),
      () => graft.queries.LlmOps.effectiveClusterLabels(s, sf)
        .filter(col("node") === 930300L).count() > 0L))
  }

  test("asof family: accept/compact protocol") {
    val s = spark
    import s.implicits._
    def rows(id: String): DataFrame = {
      val n = id.last.asDigit.toLong
      Seq((990000077L, 990000600L + n, 100000L * n, 1.5 * n))
        .toDF("user_id", "event_id", "ts", "value")
    }
    checkProtocol(new Family("asof_accept", Seq("graft_asofacc"),
      (id, lin) => graft.queries.EventsMerge.acceptAsofDimBatch(s, sf, id,
        rows(id), lineage = lin),
      () => graft.queries.EventsMerge.compactAsofDimStore(s, sf),
      id => insertUnmarked("graft_asofacc", id,
        Seq((990000088L, 990000699L, 400000L, 7.0))
          .toDF("user_id", "event_id", "ts", "value")),
      () => graft.queries.EventsMerge.asofJoinEffective(s, sf,
          Seq((990000088L, 1L, 900000L)).toDF("user_id", "event_id", "ts"))
        .filter(col("asof_eff").isNotNull).count() > 0L))
  }

  test("merge family: accept/compact protocol") {
    val s = spark
    import graft.queries.MergeScaleQ
    // one snapshot of a NEW entity per id, schema borrowed from a real
    // row so the nested children types stay exact
    def snaps(entity: String, snapId: Long): DataFrame =
      MergeScaleQ.bucketedNested(s, sf)
        .orderBy("submission_snapshot_id").limit(1)
        .withColumn("submission_snapshot_id", lit(snapId))
        .withColumn("site_submission_id", lit(entity))
        .withColumn("scan_datetime", lit("2002-01-01").cast("timestamp"))
    checkProtocol(new Family("merge_log",
      Seq("graft_mrgacc_snaps", "graft_mrgacc_merged"),
      (id, lin) => MergeScaleQ.acceptMergeBatch(s, sf, id,
        snaps(s"p_entity_$id", 990100000L + id.last.asDigit), lineage = lin),
      () => MergeScaleQ.compactMergeStore(s, sf),
      id => insertUnmarked("graft_mrgacc_merged", id,
        graft.engine.Merge.mergeSubmissions(snaps("p_ghost", 990100099L))),
      () => MergeScaleQ.effectiveMerged(s, sf)
        .filter(col("site_submission_id") === "p_ghost").count() > 0L))
  }

  test("accept refuses the empty id and ids that cannot name their own partition directory") {
    val s = spark
    withIsolatedRoot { root =>
      val none = s.emptyDataFrame
      val verbs: Seq[(String, String => Unit)] = Seq(
        "sketch" -> (id => graft.queries.LlmOps.acceptSketchBatch(s, sf, id,
          none, "doc_id", "text")),
        "cluster" -> (id => graft.queries.LlmOps.acceptClusterRelabel(s, sf,
          id, none, "doc_id", "text")),
        "cosine" -> (id => graft.queries.LlmOps.acceptCosineBatch(s, sf, id,
          none)),
        "asof" -> (id => graft.queries.EventsMerge.acceptAsofDimBatch(s, sf,
          id, none)),
        "merge" -> (id => graft.queries.MergeScaleQ.acceptMergeBatch(s, sf,
          id, none)))
      for ((family, accept) <- verbs; bad <- Seq("", "day/1", "it's")) {
        val ex = intercept[IllegalArgumentException](accept(bad))
        assert(ex.getMessage.contains("unsafe batch id"),
          s"$family '$bad': unexpected error: ${ex.getMessage}")
      }
      import scala.jdk.CollectionConverters._
      val written = scala.util.Using.resource(Files.walk(root)) {
        _.iterator().asScala.filter(Files.isRegularFile(_)).toList
      }
      assert(written.isEmpty, s"a refused accept wrote files: $written")
    }
  }
}
