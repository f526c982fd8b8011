package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.CacheRegistry
import graft.operators.Dedup

/** Two sketch-dedup entry points written out in full, each on its
  * own: `multiSketchPairs` with its own inline sketch, its own band and
  * chunk explodes (chunk ids offset by 1000 so the two families share
  * one key column) and its own verification tail;
  * `incrementalMinhashPairsFromStore` with its own batch sketch,
  * candidate generation and verification tail. [[Dedup]] must produce
  * the same rows. */
object DedupReference {
  import Dedup.{bandKeys, hamming, jaccard, minhashSignature, shingles, simhash,
    sizeRatioAtLeast, spread}

  private def spreadForVerify(cands: DataFrame, key: String): DataFrame =
    graft.engine.Spread.spreadForExplosion(cands, col(key))

  private def pruneToProbeKeys(table: DataFrame, tableCol: String,
      probe: DataFrame, probeCol: String): DataFrame =
    graft.engine.ProbePrune.pruneToProbeKeys(table, tableCol, probe, probeCol)

  def multiSketchPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, k: Int = 32, bands: Int = 4,
      chunks: Int = 8): DataFrame = {
    val bits = 64 / chunks
    val base = CacheRegistry.retain(
      spread(docs.select(col(idCol), col(textCol)))
        .select(col(idCol).as("doc"),
          shingles(col(textCol)).as("sh"),
          simhash(col(textCol)).as("simhash"))
        .withColumn("sig", minhashSignature(col("sh"), k)))
    val banded = base.select(col("doc"),
      explode(bandKeys(col("sig"), k, bands)).as("band"))
      .select(col("doc"), col("band.band_id").as("kind_key"),
        col("band.band_hash").as("bucket"))
    val chunked = base.select(col("doc"), col("simhash"),
      explode(transform(sequence(lit(0), lit(chunks - 1)), c => struct(
        (c + 1000).as("kind_key"), // offset: never collides with band ids
        call_function("shiftright", col("simhash"), c * bits)
          .bitwiseAND(lit((1L << bits) - 1)).as("bucket")))).as("ch"))
      .select(col("doc"), col("simhash"),
        col("ch.kind_key").as("kind_key"), col("ch.bucket").as("bucket"))
    val mhCands = banded.select(col("kind_key"), col("bucket"), col("doc").as("doc_a"))
      .join(banded.select(col("kind_key"), col("bucket"), col("doc").as("doc_b")),
        Seq("kind_key", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
    val shCands = chunked.select(col("kind_key"), col("bucket"),
        col("doc").as("doc_a"), col("simhash").as("sim_a"))
      .join(chunked.select(col("kind_key"), col("bucket"),
          col("doc").as("doc_b"), col("simhash").as("sim_b")),
        Seq("kind_key", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(hamming(col("sim_a"), col("sim_b")) <= chunks - 1)
      .select("doc_a", "doc_b")
    spreadForVerify(mhCands.unionByName(shCands).distinct(), "doc_a")
      .join(base.select(col("doc").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(base.select(col("doc").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .filter(sizeRatioAtLeast(col("sh_a"), col("sh_b"), threshold))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  def incrementalMinhashPairsFromStore(
      corpusShingles: DataFrame, corpusBands: DataFrame,
      corpusChunks: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, k: Int = 32, bands: Int = 4,
      chunks: Int = 8, threshold: Double = 0.8,
      maxBroadcastBatchDocs: Long = 1000000L): DataFrame = {
    val batchSk = CacheRegistry.retain(
      spread(batch.select(col(idCol), col(textCol)))
        .select(col(idCol).as("doc"), shingles(col(textCol)).as("sh"),
          simhash(col(textCol)).as("simhash"))
        .withColumn("sig", minhashSignature(col("sh"), k)))
    val hintBatch: DataFrame => DataFrame =
      if (batchSk.count() <= maxBroadcastBatchDocs) broadcast else identity
    val batchBands = Dedup.explodedBands(batchSk, k, bands)
      .select(col("doc").as("batch_doc"), col("band_id"), col("band_hash"))
    val batchChunks = Dedup.explodedChunks(batchSk, chunks)
      .select(col("doc").as("batch_doc"),
        col("simhash").as("sim_a"), col("chunk_idx"), col("chunk_value"))
    val mhCands = pruneToProbeKeys(corpusBands, "band_hash",
        batchBands, "band_hash")
      .join(hintBatch(batchBands), Seq("band_id", "band_hash"))
      .select(col("batch_doc"), col("doc").as("corpus_doc"))
    val shCands = pruneToProbeKeys(corpusChunks, "chunk_value",
        batchChunks, "chunk_value")
      .join(hintBatch(batchChunks), Seq("chunk_idx", "chunk_value"))
      .filter(hamming(col("sim_a"), col("simhash")) <= chunks - 1)
      .select(col("batch_doc"), col("doc").as("corpus_doc"))
    val cands = CacheRegistry.retain(
      mhCands.unionByName(shCands).distinct())
    cands
      .join(batchSk.select(col("doc").as("batch_doc"), col("sh").as("sh_a")),
        Seq("batch_doc"))
      .join(pruneToProbeKeys(corpusShingles, "doc", cands, "corpus_doc")
          .select(col("doc").as("corpus_doc"), col("sh").as("sh_b")),
        Seq("corpus_doc"))
      .filter(sizeRatioAtLeast(col("sh_a"), col("sh_b"), threshold))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("batch_doc"), col("corpus_doc"), col("jaccard"))
  }
}

object DedupPipelineSpec {
  /** Documents whose pair decisions sit on every edge the pipeline
    * has: ten exact copies of one text (one simhash, so every chunk
    * bucket of theirs holds ten docs), a pair at Jaccard exactly 0.8
    * (8 shared of 10 distinct shingles), texts of one and two tokens
    * (one whole-text shingle each, twice the same), two empty texts, a
    * null text, planted near-dups at one to four substituted tokens,
    * and unrelated filler. */
  val tieRich: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(11)
    def words(n: Int): Vector[String] = Vector.fill(n)(s"w${rnd.nextInt(400)}")
    val copies = words(24).mkString(" ")
    val edge = words(11)
    val planted = (0 until 12).flatMap { i =>
      val orig = words(30)
      val edited = (0 until 1 + i % 4).foldLeft(orig)((t, _) =>
        t.updated(rnd.nextInt(t.size), s"x${rnd.nextInt(400)}"))
      Seq(orig.mkString(" "), edited.mkString(" "))
    }
    val texts: Seq[String] =
      Seq.fill(10)(copies) ++
        Seq(edge.mkString(" "), edge.updated(10, "edge").mkString(" ")) ++
        Seq("solo", "solo", "hello world", "hello world", "", "", null) ++
        planted ++
        Seq.fill(8)(words(20).mkString(" "))
    texts.zipWithIndex.map { case (t, i) => (i.toLong + 1, t) }
  }

  /** The doc ids of the Jaccard-0.8 pair in [[tieRich]]. */
  val edgePair: (Long, Long) = (11L, 12L)

  def frame(spark: SparkSession, rows: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (id, text) => Row(id, text) }: _*),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
}

/** The one sketch → candidates → verify pipeline in [[Dedup]] against
  * [[DedupReference]]: the same rows on tie-rich text, and the same
  * executed plan shape for `multiSketchPairs`. */
class DedupPipelineSpec extends AnyFunSuite {
  import DedupPipelineSpec._

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def rows(df: DataFrame): Seq[String] =
    CacheRegistry.withRetained(df.collect().map(_.toString).sorted.toSeq)

  test("multiSketchPairs equals the inline reference row for row on tie-rich text") {
    val docs = frame(spark, tieRich)
    val widest = Dedup.explodedChunks(Dedup.corpusSketch(docs, "doc_id", "text"), 8)
      .groupBy("chunk_idx", "chunk_value").count().agg(max("count")).head().getLong(0)
    assert(widest > 8, "a chunk bucket must hold more than 8 docs")
    for (threshold <- Seq(0.8, 0.5)) {
      val got = rows(Dedup.multiSketchPairs(docs, "doc_id", "text", threshold))
      assert(got === rows(DedupReference.multiSketchPairs(docs, "doc_id", "text", threshold)),
        s"threshold=$threshold")
      // the pair at Jaccard exactly 0.8 is kept at threshold 0.8
      assert(got.contains(s"[${edgePair._1},${edgePair._2},0.8]"), s"threshold=$threshold")
      assert(got.size > 45, s"threshold=$threshold") // the ten copies alone pair 45 times
    }
  }

  test("the incremental probes equal the inline reference under both hint branches") {
    val s = spark
    import s.implicits._
    val docs = frame(spark, tieRich)
    val batch = docs.filter($"doc_id" % 3 === 0)
    val corpus = docs.filter($"doc_id" % 3 =!= 0)
    CacheRegistry.withRetained {
      val sk = CacheRegistry.retain(Dedup.corpusSketch(corpus, "doc_id", "text"))
      val (sh, bands, chunks) =
        (sk.select($"doc", $"sh"), Dedup.explodedBands(sk, 32, 4), Dedup.explodedChunks(sk, 8))
      for (maxDocs <- Seq(0L, 1000000L)) {
        val expected = rows(DedupReference.incrementalMinhashPairsFromStore(
          sh, bands, chunks, batch, "doc_id", "text", maxBroadcastBatchDocs = maxDocs))
        assert(expected.size > 15, s"maxBroadcastBatchDocs=$maxDocs")
        assert(rows(Dedup.incrementalMinhashPairsFromStore(sh, bands, chunks, batch,
          "doc_id", "text", maxBroadcastBatchDocs = maxDocs)) === expected,
          s"fromStore maxBroadcastBatchDocs=$maxDocs")
        assert(rows(Dedup.incrementalMinhashPairs(sk, batch, "doc_id", "text",
          maxBroadcastBatchDocs = maxDocs)) === expected,
          s"sketch maxBroadcastBatchDocs=$maxDocs")
        val bsk = CacheRegistry.retain(Dedup.corpusSketch(batch, "doc_id", "text"))
        assert(rows(Dedup.incrementalPairsBetweenStores(sh, bands, chunks,
          bsk.select($"doc", $"sh"), Dedup.explodedBands(bsk, 32, 4),
          Dedup.explodedChunks(bsk, 8), maxBroadcastBatchDocs = maxDocs)) === expected,
          s"betweenStores maxBroadcastBatchDocs=$maxDocs")
      }
    }
  }

  test("multiSketchPairs over a parquet scan keeps the reference's executed plan shape") {
    val dir = Files.createTempDirectory("dedup-pipeline").resolve("docs").toString
    frame(spark, tieRich).write.parquet(dir)
    val docs = spark.read.parquet(dir)
    def shape(run: => DataFrame): (PlanShape.Counts, Int) =
      CacheRegistry.withRetained {
        val df = run
        df.collect()
        (PlanShape.counts(df), PlanShape.nodes(df).count(_.isInstanceOf[GenerateExec]))
      }
    val got = shape(Dedup.multiSketchPairs(docs, "doc_id", "text", 0.8))
    val expected = shape(DedupReference.multiSketchPairs(docs, "doc_id", "text", 0.8))
    assert(got === expected)
  }
}
