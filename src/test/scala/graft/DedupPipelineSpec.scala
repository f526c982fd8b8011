package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.CacheRegistry
import graft.operators.Dedup

/** The exact answers the sketch paths are checked against, by brute
  * force: every pair's exact Jaccard over [[Dedup.shingles]], with no
  * sketch and no candidate step. [[Dedup]] must produce the same rows
  * wherever its banding reaches every pair. */
object DedupReference {

  private def shingled(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc"), Dedup.shingles(col(textCol)).as("sh"))

  private def verified(pairs: DataFrame, aCol: String, bCol: String,
      threshold: Double): DataFrame =
    pairs.withColumn("jaccard", Dedup.jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col(aCol), col(bCol), col("jaccard"))

  /** Every within-corpus pair (doc_a < doc_b) at Jaccard >= threshold. */
  def allPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    val sh = shingled(docs, idCol, textCol)
    verified(sh.select(col("doc").as("doc_a"), col("sh").as("sh_a"))
        .join(sh.select(col("doc").as("doc_b"), col("sh").as("sh_b")),
          col("doc_a") < col("doc_b")),
      "doc_a", "doc_b", threshold)
  }

  /** Every (batch_doc, corpus_doc) pair at Jaccard >= threshold. */
  def batchVsCorpus(corpus: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, threshold: Double): DataFrame =
    verified(shingled(batch, idCol, textCol)
        .select(col("doc").as("batch_doc"), col("sh").as("sh_a"))
        .crossJoin(shingled(corpus, idCol, textCol)
          .select(col("doc").as("corpus_doc"), col("sh").as("sh_b"))),
      "batch_doc", "corpus_doc", threshold)
}

object DedupPipelineSpec {
  /** Documents whose pair decisions sit on every edge the pipeline
    * has: ten exact copies of one text (so every band bucket of
    * theirs holds ten docs), a pair at Jaccard exactly 0.8
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

  /** `pairs` originals of 30–80 tokens over a 3 000-word vocabulary,
    * each followed by a copy whose token edits (substitute, drop or
    * insert one token, each kept while the shingle Jaccard with the
    * original stays at or above 0.80) bring it below 0.85, then as
    * many unrelated docs. At J 0.80–0.85 a pair collides in some band
    * of 4 × 8 with probability 0.52–0.72 and of 8 × 4 with
    * 0.985–0.997. An original no edit walk lands in the window is
    * replaced by the next draw. */
  def planted(seed: Int, pairs: Int = 120): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    def draw(): String = s"v${rnd.nextInt(3000)}"
    def text(): Vector[String] = Vector.fill(30 + rnd.nextInt(51))(draw())
    def sh(t: Vector[String]): Set[String] = t.sliding(3).map(_.mkString(" ")).toSet
    def jac(a: Set[String], b: Set[String]): Double = {
      val i = (a intersect b).size
      i.toDouble / (a.size + b.size - i)
    }
    def edited(orig: Vector[String]): Option[Vector[String]] = {
      val o = sh(orig)
      Iterator.iterate((orig, 1.0, 0)) { case (cur, j, tries) =>
        val i = rnd.nextInt(cur.size)
        val kind = rnd.nextDouble()
        val cand =
          if (kind < 0.5) cur.updated(i, draw())
          else if (kind < 0.75 && cur.size > 10) cur.patch(i, Nil, 1)
          else cur.patch(i, Seq(draw()), 0)
        val cj = jac(o, sh(cand))
        if (cj >= 0.80) (cand, cj, tries + 1) else (cur, j, tries + 1)
      }.find { case (_, j, tries) => j < 0.85 || tries > 500 }
        .collect { case (t, j, _) if j < 0.85 => t }
    }
    val twins = Iterator.continually(text())
      .flatMap(o => edited(o).map(e => Seq(o, e))).take(pairs).flatten.toSeq
    val texts = twins ++ Seq.fill(pairs)(text())
    texts.zipWithIndex.map { case (t, i) => (i.toLong + 1, t.mkString(" ")) }
  }

  def frame(spark: SparkSession, rows: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (id, text) => Row(id, text) }: _*),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
}

/** The one sketch → candidates → verify pipeline in [[Dedup]] against
  * [[DedupReference]]: the same rows on tie-rich text, the recall of
  * 8 × 4 against 4 × 8 banding on pairs planted where 4 × 8 loses
  * them, and a pinned executed plan shape for `multiSketchPairs`. */
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
    val got = rows(Dedup.multiSketchPairs(docs, "doc_id", "text", 0.8))
    assert(got === rows(DedupReference.allPairs(docs, "doc_id", "text", 0.8)))
    // the pair at Jaccard exactly 0.8 is kept at threshold 0.8
    assert(got.contains(s"[${edgePair._1},${edgePair._2},0.8]"))
    assert(got.size > 45) // the ten copies alone pair 45 times
    // below the banding's design regime recall is probabilistic, but
    // every emitted pair is still an exact decision
    val loose = rows(Dedup.multiSketchPairs(docs, "doc_id", "text", 0.5))
    assert(loose.size > 45 && loose.toSet.subsetOf(
      rows(DedupReference.allPairs(docs, "doc_id", "text", 0.5)).toSet))
  }

  test("8x4 bands keep every 4x8 pair and reach the pairs planted at Jaccard 0.80-0.85 that 4x8 loses") {
    val docs = frame(spark, planted(seed = 1))
    val exact = rows(DedupReference.allPairs(docs, "doc_id", "text", 0.8)).toSet
    assert(exact.size === 120)
    val wide = rows(Dedup.multiSketchPairs(docs, "doc_id", "text", 0.8)).toSet
    val narrow = rows(Dedup.multiSketchPairs(docs, "doc_id", "text", 0.8, bands = 4)).toSet
    // every emitted pair is exact. A pair at J 0.8 escapes all 8 bands
    // of 4 rows with probability (1 - 0.8^4)^8 ≈ 0.015, and all 4 bands
    // of 8 rows with probability 0.48: at the bottom of the regime 8x4
    // may lose a pair or two of 120, 4x8 loses dozens
    assert(narrow.subsetOf(wide) && wide.subsetOf(exact))
    assert(exact.size - wide.size <= 2 && exact.size - narrow.size >= 16,
      s"8x4 found ${wide.size}, 4x8 found ${narrow.size} of ${exact.size}")
  }

  test("on tie-rich text every 4x8 band candidate is also an 8x4 candidate") {
    // an 8-row band j covers the slots of the 4-row bands 2j and 2j+1
    val sk = CacheRegistry.retain(Dedup.corpusSketch(frame(spark, tieRich), "doc_id", "text"))
    def candidates(bands: Int): Set[(Long, Long)] = {
      val b = Dedup.explodedBands(sk, 32, bands)
      b.select(col("band_id"), col("band_hash"), col("doc").as("a"))
        .join(b.select(col("band_id"), col("band_hash"), col("doc").as("b")),
          Seq("band_id", "band_hash"))
        .filter(col("a") < col("b"))
        .select("a", "b").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val narrow = candidates(4)
    val wide = candidates(8)
    CacheRegistry.releaseAll()
    assert(narrow.nonEmpty && narrow.subsetOf(wide), (narrow -- wide).toString)
  }

  test("the incremental probes equal the inline reference under both hint branches") {
    val s = spark
    import s.implicits._
    val docs = frame(spark, tieRich)
    val batch = docs.filter($"doc_id" % 3 === 0)
    val corpus = docs.filter($"doc_id" % 3 =!= 0)
    val expected = rows(DedupReference.batchVsCorpus(corpus, batch, "doc_id", "text", 0.8))
    assert(expected.size > 15)
    CacheRegistry.withRetained {
      val sk = CacheRegistry.retain(Dedup.corpusSketch(corpus, "doc_id", "text"))
      val (sh, bands) = (sk.select($"doc", $"sh"), Dedup.explodedBands(sk))
      for (maxDocs <- Seq(0L, 1000000L)) {
        assert(rows(Dedup.incrementalMinhashPairsFromStore(sh, bands, batch,
          "doc_id", "text", maxBroadcastBatchDocs = maxDocs)) === expected,
          s"fromStore maxBroadcastBatchDocs=$maxDocs")
        assert(rows(Dedup.incrementalMinhashPairs(sk, batch, "doc_id", "text",
          maxBroadcastBatchDocs = maxDocs)) === expected,
          s"sketch maxBroadcastBatchDocs=$maxDocs")
        val bsk = CacheRegistry.retain(Dedup.corpusSketch(batch, "doc_id", "text"))
        assert(rows(Dedup.incrementalPairsBetweenStores(sh, bands,
          bsk.select($"doc", $"sh"), Dedup.explodedBands(bsk),
          maxBroadcastBatchDocs = maxDocs)) === expected,
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
    // one band explode per side of the candidate self-join: it plans
    // as a broadcast join, which does not share the exploded subtree
    assert(shape(Dedup.multiSketchPairs(docs, "doc_id", "text", 0.8)) === ReferencePlan)
  }

  /** The executed plan of `multiSketchPairs` over a tie-rich parquet
    * scan at local[4]. */
  private val ReferencePlan = (PlanShape.Counts(exchanges = 2, broadcasts = 3,
    cartesian = 0, bnlj = 0, wscg = 12, scans = 4, scansNoPushdown = 4), 2)
}
