package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.CacheRegistry
import graft.operators.{Dedup, SparseVectors}

/** The hashed TF-IDF build as corpus statistics computed on their own
  * and joined back onto the token stream: df from a distinct
  * (doc, term) pass broadcast by term, the norm from a doc-keyed
  * aggregate joined back onto the bucket sums. Slow (the token stream
  * is derived once per use), but each statistic is plainly what it
  * says; [[SparseVectors]] must produce the same rows. */
object SparseVectorsReference {

  private def signOf(term: Column): Column =
    when((instr(lit("0123456789abcdef"), substring(md5(term), 4, 1)) - 1) % 2 === 0,
      lit(1.0)).otherwise(lit(-1.0))

  private def termStream(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      explode(Dedup.tokens(lower(col(textCol)))).as("term"))

  def corpusStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val df = termStream(docs, idCol, textCol)
      .select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    df.join(broadcast(n), pmod(col("df"), lit(1L)) === pmod(col("n_docs"), lit(1L)))
  }

  def hashedTfidfWithStats(docs: DataFrame, idCol: String, textCol: String,
      stats: DataFrame, topM: Int = 16): DataFrame = {
    val tf = termStream(docs, idCol, textCol)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val n = stats.agg(coalesce(max(col("n_docs")), lit(0L)).as("n_docs"))
    val w0 = tf
      .join(broadcast(n), pmod(col("tf"), lit(1L)) === pmod(col("n_docs"), lit(1L)))
      .join(broadcast(stats.select(col("term"), col("df"))), Seq("term"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .select(col("doc_id"), substring(md5(col("term")), 1, 3).as("bucket"),
        (signOf(col("term")) * col("tf") *
          log((col("n_docs") + 1).cast("double") / (col("df") + 1))).as("contrib"))
      .groupBy("doc_id", "bucket").agg(sum(col("contrib")).as("wraw"))
    val nrm = w0.groupBy("doc_id").agg(sqrt(sum(col("wraw") * col("wraw"))).as("nn"))
    val win = Window.partitionBy(col("doc_id"))
      .orderBy(abs(col("wgt")).desc, col("bucket").asc)
    w0.join(nrm, Seq("doc_id"))
      .filter(col("nn") > 0)
      .select(col("doc_id"), col("bucket"),
        (round(col("wraw") / col("nn"), 6) + lit(0.0)).as("wgt"))
      .withColumn("comp_rank", row_number().over(win).cast("long"))
      .filter(col("comp_rank") <= topM)
  }

  def hashedTfidf(docs: DataFrame, idCol: String, textCol: String,
      topM: Int = 16): DataFrame =
    hashedTfidfWithStats(docs, idCol, textCol, corpusStats(docs, idCol, textCol), topM)
}

/** The one-pass vector build ([[SparseVectors.hashedTfidf]],
  * [[SparseVectors.hashedTfidfWithStats]]) against
  * [[SparseVectorsReference]] on tie-rich text, and the plan shape
  * that makes it one pass. */
class SparseVectorsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Repeated terms, an empty text, a null text, a doc_id given twice,
    * a document whose two terms (w58, w85: md5 bucket 320, signs − and
    * +, both df 1) cancel to a zero norm, equal-weight terms inside one
    * document, exact twins, and `alpha` posted by 8 documents. */
  private val tieRich: Seq[(Long, String)] = Seq(
    1L -> "alpha beta gamma alpha alpha",
    2L -> "alpha beta gamma alpha alpha",
    3L -> "",
    4L -> null,
    5L -> "delta alpha",
    5L -> "epsilon delta delta",
    6L -> "w58 w85",
    7L -> "alpha zeta",
    8L -> "alpha eta theta",
    9L -> "alpha iota",
    10L -> "alpha beta",
    11L -> "gamma alpha beta")

  private def frame(rows: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (id, text) => Row(id, text) }: _*),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("hashedTfidf equals the joined-back reference row for row on tie-rich text") {
    // the zero-norm document's terms share a bucket with opposite signs
    val (w58, w85) = (md5hex("w58"), md5hex("w85"))
    assert(w58.take(3) === w85.take(3))
    assert(Integer.parseInt(w58.substring(3, 4), 16) % 2 !==
      Integer.parseInt(w85.substring(3, 4), 16) % 2)
    val docs = frame(tieRich)
    for (topM <- Seq(1, 2, 16)) {
      val got = rows(SparseVectors.hashedTfidf(docs, "doc_id", "text", topM))
      assert(got === rows(SparseVectorsReference.hashedTfidf(docs, "doc_id", "text", topM)),
        s"topM=$topM")
      val ids = got.map(_.drop(1).takeWhile(_ != ',').toLong).toSet
      // the empty text vectorizes (its one term is ""); the null text
      // and the zero-norm document do not
      assert(ids === Set(1L, 2L, 3L, 5L, 7L, 8L, 9L, 10L, 11L), s"topM=$topM")
    }
    assert(rows(SparseVectors.corpusStats(docs, "doc_id", "text")) ===
      rows(SparseVectorsReference.corpusStats(docs, "doc_id", "text")))
  }

  test("hashedTfidfWithStats equals the reference under stored, partial and empty stats") {
    val corpus = frame(tieRich.filter(_._1 % 2 == 1))
    // the batch holds terms the stats never saw (df falls back to 0)
    val batch = frame(tieRich.filter(_._1 % 2 == 0) ++ Seq(12L -> "kappa alpha kappa"))
    val stored = SparseVectors.corpusStats(corpus, "doc_id", "text")
    val empty = stored.limit(0)
    for (stats <- Seq(stored, empty); topM <- Seq(2, 16)) {
      assert(rows(SparseVectors.hashedTfidfWithStats(batch, "doc_id", "text", stats, topM)) ===
        rows(SparseVectorsReference.hashedTfidfWithStats(batch, "doc_id", "text", stats, topM)))
    }
  }

  test("sparseTopK over the one-pass build equals the reference pairing, capped and uncapped") {
    val docs = frame(tieRich)
    for (bucketCap <- Seq(2, 64)) {
      val got = CacheRegistry.withRetained {
        rows(SparseVectors.sparseTopK(
          SparseVectors.hashedTfidf(docs, "doc_id", "text"), k = 3, bucketCap = bucketCap))
      }
      val reference = SparseVectorsReference.hashedTfidf(docs, "doc_id", "text")
      assert(got.nonEmpty)
      assert(got === rows(SparseVectors.sparseTopKAgainst(reference, reference,
        k = 3, bucketCap = bucketCap)), s"bucketCap=$bucketCap")
    }
  }

  test("the vector build explodes its token stream once and scans docs at most twice") {
    val dir = Files.createTempDirectory("sparse-vectors").resolve("docs").toString
    frame(tieRich).write.parquet(dir)
    val docs = spark.read.parquet(dir)
    def assertOnePass(df: DataFrame, label: String): Unit = {
      df.collect()
      val ns = PlanShape.nodes(df)
      assert(ns.count(_.isInstanceOf[GenerateExec]) === 1, s"$label\n${PlanShape.render(df)}")
      assert(ns.count(_.isInstanceOf[FileSourceScanExec]) <= 2, s"$label\n${PlanShape.render(df)}")
    }
    assertOnePass(SparseVectors.hashedTfidf(docs, "doc_id", "text"), "hashedTfidf")
    // as sparseTopK retains it: the walk descends into the cached relation
    CacheRegistry.withRetained {
      assertOnePass(CacheRegistry.retain(SparseVectors.hashedTfidf(docs, "doc_id", "text")),
        "retained hashedTfidf")
    }
  }
}
