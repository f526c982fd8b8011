package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{PageStitch, Vocab}

/** Semantics of page-boundary stitching (maximal overlap extension,
  * key-collision handling) and vocabulary coverage (rank order, cut
  * determinism, coverage arithmetic) on handcrafted fixtures. */
class StitchVocabSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def toks(s: String): Seq[String] = s.split(" ").toSeq

  test("stitchPairs extends a k-token key match to the maximal overlap") {
    val s = spark
    import s.implicits._
    // pages 1→2 overlap by 5 tokens (o4..o8 … wait: o1..o5), found via
    // the 3-token key and extended to the full 5; page 3 is unrelated
    val pages = Seq(
      (1L, toks("a1 a2 a3 o1 o2 o3 o4 o5")),
      (2L, toks("o1 o2 o3 o4 o5 b1 b2")),
      (3L, toks("c1 c2 c3 c4 c5 c6"))
    ).toDF("page_id", "t")
    val out = PageStitch.stitchPairs(pages, "page_id", "t", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSet === Set((1L, 2L, 5L, 10L))) // 8 + 7 - 5
  }

  test("stitchPairs reports only the k-token overlap when extension fails") {
    val s = spark
    import s.implicits._
    // tails match on exactly 3 tokens but the 4th-from-last differs,
    // so extension must stop at o = 3
    val pages = Seq(
      (1L, toks("a1 a2 X o1 o2 o3")),
      (2L, toks("o1 o2 o3 b1 b2"))
    ).toDF("page_id", "t")
    val out = PageStitch.stitchPairs(pages, "page_id", "t", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSet === Set((1L, 2L, 3L, 8L)))
  }

  test("stitchPairs emits every head sharing a tail key, and no self-pairs") {
    val s = spark
    import s.implicits._
    val pages = Seq(
      (1L, toks("a1 o1 o2 o3")),
      (2L, toks("o1 o2 o3 b1")),
      (3L, toks("o1 o2 o3 c1")),
      // page whose head AND tail are the same key must not self-pair
      (4L, toks("o1 o2 o3"))
    ).toDF("page_id", "t")
    val out = PageStitch.stitchPairs(pages, "page_id", "t", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === Set((1L, 2L), (1L, 3L), (1L, 4L), (4L, 2L), (4L, 3L)))
  }

  test("healedDocs reconstructs the original document byte for byte") {
    val s = spark
    import s.implicits._
    // a 20-token doc split at h=10 with a 3-token carry-over
    val orig = (1 to 20).map(i => s"w$i")
    val pages = Seq((2L, orig.take(13)), (3L, orig.drop(10)))
      .toDF("page_id", "t")
    val out = PageStitch.healedDocs(pages, "page_id", "t", k = 3).collect()
    assert(out.length === 1)
    val r = out(0)
    assert(r.getAs[Long]("overlap_len") === 3L)
    assert(r.getAs[Long]("merged_len") === 20L)
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest(orig.mkString(" ").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(r.getAs[String]("merged_md5") === expected)
  }

  test("vocab coverage ranks by (count desc, token asc) and sums to 1") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      "b b b a a c",
      "a c d"
    ).toDF("text")
    val rows = Vocab.coverage(docs, "text", vocabSize = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // counts: a=3, b=3, c=2, d=1; total 9; V=3 cuts d
    assert(rows.toSeq === Seq(
      (1L, "a", 3L, 0.333333),
      (2L, "b", 3L, 0.666667),
      (3L, "c", 2L, 0.888889)))
  }

  test("vocab coverage cut is bounded by vocabSize, not data size") {
    val s = spark
    import s.implicits._
    val docs = (1 to 50).map(i => s"w$i common").toDF("text")
    val out = Vocab.coverage(docs, "text", vocabSize = 5)
    assert(out.count() === 5)
    // the limit must plan as a partial top-k, not a global sort
    val plan = PlanShape.render(out)
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject in:\n$plan")
  }
}
