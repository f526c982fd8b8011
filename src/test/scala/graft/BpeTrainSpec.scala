package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.BpeTrain

/** BPE merge-learning semantics on fixtures where every pair count,
  * tie-break, and greedy-fold outcome is known by hand. */
class BpeTrainSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      .sortBy(_._1)

  test("learns merges in weighted-count order and applies them greedily") {
    val s = spark
    import s.implicits._
    // words: aaab ×2, ab ×1 → pair counts (a,a)=4, (a,b)=3; after
    // merging (a,a): aaab=[aa,a,b], so round 2 has (a,b)=3 > (aa,a)=2
    val docs = Seq("aaab ab", "aaab").toDF("text")
    val out = rows(BpeTrain.learnMerges(docs, "text", numMerges = 2))
    assert(out === Seq(
      (1L, "a", "a", 4L),
      (2L, "a", "b", 3L),
      // aaab → [aa, ab] (2 syms ×2), ab → [ab] (1 sym ×1)
      (3L, "<eos>", "<eos>", 5L)))
  }

  test("greedy left-to-right fold on an overlapping chain") {
    val s = spark
    import s.implicits._
    // aaaa: (a,a) counts every adjacent position (3), and the fold
    // must produce [aa, aa] — not [aaa, a] — so round 2's top pair
    // is (aa, aa)
    val docs = Seq("aaaa").toDF("text")
    val out = rows(BpeTrain.learnMerges(docs, "text", numMerges = 2))
    assert(out === Seq(
      (1L, "a", "a", 3L),
      (2L, "aa", "aa", 1L),
      (3L, "<eos>", "<eos>", 1L)))
  }

  test("segmentations expose the applied dictionary") {
    val s = spark
    import s.implicits._
    val docs = Seq("aaab ab", "aaab").toDF("text")
    val seg = BpeTrain.segmentations(docs, "text", numMerges = 2)
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    // after (a,a) then (a,b): aaab = [aa, ab], ab = [ab]
    assert(seg === Set(
      ("aaab", 2L, 2L, "aa|ab"),
      ("ab", 1L, 1L, "ab")))
  }

  test("ties break on (left, right) lexicographically") {
    val s = spark
    import s.implicits._
    // xy and ab both appear once → counts tie at 1; (a,b) < (x,y)
    val docs = Seq("xy ab").toDF("text")
    val out = rows(BpeTrain.learnMerges(docs, "text", numMerges = 1))
    assert(out === Seq(
      (1L, "a", "b", 1L),
      (2L, "<eos>", "<eos>", 3L))) // ab→[ab] (1) + xy→[x,y] (2)
  }

  test("driver-local learning equals the distributed loop (ties + greedy folds)") {
    val s = spark
    import s.implicits._
    // tie-rich corpus: repeated runs exercise the greedy fold's
    // just-merged-tail case, equal counts exercise the (left, right)
    // tie-break on both paths
    val docs = Seq("aaab ab xy xy aaaa", "baba abab aaab",
      "zz zz yy yy").toDF("text")
    def run(localMax: Long) = DriverLocalSpec.withMaxRows(s, localMax) {
      val m = rows(BpeTrain.learnMerges(docs, "text", numMerges = 4))
      val seg = BpeTrain.segmentations(docs, "text", numMerges = 4)
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getLong(2), r.getString(3))).toSet
      (m, seg)
    }
    graft.engine.CacheRegistry.withRetained {
      val (lm, ls) = run(localMax = Long.MaxValue) // driver-local
      val (dm, ds) = run(localMax = 0L)            // distributed
      assert(lm === dm, s"merge sequences diverge: local=$lm dist=$dm")
      assert(ls === ds)
    }
  }
}
