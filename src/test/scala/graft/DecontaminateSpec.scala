package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.BloomMightContain.bloomMightContain
import graft.operators.Decontaminate

class DecontaminateSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def words(p: String, n: Int): String =
    (1 to n).map(i => s"$p$i").mkString(" ")

  test("bloom_might_contain: no false negatives, bounded false positives, null-safe") {
    val s = spark
    import s.implicits._
    val inserted = (1L to 1000L).map(_ * 7)
    val bf = inserted.toDF("v").stat.bloomFilter("v", 1000, 0.01)
    val probed = ((1L to 1000L).map(_ * 7) ++ (1L to 1000L).map(_ * 7 + 3))
      .toDF("v")
      .select($"v", bloomMightContain($"v", bf).as("hit"),
        ($"v" % 7 === 0).as("inserted"))
      .collect()
    assert(probed.filter(_.getBoolean(2)).forall(_.getBoolean(1)),
      "bloom false negative — must be impossible")
    val fp = probed.filterNot(_.getBoolean(2)).count(_.getBoolean(1))
    assert(fp <= 50, s"false-positive rate implausibly high: $fp/1000 at fpp=0.01")
    val nullRow = Seq[Option[Long]](None).toDF("v")
      .select(bloomMightContain($"v", bf)).collect()(0)
    assert(nullRow.isNullAt(0), "null input must stay null")
  }

  test("flagOverlap equals the plain exact join (bloom sandwich is invisible)") {
    val s = spark
    import s.implicits._
    val shared = words("s", 9) // one full 8-gram plus one shifted window
    val corpus = Seq(
      (1L, s"$shared ${words("a", 4)}"), // overlaps eval
      (2L, words("b", 12)),              // no overlap
      (3L, shared)                       // overlaps eval, nothing else
    ).toDF("doc_id", "text")
    val evalDocs = Seq((100L, s"${words("e", 3)} $shared")).toDF("doc_id", "text")
    val got = graft.engine.CacheRegistry.withRetained {
      Decontaminate.flagOverlap(corpus, evalDocs, k = 8)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    // exact reference: distinct-gram join with no bloom anywhere
    val g = (df: org.apache.spark.sql.DataFrame) => df
      .select($"doc_id", explode(graft.operators.Dedup.shingles($"text", 8)).as("g"))
    val want = g(corpus).join(g(evalDocs).select($"g").distinct(), Seq("g"))
      .groupBy($"doc_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
    assert(got.contains(1L) && got.contains(3L) && !got.contains(2L))
    assert(graft.engine.CacheRegistry.liveCount == 0)
  }

  test("the bloom prune runs before any exchange (narrow scan→filter pipeline)") {
    val s = spark
    import s.implicits._
    val corpus = (1L to 50L).map(i => (i, words(s"w$i", 12))).toDF("doc_id", "text")
    val evalGrams = Seq(1L, 2L, 3L).toDF("gh")
    val bf = evalGrams.stat.bloomFilter("gh", 3, 0.01)
    // the pruned frame as flagOverlap builds it, cut before the join:
    // its whole plan must be scan → generate → filter, zero shuffles
    val pruned = corpus
      .select($"doc_id", explode(graft.operators.Dedup.shingles($"text", 8)).as("g"))
      .select($"doc_id", xxhash64($"g").as("gh"))
      .filter(bloomMightContain($"gh", bf))
    pruned.collect()
    val plan = PlanShape.render(pruned)
    assert(plan.contains("bloom_might_contain"), s"prune filter missing:\n$plan")
    assert(!plan.contains("Exchange"),
      s"prune pipeline must be narrow (no shuffle before the filter):\n$plan")
  }
}
