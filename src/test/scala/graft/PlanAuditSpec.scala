package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.aggregate.{CollectList, Partial}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, SinglePartition}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ENSURE_REQUIREMENTS, REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowGroupLimitExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Continuous plan audits: the physical-plan properties the engine
  * promises (filter pushdown to the scan, broadcast dimension joins,
  * rank-filter → WindowGroupLimit) asserted as tests so a plan
  * regression fails the build, not just the benchmark. */
class PlanAuditSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val tempDirs = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()

  private def tempDir(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    tempDirs += p
    p.toString
  }

  override def afterAll(): Unit = {
    tempDirs.foreach { p =>
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(p)) {
        _.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(f => Files.deleteIfExists(f))
      }
    }
    super.afterAll()
  }

  private def scans(ns: Seq[SparkPlan]) = ns.collect { case f: FileSourceScanExec => f }

  private def nestedLoop(p: SparkPlan) =
    p.isInstanceOf[CartesianProductExec] || p.isInstanceOf[BroadcastNestedLoopJoinExec]

  private def singlePartitionShuffles(ns: Seq[SparkPlan]) = ns.count {
    case e: ShuffleExchangeExec => e.outputPartitioning == SinglePartition
    case _ => false
  }

  test("stacked-exchange check flags round 18's two-key spread, not the one-key pin") {
    val s = spark
    import s.implicits._
    // round 18's inline merge (MergeScaleQ.spreadForMerge): a constant
    // "w" column, a pinned spread on (w, entity key), then the merge
    // aggregate grouped on both. The constant is re-aliased inside the
    // aggregate's keys, so the spread's partitioning cannot satisfy the
    // aggregate and a second exchange moves every row again
    // (a range, not a local Seq: a literal over local rows folds into
    // the rows themselves)
    val rows = s.range(40).select(concat(lit("e"), ($"id" % 7).cast("string"))
      .as("site_submission_id"), $"id".as("v")).withColumn("w", lit("w"))
    def merge(spread: DataFrame) = spread.groupBy("w", "site_submission_id")
      .agg(collect_list("v").as("vs"))
    val width = s.sessionState.conf.numShufflePartitions
    val twoKey = merge(rows.repartition(width, col("w"), col("site_submission_id")))
    val oneKey = merge(rows.repartition(width, col("site_submission_id")))
    for (stage <- Seq("planned", "executed")) {
      if (stage == "executed") { twoKey.collect(); oneKey.collect() }
      val found = PlanShape.stackedExchanges(twoKey)
      assert(found.size === 1, s"$stage two-key spread:\n${PlanShape.render(twoKey)}")
      assert(found.head.contains("ENSURE_REQUIREMENTS") &&
        found.head.contains("REPARTITION_BY_NUM"), found.head)
      assert(PlanShape.stackedExchanges(oneKey).isEmpty,
        s"$stage one-key pin:\n${PlanShape.render(oneKey)}")
    }
  }

  test("q55/q65 inline merge: one pinned exchange feeds each merge aggregate, none stacked") {
    for (q <- Seq("q55_merge_scale", "q65_incremental_merge")) {
      // the plan as built, before execution (AQE's starting plan)
      val df = graft.queries.MergeScaleQ.queries(q)(spark, "/root/testdata/sf0.001")
      val plan = PlanShape.nodes(df)
      val text = PlanShape.render(df)
      graft.engine.CacheRegistry.releaseAll()
      assert(PlanShape.stackedExchanges(df).isEmpty, s"$q stacked exchanges:\n$text")
      // the merge aggregate: the final collect over the entity key
      val merges = plan.collect {
        case a: BaseAggregateExec
            if a.groupingExpressions.exists(_.references.exists(_.name == "site_submission_id")) &&
              a.aggregateExpressions.exists(e =>
                e.mode != Partial && e.aggregateFunction.isInstanceOf[CollectList]) => a
      }
      assert(merges.nonEmpty, s"$q: no merge aggregate found:\n$text")
      merges.foreach { m =>
        val feeding = PlanShape.hashShuffles(PlanShape.feedingExchanges(m))
        assert(feeding.map(e => e.shuffleOrigin -> PlanShape.hashKeys(e)) ===
          Seq(REPARTITION_BY_NUM -> Set("site_submission_id")),
          s"$q: ${m.nodeName} is not fed by exactly one pinned exchange:\n$text")
      }
      // q65's batch key set (a distinct of the entity keys alone) may
      // shuffle on them; nothing that carries snapshot columns may
      val entityKeyed = PlanShape.hashShuffles(plan).filter { e =>
        val keys = PlanShape.hashKeys(e)
        e.shuffleOrigin == ENSURE_REQUIREMENTS && keys("site_submission_id") &&
          !e.child.output.map(_.name).toSet.subsetOf(keys)
      }
      assert(entityKeyed.isEmpty,
        s"$q: ENSURE_REQUIREMENTS exchanges on the entity key:\n$text")
    }
  }

  test("point-lookup filters reach the parquet scan (PushedFilters)") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft_planaudit")
    (1L to 100L).map(i => (i, s"w${i % 3}", i * 2))
      .toDF("id", "website_id", "payload")
      .write.parquet(s"$dir/t")
    val q = s.read.parquet(s"$dir/t")
      .filter($"website_id" === "w1" && $"id" === 7L)
      .select($"payload")
    q.collect()
    val scan = scans(PlanShape.nodes(q))
    assert(scan.size === 1, PlanShape.render(q))
    val pushed = scan.head.metadata("PushedFilters")
    assert(pushed.contains("EqualTo(website_id,w1)") && pushed.contains("EqualTo(id,7)"),
      s"point-lookup predicates not pushed: $pushed")
    assert(scan.head.metadata.get("ReadSchema").exists(!_.contains("payload,extra")),
      s"projection not pruned:\n${PlanShape.render(q)}")
  }

  test("small dimension joins broadcast AUTOMATICALLY (size estimation, no hint)") {
    val s = spark
    import s.implicits._
    // parquet-backed so the size comes from file statistics, the same
    // estimate the engine's real queries rely on — a hinted join would
    // only verify the hint is honored, not that planning still works
    val dir = tempDir("graft_broadcast")
    (1L to 1000L).map(i => (i, i % 10)).toDF("k", "dim_id")
      .write.parquet(s"$dir/fact")
    (0L to 9L).map(i => (i, s"d$i")).toDF("dim_id", "name")
      .write.parquet(s"$dir/dim")
    val fact = s.read.parquet(s"$dir/fact")
    val dim = s.read.parquet(s"$dir/dim")
    val q = fact.join(dim, Seq("dim_id"))
    q.collect()
    val plan = PlanShape.nodes(q)
    assert(plan.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      s"dim join not auto-broadcast from size estimation:\n${PlanShape.render(q)}")
    assert(!plan.exists(_.isInstanceOf[SortMergeJoinExec]),
      s"unexpected SMJ:\n${PlanShape.render(q)}")
  }

  test("explicit broadcast hint is honored regardless of statistics") {
    val s = spark
    import s.implicits._
    val fact = (1L to 1000L).map(i => (i, i % 10)).toDF("k", "dim_id")
    val dim = (0L to 9L).map(i => (i, s"d$i")).toDF("dim_id", "name")
    val q = fact.join(broadcast(dim), Seq("dim_id"))
    q.collect()
    val plan = PlanShape.nodes(q)
    assert(plan.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      s"dim join not broadcast:\n${PlanShape.render(q)}")
    assert(!plan.exists(_.isInstanceOf[SortMergeJoinExec]),
      s"unexpected SMJ:\n${PlanShape.render(q)}")
  }

  test("rank-filter plans as WindowGroupLimit (per-group top-k, no full sort)") {
    val s = spark
    import s.implicits._
    val docs = (1L to 500L).map(i => (i, s"g${i % 5}")).toDF("doc_id", "grp")
    val w = Window.partitionBy($"grp")
      .orderBy(md5($"doc_id".cast("string")).asc, $"doc_id".asc)
    val q = docs.withColumn("rk", row_number().over(w)).filter($"rk" <= 3)
    q.collect()
    assert(PlanShape.nodes(q).exists(_.isInstanceOf[WindowGroupLimitExec]),
      s"rank filter did not plan as a group limit:\n${PlanShape.render(q)}")
  }

  test("q88 prefix sum: the single-partition exchange carries only bucket totals") {
    // the two-phase prefix sum's 100 TB promise: per-doc running sums
    // window over hash-partitioned range buckets; the ONE unpartitioned
    // (SinglePartition) stage is the per-bucket offset table — if the
    // full document frame ever flowed through it, this count changes
    val q = graft.queries.TextDocs.queries("q88_token_shards")(
      spark, "/root/testdata/sf0.001")
    q.collect()
    val plan = PlanShape.nodes(q)
    val text = PlanShape.render(q)
    val singles = singlePartitionShuffles(plan)
    assert(singles == 1,
      s"expected exactly one SinglePartition exchange (bucket offsets), got $singles:\n$text")
    assert(text.contains("hashpartitioning(bkt"),
      s"per-doc window not partitioned by range bucket:\n$text")
  }

  test("q104 page stitch: candidates come from a hash equi-join on the gram key") {
    // the overlap search must never degenerate into a nested-loop /
    // cartesian pairing of pages — ALL pairing flows through the
    // equi-join on the positioned k-gram key
    val q = graft.queries.CorpusOps.queries("q104_page_stitch")(
      spark, "/root/testdata/sf0.001")
    q.collect()
    val plan = PlanShape.nodes(q)
    val text = PlanShape.render(q)
    assert(!plan.exists(nestedLoop), s"page pairing fell off the key join:\n$text")
    assert(text.contains("[key"), s"no equi-join on the gram key:\n$text")
  }

  test("q114 sparse similarity: candidates flow through the bucket equi-join") {
    // the vocab-sized df table must broadcast into the tf side, and
    // ALL pairing must ride the hash equi-join on the bucket key —
    // never a nested-loop / cartesian pairing of documents
    val q = graft.queries.CorpusOps.queries("q114_sparse_topk")(
      spark, "/root/testdata/sf0.001")
    q.collect()
    val plan = PlanShape.nodes(q)
    val text = PlanShape.render(q)
    assert(plan.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      s"df/n_docs dimension tables did not broadcast:\n$text")
    assert(!plan.exists(nestedLoop), s"pairing fell off the bucket equi-join:\n$text")
    assert(text.contains("[bucket"), s"no equi-join on bucket:\n$text")
  }

  test("spreadForExplosion pins the probe-side exchange to full task width (AQE must not coalesce it)") {
    val s = spark
    // representative site: q114's qid spread (Spread.spreadForExplosion)
    // — the pre-join probe is tiny, so without the pin AQE coalesces
    // the exchange to 1 partition and the candidate explosion runs in
    // a single task. The executed plan must keep ALL configured
    // shuffle partitions on the qid exchange.
    val q = graft.queries.CorpusOps.queries("q114_sparse_topk")(
      s, "/root/testdata/sf0.001")
    q.collect()
    graft.engine.CacheRegistry.releaseAll()
    // the spread's guarantee is the PROPERTY, not the node: either an
    // explicit qid exchange at full width, or (as here — the cached
    // components build already hash-partitions on doc_id at full
    // width, so the redundant shuffle is elided) an inherited full-
    // width qid partitioning on every explosion-side operator. The
    // failure mode this pins against is AQE coalescing that
    // partitioning to 1.
    val width = s.sessionState.conf.numShufflePartitions
    val widths = PlanShape.nodes(q).map(_.outputPartitioning).collect {
      case h: HashPartitioning if h.expressions.exists(_.toString.contains("qid")) =>
        h.numPartitions
    }
    assert(widths.nonEmpty, "no qid-partitioned operator found in the plan")
    assert(widths.forall(_ == width),
      s"qid partitioning widths $widths != configured $width (one-task explosion trap)")
  }

  test("q98 sequence packing: the single-partition exchange carries only bucket totals") {
    val q = graft.queries.CorpusOps.queries("q98_sequence_pack")(
      spark, "/root/testdata/sf0.001")
    q.collect()
    val plan = PlanShape.nodes(q)
    val text = PlanShape.render(q)
    val singles = singlePartitionShuffles(plan)
    assert(singles == 1,
      s"expected exactly one SinglePartition exchange (bucket offsets), got $singles:\n$text")
    assert(text.contains("hashpartitioning(bkt"),
      s"per-doc token cursor window not partitioned by range bucket:\n$text")
  }

  test("q96 training order: the single-partition window runs only over bucket counts") {
    // same 100 TB contract as q88, applied to global ORDERING: the
    // per-doc row_number windows hash-partition on the hex-prefix
    // range bucket; the ONE unpartitioned stage is the 256-row
    // per-bucket offset frame, which then broadcasts back
    val q = graft.queries.CorpusOps.queries("q96_training_order")(
      spark, "/root/testdata/sf0.001")
    q.collect()
    val plan = PlanShape.nodes(q)
    val text = PlanShape.render(q)
    val singles = singlePartitionShuffles(plan)
    assert(singles == 1,
      s"expected exactly one SinglePartition exchange (bucket offsets), got $singles:\n$text")
    assert(text.contains("hashpartitioning(bkt"),
      s"per-doc ordering window not partitioned by range bucket:\n$text")
    assert(plan.exists(_.isInstanceOf[BroadcastExchangeExec]),
      s"offset table did not broadcast back:\n$text")
  }

  test("q89 percentiles: exact on language-sized groups, approx above the group limit") {
    val s = spark
    import s.implicits._
    // 3 langs: "big" has 10 docs, the others 3 — mirrors a dominant
    // language outgrowing a reducer while the tail stays exact
    val docs = ((1 to 10).map(i => ("big", ("w " * i).trim)) ++
      (1 to 3).map(i => ("sm1", ("x " * (i * 2)).trim)) ++
      (1 to 3).map(i => ("sm2", ("y " * (i * 3)).trim)))
      .toDF("lang", "text")
    // all groups under the limit: single exact aggregation, no approx
    // expression anywhere in the plan
    val exact = graft.queries.TextDocs.percentilesByLang(
      docs, exactGroupLimit = 100L)
    exact.collect()
    val exactPlan = PlanShape.render(exact)
    assert(!exactPlan.contains("percentile_approx"),
      s"approx engaged below the group limit:\n$exactPlan")
    // "big" has even n=10: the exact median interpolates between the
    // middle elements (5.5 tokens) — a value no document has
    val exactBig = exact.filter($"lang" === "big").collect()(0)
    assert(exactBig.getAs[Double]("p50_tokens") === 5.5)
    // drop the limit below 10: "big" must switch to percentile_approx
    // (actual-element median, no interpolation), the small groups stay
    // exact and keep their interpolated values
    val mixed = graft.queries.TextDocs.percentilesByLang(
      docs, exactGroupLimit = 5L)
    mixed.collect()
    val mixedPlan = PlanShape.render(mixed)
    assert(mixedPlan.contains("percentile_approx"),
      s"approx did not engage above the group limit:\n$mixedPlan")
    val mixedRows = mixed.collect().map(r =>
      r.getAs[String]("lang") -> r.getAs[Double]("p50_tokens")).toMap
    assert(Set(5.0, 6.0).contains(mixedRows("big")),
      s"approx median must be an actual element, got ${mixedRows("big")}")
    val exactRows = exact.collect().map(r =>
      r.getAs[String]("lang") -> r.getAs[Double]("p50_tokens")).toMap
    assert(mixedRows("sm1") === exactRows("sm1"))
    assert(mixedRows("sm2") === exactRows("sm2"))
    assert(mixedRows.keySet === Set("big", "sm1", "sm2")) // no group lost
  }

  test("as-of node: a key predicate reaches BOTH parquet scans' PushedFilters") {
    val s = spark
    import s.implicits._
    // the end-to-end claim behind PushFilterThroughAsofJoin: Catalyst
    // stops at an opaque node, so without the rule a filtered as-of
    // over parquet scans both inputs in full — with it, the left
    // predicate lands in the left scan's PushedFilters and the
    // key-mirrored copy in the RIGHT scan's
    val dir = tempDir("graft_asof_pushdown")
    (0L until 200L).map(i => (i % 10, i, i * 3L))
      .toDF("k", "lid", "t").write.parquet(s"$dir/l")
    (0L until 100L).map(i => (i % 10, 1000L + i, i * 5L, s"v$i"))
      .toDF("k", "rid", "t", "v").write.parquet(s"$dir/r")
    val q = graft.operators.AsofJoin.asofJoinNative(
      s.read.parquet(s"$dir/l"), s.read.parquet(s"$dir/r"),
      Seq("k"), "t", "t", "rid", broadcast = Some(false))
      .filter($"k" === 3L)
      .selectExpr("lid", "asof.v AS v")
    q.collect()
    val pushed = scans(PlanShape.nodes(q)).count(_.metadata("PushedFilters").contains("EqualTo(k,3)"))
    assert(pushed === 2,
      s"key predicate should reach both scans' PushedFilters ($pushed):\n${PlanShape.render(q)}")
    // and the answer is still the filtered as-of: k=3's left rows are
    // lid 3,13,…,193 at t=3·lid; the earliest k=3 right row sits at
    // t=15, so only lid=3 (t=9) precedes all candidates
    val rows = q.collect()
    assert(rows.length === 20)
    assert(rows.count(_.get(1) == null) === 1)
    assert(rows.filter(_.get(1) == null).map(_.getLong(0)).toSeq === Seq(3L))
  }
}
