package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Continuous plan audits: the physical-plan properties the engine
  * promises (filter pushdown to the scan, broadcast dimension joins,
  * rank-filter → WindowGroupLimit) asserted as tests so a plan
  * regression fails the build, not just the benchmark. */
class PlanAuditSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {
  import PlanAuditSpec.PlanNode

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

  private def executed(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  /** Parses the operator tree of a formatted plan: a node's parent is
    * the nearest line above it whose operator name starts further left. */
  private def parsePlan(formatted: String): PlanNode = {
    val lines = formatted.split("\n").toSeq
    val details = lines.zipWithIndex.collect {
      case (PlanAuditSpec.DetailHeader(id, _), i) =>
        id.toInt -> lines.drop(i + 1).takeWhile(_.nonEmpty).collect {
          case PlanAuditSpec.DetailLine(k, v) => k -> v
        }.toMap
    }.toMap
    val tree = lines.drop(1).takeWhile(_.nonEmpty).collect {
      case PlanAuditSpec.TreeLine(prefix, name, id) =>
        (prefix.length, name.stripPrefix("* ").trim, id.toInt)
    }
    val parent = new Array[Int](tree.length)
    val open = scala.collection.mutable.Stack[Int]()
    tree.indices.foreach { i =>
      while (open.nonEmpty && tree(open.top)._1 >= tree(i)._1) open.pop()
      parent(i) = if (open.isEmpty) -1 else open.top
      open.push(i)
    }
    def node(i: Int): PlanNode = PlanNode(tree(i)._2, tree(i)._3,
      tree.indices.filter(parent(_) == i).map(node),
      details.getOrElse(tree(i)._3, Map.empty))
    node(0)
  }

  /** Stacked exchanges: a shuffle inserted to meet a distribution
    * (ENSURE_REQUIREMENTS) whose nearest shuffle below is a
    * REPARTITION_BY_NUM on a subset of its keys. Rows hash-clustered on
    * a subset of the keys are already clustered on all of them, so the
    * upper exchange moves every row a second time for nothing
    * (plans/r18/q65_incremental_merge_after.txt does this to the heavy
    * merge structs). */
  private def stackedExchanges(plan: PlanNode): Seq[String] =
    for {
      upper <- plan.all
      ("ENSURE_REQUIREMENTS", upperKeys) <- upper.hashShuffle.toSeq
      lower <- upper.feedingExchanges
      ("REPARTITION_BY_NUM", lowerKeys) <- lower.hashShuffle.toSeq
      if lowerKeys.subsetOf(upperKeys)
    } yield s"Exchange (${upper.id}) ${upperKeys.mkString(",")} over " +
      s"Exchange (${lower.id}) ${lowerKeys.mkString(",")}"

  test("the stacked-exchange audit fires on the stacked q65 merge dump") {
    def dump(file: String) = parsePlan(new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"plans/r18/$file")), "UTF-8"))
    val found = stackedExchanges(dump("q65_incremental_merge_after.txt"))
    assert(found === Seq(
      "Exchange (41) w,site_submission_id over Exchange (39) w,site_submission_id"),
      found)
    // the dump before the width pin had no pinned exchange to stack on
    assert(stackedExchanges(dump("q65_incremental_merge_before.txt")).isEmpty)
  }

  test("q55/q65 inline merge: one pinned exchange feeds each merge aggregate, none stacked") {
    for (q <- Seq("q55_merge_scale", "q65_incremental_merge")) {
      val df = graft.queries.MergeScaleQ.queries(q)(spark, "/root/testdata/sf0.001")
      val text = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val plan = parsePlan(text)
      graft.engine.CacheRegistry.releaseAll()
      assert(stackedExchanges(plan).isEmpty, s"$q stacked exchanges:\n$text")
      // the merge aggregate: the final collect over the entity key
      val merges = plan.all.filter { n =>
        n.name.endsWith("Aggregate") &&
          n.details.get("Keys").exists(_.contains("site_submission_id")) &&
          n.details.get("Functions").exists(f =>
            f.contains("collect_list(") && !f.contains("partial_collect_list"))
      }
      assert(merges.nonEmpty, s"$q: no merge aggregate found:\n$text")
      merges.foreach { m =>
        assert(m.feedingExchanges.flatMap(_.hashShuffle) ===
          Seq("REPARTITION_BY_NUM" -> Set("site_submission_id")),
          s"$q: Aggregate (${m.id}) is not fed by exactly one pinned exchange:\n$text")
      }
      // q65's batch key set (a distinct of the entity keys alone) may
      // shuffle on them; nothing that carries snapshot columns may
      val entityKeyed = plan.all.filter(n => n.hashShuffle.exists {
        case (origin, keys) => origin == "ENSURE_REQUIREMENTS" &&
          keys("site_submission_id") && !n.input.subsetOf(keys)
      }).map(_.id)
      assert(entityKeyed.isEmpty,
        s"$q: ENSURE_REQUIREMENTS exchanges $entityKeyed on the entity key:\n$text")
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
    val plan = executed(q)
    assert(plan.contains("PushedFilters: ["), s"no pushdown:\n$plan")
    assert(plan.contains("EqualTo(website_id,w1)") && plan.contains("EqualTo(id,7)"),
      s"point-lookup predicates not pushed:\n$plan")
    assert(plan.contains("ReadSchema") && !plan.contains("payload,extra"),
      s"projection not pruned:\n$plan")
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
    val plan = executed(fact.join(dim, Seq("dim_id")))
    assert(plan.contains("BroadcastHashJoin"),
      s"dim join not auto-broadcast from size estimation:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected SMJ:\n$plan")
  }

  test("explicit broadcast hint is honored regardless of statistics") {
    val s = spark
    import s.implicits._
    val fact = (1L to 1000L).map(i => (i, i % 10)).toDF("k", "dim_id")
    val dim = (0L to 9L).map(i => (i, s"d$i")).toDF("dim_id", "name")
    val plan = executed(fact.join(broadcast(dim), Seq("dim_id")))
    assert(plan.contains("BroadcastHashJoin"), s"dim join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected SMJ:\n$plan")
  }

  test("rank-filter plans as WindowGroupLimit (per-group top-k, no full sort)") {
    val s = spark
    import s.implicits._
    val docs = (1L to 500L).map(i => (i, s"g${i % 5}")).toDF("doc_id", "grp")
    val w = Window.partitionBy($"grp")
      .orderBy(md5($"doc_id".cast("string")).asc, $"doc_id".asc)
    val q = docs.withColumn("rk", row_number().over(w)).filter($"rk" <= 3)
    val plan = executed(q)
    assert(plan.contains("WindowGroupLimit"),
      s"rank filter did not plan as a group limit:\n$plan")
  }

  test("q88 prefix sum: the single-partition exchange carries only bucket totals") {
    // the two-phase prefix sum's 100 TB promise: per-doc running sums
    // window over hash-partitioned range buckets; the ONE unpartitioned
    // (SinglePartition) stage is the per-bucket offset table — if the
    // full document frame ever flowed through it, this count changes
    val q = graft.queries.TextDocs.queries("q88_token_shards")(
      spark, "/root/testdata/sf0.001")
    val plan = executed(q)
    val singles = "Exchange SinglePartition".r.findAllIn(plan).size
    assert(singles == 1,
      s"expected exactly one SinglePartition exchange (bucket offsets), got $singles:\n$plan")
    assert(plan.contains("hashpartitioning(bkt"),
      s"per-doc window not partitioned by range bucket:\n$plan")
  }

  test("q104 page stitch: candidates come from a hash equi-join on the gram key") {
    // the overlap search must never degenerate into a nested-loop /
    // cartesian pairing of pages — ALL pairing flows through the
    // equi-join on the positioned k-gram key
    val q = graft.queries.CorpusOps.queries("q104_page_stitch")(
      spark, "/root/testdata/sf0.001")
    val plan = executed(q)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"page pairing fell off the key join:\n$plan")
    assert(plan.contains("[key"), s"no equi-join on the gram key:\n$plan")
  }

  test("q114 sparse similarity: candidates flow through the bucket equi-join") {
    // the vocab-sized df table must broadcast into the tf side, and
    // ALL pairing must ride the hash equi-join on the bucket key —
    // never a nested-loop / cartesian pairing of documents
    val q = graft.queries.CorpusOps.queries("q114_sparse_topk")(
      spark, "/root/testdata/sf0.001")
    val plan = executed(q)
    assert(plan.contains("BroadcastHashJoin"),
      s"df/n_docs dimension tables did not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"pairing fell off the bucket equi-join:\n$plan")
    assert(plan.contains("[bucket"), s"no equi-join on bucket:\n$plan")
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
    val widths = scala.collection.mutable.ArrayBuffer.empty[Int]
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
      p.outputPartitioning match {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
            if h.expressions.exists(_.toString.contains("qid")) =>
          widths += h.numPartitions
        case _ =>
      }
      p.children.foreach(walk)
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(qs.plan)
        case _ =>
      }
    }
    walk(q.queryExecution.executedPlan)
    assert(widths.nonEmpty, "no qid-partitioned operator found in the plan")
    assert(widths.forall(_ == width),
      s"qid partitioning widths $widths != configured $width (one-task explosion trap)")
  }

  test("q98 sequence packing: the single-partition exchange carries only bucket totals") {
    val q = graft.queries.CorpusOps.queries("q98_sequence_pack")(
      spark, "/root/testdata/sf0.001")
    val plan = executed(q)
    val singles = "Exchange SinglePartition".r.findAllIn(plan).size
    assert(singles == 1,
      s"expected exactly one SinglePartition exchange (bucket offsets), got $singles:\n$plan")
    assert(plan.contains("hashpartitioning(bkt"),
      s"per-doc token cursor window not partitioned by range bucket:\n$plan")
  }

  test("q96 training order: the single-partition window runs only over bucket counts") {
    // same 100 TB contract as q88, applied to global ORDERING: the
    // per-doc row_number windows hash-partition on the hex-prefix
    // range bucket; the ONE unpartitioned stage is the 256-row
    // per-bucket offset frame, which then broadcasts back
    val q = graft.queries.CorpusOps.queries("q96_training_order")(
      spark, "/root/testdata/sf0.001")
    val plan = executed(q)
    val singles = "Exchange SinglePartition".r.findAllIn(plan).size
    assert(singles == 1,
      s"expected exactly one SinglePartition exchange (bucket offsets), got $singles:\n$plan")
    assert(plan.contains("hashpartitioning(bkt"),
      s"per-doc ordering window not partitioned by range bucket:\n$plan")
    assert("BroadcastExchange".r.findAllIn(plan).nonEmpty,
      s"offset table did not broadcast back:\n$plan")
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
    val exactPlan = executed(exact)
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
    val mixedPlan = executed(mixed)
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
    val plan = executed(q)
    val scans = plan.split("\n").filter(_.contains("PushedFilters"))
    // robust to path rendering: both scans must push EqualTo(k,3)
    val pushed = scans.count(_.contains("EqualTo(k,3)"))
    assert(pushed === 2,
      s"key predicate should reach both scans' PushedFilters ($pushed):\n$plan")
    // and the answer is still the filtered as-of: k=3's left rows are
    // lid 3,13,…,193 at t=3·lid; the earliest k=3 right row sits at
    // t=15, so only lid=3 (t=9) precedes all candidates
    val rows = q.collect()
    assert(rows.length === 20)
    assert(rows.count(_.get(1) == null) === 1)
    assert(rows.filter(_.get(1) == null).map(_.getLong(0)).toSeq === Seq(3L))
  }
}

object PlanAuditSpec {
  /** One operator of a formatted plan (`explain("formatted")`, the
    * shape of the plans/ dumps): name, node id, and its `Keys`,
    * `Functions` and `Arguments` detail lines. */
  final case class PlanNode(name: String, id: Int,
      children: Seq[PlanNode], details: Map[String, String]) {
    /** (shuffle origin, hash keys without expression ids) of a hash
      * exchange. */
    def hashShuffle: Option[(String, Set[String])] =
      details.get("Arguments").collect {
        case HashShuffle(keys, _, origin) =>
          origin -> topLevel(keys).map(stripIds).toSet
      }
    /** The operator's input columns, without expression ids. */
    def input: Set[String] = details.get("Input")
      .map(i => topLevel(i.stripPrefix("[").stripSuffix("]")).map(stripIds).toSet)
      .getOrElse(Set.empty)
    /** The nearest exchanges below this operator. */
    def feedingExchanges: Seq[PlanNode] =
      children.flatMap(c => if (c.name.endsWith("Exchange")) Seq(c) else c.feedingExchanges)
    def all: Seq[PlanNode] = this +: children.flatMap(_.all)
  }

  /** `<tree prefix><operator> (<id>)[, <statistics>]` */
  private val TreeLine = """^([\s:|+\-]*)(.+?) \((\d+)\)(?:, .*)?$""".r
  /** `(<id>) <operator>` opening a node's detail block */
  private val DetailHeader = """^\((\d+)\) (.+)$""".r
  private val DetailLine = """^(\w+)(?: \[\d+\])?: (.*)$""".r
  private val HashShuffle = """^hashpartitioning\((.*), (\d+)\), (\w+).*$""".r

  private def stripIds(expr: String): String = expr.replaceAll("#\\d+L?", "")

  /** Splits `a, f(b, c), d` at its top-level commas. */
  private def topLevel(args: String): Seq[String] = {
    val parts = Seq.newBuilder[String]
    var depth = 0
    var start = 0
    args.indices.foreach { i =>
      args(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 =>
          parts += args.substring(start, i).trim; start = i + 1
        case _ =>
      }
    }
    (parts += args.substring(start).trim).result()
  }
}
