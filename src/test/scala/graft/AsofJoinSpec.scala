package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec

import graft.operators.AsofJoin
import graft.plans.{AsofJoinExec, BroadcastAsofJoinExec}

/** As-of join semantics: latest-prior pick, <=-inclusive match, tie
  * break by max tieBreak, left-outer null when no prior right row,
  * per-key isolation. */
class AsofJoinSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("asof join picks latest prior right row per key") {
    val s = spark
    import s.implicits._
    val left = Seq(
      (1L, 100L, 10L), // key 1, left id 100, t=10
      (1L, 101L, 25L),
      (2L, 200L, 10L), // key 2: no right rows at all
      (1L, 102L, 5L)   // before any right row -> null
    ).toDF("k", "lid", "t")
    val right = Seq(
      (1L, 900L, 10L, "a"), // exactly at t=10: matches lid 100 (<=)
      (1L, 901L, 10L, "b"), // tie on t: higher rid 901 wins
      (1L, 902L, 20L, "c")  // latest prior for lid 101
    ).toDF("k", "rid", "t", "v")
    val out = AsofJoin.asofJoin(left, right, Seq("k"), "t", "t", "rid")
      .selectExpr("k", "lid", "asof.rid AS rid", "asof.v AS v")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]), Option(r.getString(3))))
      .sortBy(r => (r._1, r._2)).toSeq
    assert(out === Seq(
      (1L, 100L, Some(901L), Some("b")), // <=-inclusive, tie -> max rid
      (1L, 101L, Some(902L), Some("c")), // latest prior
      (1L, 102L, None, None),            // nothing at or before t=5
      (2L, 200L, None, None)))           // key isolation
  }

  test("asof join plan has exactly one exchange (the key window)") {
    val s = spark
    import s.implicits._
    val left = Seq((1L, 10L, 5L)).toDF("k", "lid", "t")
    val right = Seq((1L, 90L, 3L)).toDF("k", "rid", "t")
    val q = AsofJoin.asofJoin(left, right, Seq("k"), "t", "t", "rid")
    q.collect()
    val exchanges = PlanShape.hashShuffles(PlanShape.nodes(q)).size
    assert(exchanges === 1, s"expected one shuffle, plan:\n${PlanShape.render(q)}")
  }

  test("asof join rejects inputs using its reserved internal column names") {
    val s = spark
    import s.implicits._
    val clean = Seq((1L, 10L, 5L)).toDF("k", "lid", "t")
    val dirty = Seq((1L, 10L, 5L)).toDF("k", "__t", "t")
    intercept[IllegalArgumentException] {
      AsofJoin.asofJoin(dirty, clean, Seq("k"), "t", "t", "lid")
    }
    intercept[IllegalArgumentException] {
      AsofJoin.asofJoin(clean.withColumnRenamed("lid", "asof"),
        clean, Seq("k"), "t", "t", "lid")
    }
  }

  test("asof join equals naive per-left argmax on randomized input") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    val left = Seq.tabulate(300)(i => (rnd.nextInt(8).toLong, i.toLong, rnd.nextInt(40).toLong))
    val right = Seq.tabulate(200)(i => (rnd.nextInt(8).toLong, 1000L + i, rnd.nextInt(40).toLong))
    val out = AsofJoin.asofJoin(
        left.toDF("k", "lid", "t"), right.toDF("k", "rid", "t"),
        Seq("k"), "t", "t", "rid")
      .selectExpr("k", "lid", "asof.rid AS rid")
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        Option(r.get(2)).map(_.asInstanceOf[Long]))).toMap
    // naive reference: max (t, rid) among right rows with t <= left.t
    left.foreach { case (k, lid, t) =>
      val expected = right.filter(r => r._1 == k && r._3 <= t)
        .sortBy(r => (r._3, r._2)).lastOption.map(_._2)
      assert(out((k, lid)) === expected, s"left ($k, $lid, $t)")
    }
  }

  test("asof join excludes null right times; null left time gets null asof") {
    val s = spark
    import s.implicits._
    val left = Seq(
      (1L, 100L, Some(10L)),
      (1L, 101L, None) // null left time: no right row can be <= it
    ).toDF("k", "lid", "t")
    val right = Seq(
      (1L, 900L, None, "null-time"), // excluded: rightTime <= leftTime is never true
      (1L, 901L, Some(5L), "real")
    ).toDF("k", "rid", "t", "v")
    val out = AsofJoin.asofJoin(left, right, Seq("k"), "t", "t", "rid")
      .selectExpr("lid", "asof.v AS v")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out(100L) === Some("real")) // NOT the null-time row carried forward
    assert(out(101L) === None)
  }

  test("skew-split asof equals unsplit on randomized data with a hot key") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    // 70% of rows on key 1 (the hot entity), rest spread over 7 keys;
    // deliberately includes time ties and left rows before any right
    def key() = if (rnd.nextInt(10) < 7) 1L else (2L + rnd.nextInt(7)).toLong
    val left = Seq.tabulate(400)(i => (key(), i.toLong, rnd.nextInt(60).toLong))
      .toDF("k", "lid", "t")
    val right = Seq.tabulate(300)(i => (key(), 1000L + i, rnd.nextInt(60).toLong, s"v$i"))
      .toDF("k", "rid", "t", "v")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("k", "lid", "asof.rid AS rid", "asof.v AS v")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]), Option(r.getString(3))))
      .sortBy(r => (r._1, r._2)).toSeq
    val unsplit = canon(AsofJoin.asofJoin(left, right, Seq("k"), "t", "t", "rid"))
    for (splits <- Seq(2, 3, 8)) {
      val split = canon(AsofJoin.asofJoinSplit(
        left, right, Seq("k"), "t", "t", "rid", numSplits = splits))
      assert(split === unsplit, s"numSplits=$splits")
    }
  }

  test("skew-split asof: null-time rows with a left row strictly inside bucket 0") {
    val s = spark
    import s.implicits._
    // left at the GLOBAL MIN time (bucket 0, far from the last bucket),
    // a null-time right row, and a right row at the global max: both
    // paths must return a null asof for the left row — the null-time
    // right row is excluded and the t=hi row is later. Guards against
    // null-time rows being bucketed where carried replicas exist.
    val left = Seq((1L, 100L, Some(0L)), (1L, 101L, None)).toDF("k", "lid", "t")
    val right = Seq(
      (1L, 900L, None),       // null-time: excluded by <= semantics
      (1L, 901L, Some(100L))  // after every left row
    ).toDF("k", "rid", "t")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("lid", "asof.rid AS rid")
      .collect().map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
      .sortBy(_._1).toSeq
    val unsplit = canon(AsofJoin.asofJoin(left, right, Seq("k"), "t", "t", "rid"))
    assert(unsplit === Seq(100L -> None, 101L -> None))
    for (splits <- Seq(2, 4, 8)) {
      assert(canon(AsofJoin.asofJoinSplit(
        left, right, Seq("k"), "t", "t", "rid", numSplits = splits))
        === unsplit, s"numSplits=$splits")
    }
  }

  test("skew-split asof equals unsplit with RANDOMIZED null times on both sides") {
    val s = spark
    import s.implicits._
    // nullable-time generalization of the hot-key property: 15% of
    // left times and 15% of right times are null, placement random, so
    // any future bucketing refactor is covered for arbitrary null
    // placements — not just the hand-picked boundary cases below
    val rnd = new scala.util.Random(13)
    def key() = if (rnd.nextInt(10) < 7) 1L else (2L + rnd.nextInt(7)).toLong
    def time(): Option[Long] =
      if (rnd.nextInt(100) < 15) None else Some(rnd.nextInt(60).toLong)
    val leftRows = Seq.tabulate(400)(i => (key(), i.toLong, time()))
    val rightRows = Seq.tabulate(300)(i => (key(), 1000L + i, time(), s"v$i"))
    val left = leftRows.toDF("k", "lid", "t")
    val right = rightRows.toDF("k", "rid", "t", "v")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("k", "lid", "asof.rid AS rid", "asof.v AS v")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]), Option(r.getString(3))))
      .sortBy(r => (r._1, r._2)).toSeq
    val unsplit = canon(AsofJoin.asofJoin(left, right, Seq("k"), "t", "t", "rid"))
    // sanity vs the naive argmax (null right times excluded, null left
    // times match nothing)
    val byLid = unsplit.map(r => r._2 -> r._3).toMap
    leftRows.foreach { case (k, lid, t) =>
      val expected = t.flatMap { lt =>
        rightRows.filter(r => r._1 == k && r._3.exists(_ <= lt))
          .sortBy(r => (r._3.get, r._2)).lastOption.map(_._2)
      }
      assert(byLid(lid) === expected, s"left ($k, $lid, $t)")
    }
    for (splits <- Seq(2, 4, 8)) {
      val split = canon(AsofJoin.asofJoinSplit(
        left, right, Seq("k"), "t", "t", "rid", numSplits = splits))
      assert(split === unsplit, s"numSplits=$splits")
    }
  }

  test("skew-split asof: null-time left rows spread across buckets, not pinned") {
    val s = spark
    import s.implicits._
    // regression for the bucket-0 concentration: a hot key whose left
    // side is ALL null timestamps must not land on a single (key,
    // bucket). The row-hash spread is deterministic, so just assert
    // >1 distinct bucket is used AND results still match unsplit.
    val left = (0L until 64L).map(i => (1L, i, None: Option[Long]))
      .toDF("k", "lid", "t")
    val right = Seq((1L, 900L, Some(0L)), (1L, 901L, Some(100L)))
      .toDF("k", "rid", "t")
    val q = AsofJoin.asofJoinSplit(left, right, Seq("k"), "t", "t", "rid", numSplits = 8)
    val out = q.selectExpr("lid", "asof.rid AS rid").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).sortBy(_._1).toSeq
    assert(out === (0L until 64L).map(_ -> None))
    // count distinct buckets the null-time left rows hash into by
    // replaying the operator's spread expression
    import org.apache.spark.sql.functions._
    val lSideCols = Seq("k", "lid", "t", "__t", "__side", "__tie", "__payload")
    val buckets = left
      .withColumn("__t", col("t")).withColumn("__side", lit(1))
      .withColumn("__tie", lit(null).cast("long"))
      .withColumn("__payload", lit(null).cast("struct<rid:bigint,t:bigint>"))
      .select(pmod(hash(lSideCols.map(col): _*), lit(8)).cast("int").as("b"))
      .distinct().count()
    assert(buckets > 1L,
      "null-time left rows should spread over multiple buckets")
  }

  test("skew-split asof: null times and degenerate axes match unsplit") {
    val s = spark
    import s.implicits._
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("lid", "asof.rid AS rid")
      .collect().map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
      .sortBy(_._1).toSeq
    // null left time + null right time mixed in
    val left = Seq((1L, 100L, Some(10L)), (1L, 101L, None), (2L, 102L, Some(3L)))
      .toDF("k", "lid", "t")
    val right = Seq((1L, 900L, None), (1L, 901L, Some(5L)), (2L, 902L, Some(9L)))
      .toDF("k", "rid", "t")
    assert(canon(AsofJoin.asofJoinSplit(left, right, Seq("k"), "t", "t", "rid"))
      === canon(AsofJoin.asofJoin(left, right, Seq("k"), "t", "t", "rid")))
    // constant time axis: falls back to the unsplit path (width = 0)
    val lconst = Seq((1L, 100L, 5L), (1L, 101L, 5L)).toDF("k", "lid", "t")
    val rconst = Seq((1L, 900L, 5L), (1L, 901L, 5L)).toDF("k", "rid", "t")
    assert(canon(AsofJoin.asofJoinSplit(lconst, rconst, Seq("k"), "t", "t", "rid"))
      === canon(AsofJoin.asofJoin(lconst, rconst, Seq("k"), "t", "t", "rid")))
    // empty right side
    val rempty = Seq.empty[(Long, Long, Long)].toDF("k", "rid", "t")
    assert(canon(AsofJoin.asofJoinSplit(left, rempty, Seq("k"), "t", "t", "rid"))
      === canon(AsofJoin.asofJoin(left, rempty, Seq("k"), "t", "t", "rid")))
  }

  test("skew-split asof spreads a hot key over multiple window partitions") {
    val s = spark
    import s.implicits._
    // every row on ONE key: the unsplit window serializes on one task,
    // the split plan must partition the window by (k, __b)
    val left = (0L until 200L).map(i => (1L, i, i)).toDF("k", "lid", "t")
    val right = (0L until 200L).map(i => (1L, 1000L + i, i)).toDF("k", "rid", "t")
    val q = AsofJoin.asofJoinSplit(left, right, Seq("k"), "t", "t", "rid", numSplits = 4)
    q.collect()
    val plan = PlanShape.render(q)
    assert(plan.contains("__b"),
      s"split plan should window on (key, __b):\n$plan")
  }

  test("native asof operator equals composed on randomized hot-key data") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(21)
    def key() = if (rnd.nextInt(10) < 7) 1L else (2L + rnd.nextInt(7)).toLong
    def time(): Option[Long] =
      if (rnd.nextInt(100) < 15) None else Some(rnd.nextInt(60).toLong)
    val left = Seq.tabulate(400)(i => (key(), i.toLong, time()))
      .toDF("k", "lid", "t")
    val right = Seq.tabulate(300)(i => (key(), 1000L + i, time(), s"v$i"))
      .toDF("k", "rid", "t", "v")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("k", "lid", "asof.rid AS rid", "asof.v AS v")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]), Option(r.getString(3))))
      .sortBy(r => (r._1, r._2)).toSeq
    assert(canon(AsofJoin.asofJoinNative(left, right, Seq("k"), "t", "t", "rid"))
      === canon(AsofJoin.asofJoin(left, right, Seq("k"), "t", "t", "rid")))
  }

  test("native asof operator: composite keys and self-join from one scan") {
    val s = spark
    import s.implicits._
    // both sides filtered views of the SAME DataFrame (shared exprIds
    // before the API's re-alias) and a two-column key
    val ev = Seq(
      (1L, "a", "click", 100L, 10L),
      (1L, "a", "buy", 101L, 8L),
      (1L, "a", "buy", 102L, 10L), // tie at t=10 with 101? no: different t
      (1L, "b", "click", 103L, 10L),
      (2L, "a", "click", 104L, 10L),
      (2L, "a", "buy", 105L, 11L)  // after the click: no match
    ).toDF("k1", "k2", "typ", "id", "t")
    val out = AsofJoin.asofJoinNative(
        ev.filter($"typ" === "click").select("k1", "k2", "id", "t"),
        ev.filter($"typ" === "buy").select("k1", "k2", "id", "t"),
        Seq("k1", "k2"), "t", "t", "id")
      .selectExpr("id AS click", "asof.id AS buy")
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).sortBy(_._1).toSeq
    assert(out === Seq(
      (100L, Some(102L)), // k=(1,a): latest buy at-or-before t=10
      (103L, None),       // k=(1,b): no buys
      (104L, None)))      // k=(2,a): only a LATER buy
  }

  test("native asof plan: AsofJoin exec, two per-side exchanges, no window") {
    val s = spark
    import s.implicits._
    val left = (0L until 50L).map(i => (i % 5, i, i * 3L)).toDF("k", "lid", "t")
    val right = (0L until 40L).map(i => (i % 5, 1000L + i, i * 4L)).toDF("k", "rid", "t")
    val q = AsofJoin.asofJoinNative(left, right, Seq("k"), "t", "t", "rid",
      broadcast = Some(false))
    q.collect()
    val nodes = PlanShape.nodes(q)
    val plan = PlanShape.render(q)
    assert(nodes.exists(_.isInstanceOf[AsofJoinExec]), s"native exec missing:\n$plan")
    assert(!nodes.exists(_.nodeName.contains("Window")), s"no WindowExec expected:\n$plan")
    assert(!nodes.exists(_.nodeName.contains("Union")), s"no union expected:\n$plan")
    val exchanges = PlanShape.hashShuffles(nodes).size
    assert(exchanges === 2,
      s"expected one exchange per side at its own width:\n$plan")
  }

  test("native asof: left filters push through the node (and mirror to right keys)") {
    val s = spark
    import s.implicits._
    val left = (0L until 50L).map(i => (i % 5, i, i * 3L)).toDF("k", "lid", "t")
    val right = (0L until 40L).map(i => (i % 5, 1000L + i, i * 4L)).toDF("k", "rid", "t")
    val q = AsofJoin.asofJoinNative(left, right, Seq("k"), "t", "t", "rid")
      .filter($"k" === 2L && $"lid" < 40L)
    // PushFilterThroughAsofJoin moves both conjuncts into the left
    // child and mirrors k = 2 onto the right keys: the optimized plan
    // has NO Filter above the node, both conjuncts on the left child,
    // and the mirrored key predicate on the right child
    val opt = q.queryExecution.optimizedPlan
    val node = opt.collect {
      case a: graft.plans.AsofJoinPlan => a }
    assert(node.size === 1, s"expected the custom node:\n$opt")
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    assert(!opt.exists(p => p.isInstanceOf[Filter] &&
        p.exists(_ eq node.head)),
      s"no Filter should remain above the node:\n$opt")
    val lf = node.head.left.collect { case f: Filter => f.condition.sql }
    val rf = node.head.right.collect { case f: Filter => f.condition.sql }
    assert(lf.exists(c => c.contains("= 2") && c.contains("< 40")),
      s"left child should carry both conjuncts:\n$opt")
    assert(rf.exists(_.contains("= 2")),
      s"right child should carry the mirrored key predicate:\n$opt")
    val rows = q.selectExpr("k", "lid", "asof.rid AS rid").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]))).sortBy(_._2).toSeq
    val expected = (0L until 50L).map(i => (i % 5, i, i * 3L))
      .filter(l => l._1 == 2L && l._2 < 40L)
      .map { case (k, lid, t) =>
        (k, lid, (0L until 40L).map(i => (i % 5, 1000L + i, i * 4L))
          .filter(r => r._1 == k && r._3 <= t)
          .sortBy(r => (r._3, r._2)).lastOption.map(_._2)) }
    assert(rows === expected)
  }

  test("native asof: payload and child columns prune to what the query reads") {
    val s = spark
    import s.implicits._
    // left has an extra column (x) the query never reads; the right
    // payload is (rid, t, v1, v2) of which the query reads only v2
    val left = (0L until 30L).map(i => (i % 3, i, i * 2L, s"x$i"))
      .toDF("k", "lid", "t", "x")
    val right = (0L until 20L).map(i => (i % 3, 900L + i, i * 3L, s"a$i", s"b$i"))
      .toDF("k", "rid", "t", "v1", "v2")
    val q = AsofJoin.asofJoinNative(left, right, Seq("k"), "t", "t", "rid")
      .selectExpr("k", "lid", "asof.v2 AS v2")
    val node = q.queryExecution.optimizedPlan.collect {
      case a: graft.plans.AsofJoinPlan => a }
    assert(node.size === 1)
    // payload pruned to the one extracted field; children narrowed so
    // the unused columns never reach the exchanges
    assert(node.head.payload.map(_.name) === Seq("v2"),
      s"payload should prune to v2:\n${q.queryExecution.optimizedPlan}")
    assert(!node.head.left.output.map(_.name).contains("x"),
      s"unused left column should prune:\n${q.queryExecution.optimizedPlan}")
    assert(!node.head.right.output.map(_.name).contains("v1"),
      s"unused right column should prune:\n${q.queryExecution.optimizedPlan}")
    // and the pruned plan still answers correctly (ordinal remap)
    val out = q.collect().map(r => (r.getLong(0), r.getLong(1),
      Option(r.getString(2)))).sortBy(r => (r._2)).toSeq
    val rightRows = (0L until 20L).map(i => (i % 3, 900L + i, i * 3L, s"a$i", s"b$i"))
    val expected = (0L until 30L).map(i => (i % 3, i, i * 2L)).map {
      case (k, lid, t) =>
        (k, lid, rightRows.filter(r => r._1 == k && r._3 <= t)
          .sortBy(r => (r._3, r._2)).lastOption.map(_._5))
    }
    assert(out === expected)
    // whole-struct reads are untouched (no pruning to mis-type)
    val wholeQ = AsofJoin.asofJoinNative(left, right, Seq("k"), "t", "t", "rid")
      .select($"lid", $"asof")
    val wholeNode = wholeQ.queryExecution.optimizedPlan.collect {
      case a: graft.plans.AsofJoinPlan => a }.head
    assert(wholeNode.payload.map(_.name) === Seq("rid", "t", "v1", "v2"))
    assert(wholeQ.selectExpr("asof.v1").collect().length === 30)
  }

  test("native asof: payload prunes through an intervening asof-struct Filter") {
    val s = spark
    import s.implicits._
    // the filter reads asof.v1 and the project reads asof.v2: neither
    // can push below the node (they reference the produced struct), so
    // round 12's rule left the FULL payload shuffling; the rule must
    // now prune the payload to exactly {v1, v2} with the Filter in
    // place, remapping ordinals in BOTH the project and the predicate
    val left = (0L until 30L).map(i => (i % 3, i, i * 2L, s"x$i"))
      .toDF("k", "lid", "t", "x")
    val right = (0L until 20L).map(i =>
        (i % 3, 900L + i, i * 3L, s"a$i", s"b$i", s"z$i"))
      .toDF("k", "rid", "t", "v1", "v2", "z")
    val q = AsofJoin.asofJoinNative(left, right, Seq("k"), "t", "t", "rid")
      .filter($"asof".getField("v1") =!= "a0")
      .selectExpr("k", "lid", "asof.v2 AS v2")
    val opt = q.queryExecution.optimizedPlan
    val node = opt.collect { case a: graft.plans.AsofJoinPlan => a }
    assert(node.size === 1)
    assert(node.head.payload.map(_.name) === Seq("v1", "v2"),
      s"payload should prune to the filter's and project's fields:\n$opt")
    assert(!node.head.left.output.map(_.name).contains("x"),
      s"unused left column should prune through the Filter:\n$opt")
    assert(!node.head.right.output.map(_.name).contains("z"),
      s"unread payload column should leave the right child:\n$opt")
    // the Filter survives above the pruned node (it still reads asof)
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    assert(opt.exists(_.isInstanceOf[LFilter]),
      s"the asof-struct predicate must stay above the node:\n$opt")
    // and answers are correct with remapped ordinals
    val rightRows = (0L until 20L).map(i =>
      (i % 3, 900L + i, i * 3L, s"a$i", s"b$i", s"z$i"))
    val expected = (0L until 30L).map(i => (i % 3, i, i * 2L))
      .flatMap { case (k, lid, t) =>
        rightRows.filter(r => r._1 == k && r._3 <= t)
          .sortBy(r => (r._3, r._2)).lastOption
          .filter(_._4 != "a0").map(w => (k, lid, w._5))
      }
    val out = q.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(r => r._2).toSeq
    assert(out === expected)
  }

  test("native asof: null right times excluded, null left time matches nothing") {
    val s = spark
    import s.implicits._
    val left = Seq((1L, 100L, Some(10L)), (1L, 101L, None)).toDF("k", "lid", "t")
    val right = Seq(
      (1L, 900L, None, "null-time"),
      (1L, 901L, Some(5L), "real")).toDF("k", "rid", "t", "v")
    val out = AsofJoin.asofJoinNative(left, right, Seq("k"), "t", "t", "rid")
      .selectExpr("lid", "asof.v AS v")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out(100L) === Some("real"))
    assert(out(101L) === None)
    // empty right side: all-null payloads, not a crash
    val rempty = Seq.empty[(Long, Long, Long, String)].toDF("k", "rid", "t", "v")
    val empt = AsofJoin.asofJoinNative(left, rempty, Seq("k"), "t", "t", "rid")
      .selectExpr("lid", "asof.v AS v")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(empt === Map(100L -> None, 101L -> None))
  }

  test("native asof result is independent of input partitioning") {
    val s = spark
    import s.implicits._
    val left = (0L until 50L).map(i => (i % 5, i, i * 3L)).toDF("k", "lid", "t")
    val right = (0L until 40L).map(i => (i % 5, 1000L + i, i * 4L)).toDF("k", "rid", "t")
    def run(lp: Int, rp: Int) =
      AsofJoin.asofJoinNative(left.repartition(lp), right.repartition(rp),
        Seq("k"), "t", "t", "rid")
        .selectExpr("k", "lid", "asof.rid AS rid")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          Option(r.get(2)).map(_.asInstanceOf[Long])))
        .sortBy(r => (r._1, r._2)).toSeq
    assert(run(1, 1) === run(7, 3))
  }

  test("native skew-split asof equals native and composed with randomized nulls and a hot key") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(37)
    def key() = if (rnd.nextInt(10) < 7) 1L else (2L + rnd.nextInt(7)).toLong
    def time(): Option[Long] =
      if (rnd.nextInt(100) < 15) None else Some(rnd.nextInt(60).toLong)
    val left = Seq.tabulate(400)(i => (key(), i.toLong, time()))
      .toDF("k", "lid", "t")
    val right = Seq.tabulate(300)(i => (key(), 1000L + i, time(), s"v$i"))
      .toDF("k", "rid", "t", "v")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("k", "lid", "asof.rid AS rid", "asof.v AS v")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]), Option(r.getString(3))))
      .sortBy(r => (r._1, r._2)).toSeq
    val composed = canon(AsofJoin.asofJoin(left, right, Seq("k"), "t", "t", "rid"))
    for (splits <- Seq(2, 3, 8)) {
      assert(canon(AsofJoin.asofJoinNative(
          left, right, Seq("k"), "t", "t", "rid", numSplits = Some(splits)))
        === composed, s"numSplits=$splits")
    }
    // degenerate axes fall back to the plain native path
    val lconst = Seq((1L, 100L, 5L), (1L, 101L, 5L)).toDF("k", "lid", "t")
    val rconst = Seq((1L, 900L, 5L), (1L, 901L, 5L)).toDF("k", "rid", "t")
    def canon2(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("lid", "asof.rid AS rid").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).sortBy(_._1).toSeq
    assert(canon2(AsofJoin.asofJoinNative(lconst, rconst, Seq("k"), "t", "t", "rid",
        numSplits = Some(8)))
      === canon2(AsofJoin.asofJoin(lconst, rconst, Seq("k"), "t", "t", "rid")))
  }

  test("native skew-split spreads one dominant key over multiple merge tasks") {
    val s = spark
    import s.implicits._
    // EVERY row on one key (>= 25% of both sides by construction): the
    // plain native exec concentrates the key on one task; the split
    // plan must process it in >= 2 of the merge exec's output
    // partitions while answering identically
    val left = (0L until 400L).map(i => (1L, i, i % 97)).toDF("k", "lid", "t")
    val right = (0L until 300L).map(i => (1L, 1000L + i, i % 89)).toDF("k", "rid", "t")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("k", "lid", "asof.rid AS rid")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long])))
      .sortBy(r => (r._1, r._2)).toSeq
    val plain = AsofJoin.asofJoinNative(left, right, Seq("k"), "t", "t", "rid",
      broadcast = Some(false))
    // numSplits = 8, not 4: murmur3 of (k=1, bucket 0..3) mod 4 is a
    // real 4-way collision (all land on partition 1) — with 8 buckets
    // the spread survives this suite's 4 shuffle partitions
    val split = AsofJoin.asofJoinNative(
      left, right, Seq("k"), "t", "t", "rid", numSplits = Some(8))
    assert(canon(split) === canon(plain))
    // AQE's partition coalescing folds this test's few-KB shuffles into
    // one partition regardless of keys — turn it off to observe the
    // KEY-level spread (at scale the hot key's bytes keep the
    // partitions apart on their own)
    import org.apache.spark.sql.functions.spark_partition_id
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = s.conf.get(coalesceKey)
    try {
      s.conf.set(coalesceKey, "false")
      def hotTasks(df: org.apache.spark.sql.DataFrame): Long = df
        .filter($"k" === 1L).select(spark_partition_id()).distinct().count()
      assert(hotTasks(plain) === 1L,
        "plain native path should concentrate the key (the gap being fixed)")
      assert(hotTasks(split) >= 2L,
        "split native path should spread the hot key over multiple tasks")
    } finally s.conf.set(coalesceKey, prev)
    // and the split plan still runs the NATIVE merge exec (no window
    // between the exchanges and the exec: the only Window is the
    // right side's batch-sized per-bucket last pick)
    split.collect()
    assert(PlanShape.nodes(split).exists(_.isInstanceOf[AsofJoinExec]),
      s"split path should ride the native exec:\n${PlanShape.render(split)}")
  }

  test("spark.graft.asof.skewSplits routes explicit merge-path joins through the split") {
    val s = spark
    import s.implicits._
    val left = (0L until 100L).map(i => (1L, i, i % 37)).toDF("k", "lid", "t")
    val right = (0L until 80L).map(i => (1L, 1000L + i, i % 31)).toDF("k", "rid", "t")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("lid", "asof.rid AS rid").collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
      .sortBy(_._1).toSeq
    val baseline = canon(AsofJoin.asofJoinNative(
      left, right, Seq("k"), "t", "t", "rid", broadcast = Some(false)))
    try {
      s.conf.set("spark.graft.asof.skewSplits", "8")
      s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val routed = AsofJoin.asofJoinNative(
        left, right, Seq("k"), "t", "t", "rid", broadcast = Some(false))
      assert(canon(routed) === baseline)
      import org.apache.spark.sql.functions.spark_partition_id
      assert(routed.filter($"k" === 1L).select(spark_partition_id())
        .distinct().count() >= 2L, "conf routing should spread the hot key")
      // the broadcast path is exempt (no skew by construction)
      val bcast = AsofJoin.asofJoinNative(
        left, right, Seq("k"), "t", "t", "rid", broadcast = Some(true))
      bcast.collect()
      assert(PlanShape.nodes(bcast).exists(_.isInstanceOf[BroadcastAsofJoinExec]),
        PlanShape.render(bcast))
    } finally {
      s.conf.unset("spark.graft.asof.skewSplits")
      s.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    }
  }

  test("spark.graft.asof.skewSplits protects the stats-driven (broadcast=None) path too") {
    // round 13's routing hole: the conf only rerouted broadcast =
    // Some(false) calls, so the DEFAULT call shape — broadcast = None
    // with a fact-sized right — planned the plain merge exec with no
    // split: the deployment knob silently did nothing for the joins
    // most callers write. The routing now reads the same stats +
    // threshold contract the strategy plans by: a dimension-sized
    // right still broadcasts (no skew by construction), a fact-sized
    // right takes the split.
    val s = spark
    import s.implicits._
    val left = (0L until 100L).map(i => (1L, i, i % 37)).toDF("k", "lid", "t")
    val right = (0L until 80L).map(i => (1L, 1000L + i, i % 31)).toDF("k", "rid", "t")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("lid", "asof.rid AS rid").collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
      .sortBy(_._1).toSeq
    val baseline = canon(AsofJoin.asofJoinNative(
      left, right, Seq("k"), "t", "t", "rid", broadcast = Some(false)))
    val prevThreshold = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      s.conf.set("spark.graft.asof.skewSplits", "8")
      s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // dimension-sized right (default threshold): the stats decision
      // is broadcast — the knob must NOT reroute, the fact side is
      // never shuffled there
      val small = AsofJoin.asofJoinNative(
        left, right, Seq("k"), "t", "t", "rid", broadcast = None)
      small.collect()
      assert(PlanShape.nodes(small).exists(_.isInstanceOf[BroadcastAsofJoinExec]),
        "a broadcastable right must keep the broadcast exec under the conf")
      // fact-sized right (threshold off): the stats decision is the
      // merge exec — exactly the skew-prone default shape; the knob
      // must reroute it through the split
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val routed = AsofJoin.asofJoinNative(
        left, right, Seq("k"), "t", "t", "rid", broadcast = None)
      assert(canon(routed) === baseline)
      import org.apache.spark.sql.functions.spark_partition_id
      assert(routed.filter($"k" === 1L).select(spark_partition_id())
        .distinct().count() >= 2L,
        "the stats-driven merge path must spread the hot key under the conf")
    } finally {
      s.conf.unset("spark.graft.asof.skewSplits")
      s.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("caller-supplied split bounds skip the min/max job; answers unchanged") {
    val s = spark
    import s.implicits._
    val left = (0L until 120L).map(i => (i % 4, i, i % 53)).toDF("k", "lid", "t")
    val right = (0L until 90L).map(i => (i % 4, 1000L + i, i % 47)).toDF("k", "rid", "t")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("lid", "asof.rid AS rid").collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
      .sortBy(_._1).toSeq
    val computedDf = AsofJoin.asofJoinNative(
      left, right, Seq("k"), "t", "t", "rid", numSplits = Some(4))
    val computed = canon(computedDf)
    // building the DataFrame with supplied bounds must launch ZERO
    // jobs (the min/max `.head()` is the job the overload removes —
    // stored/bucketed dimensions carry their range in a manifest)
    val (supplied, build) = graft.metrics.JobMetrics.during(s) {
      AsofJoin.asofJoinNative(
        left, right, Seq("k"), "t", "t", "rid", numSplits = Some(4),
        splitBounds = Some((0.0, 52.0)))
    }
    assert(build.jobs.isEmpty,
      "supplied bounds must not launch the bounds job at build time")
    assert(canon(supplied) === computed,
      "supplied bounds must not change answers")
    // a CONSERVATIVE range is also safe: bucketOf clamps out-of-range
    // times into the edge buckets — spread changes, answers don't
    val clamped = canon(AsofJoin.asofJoinNative(
      left, right, Seq("k"), "t", "t", "rid", numSplits = Some(4),
      splitBounds = Some((10.0, 30.0))))
    assert(clamped === computed)
    // supplied bounds plan no bounds subquery; computed bounds plan
    // one (the min/max aggregate rides the plan as a scalar subquery,
    // its several references canonically equal)
    def boundsSubqueries(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.flatMap(_.expressions.flatMap(_.collect {
        case sq: org.apache.spark.sql.catalyst.expressions.ScalarSubquery =>
          sq.plan.canonicalized
      })).distinct.size
    assert(boundsSubqueries(supplied) === 0,
      "supplied bounds must not plan the bounds subquery")
    assert(boundsSubqueries(computedDf) === 1,
      "computed bounds plan one bounds subquery")
  }

  test("tolerance asof keeps payload pruning: the bound never reads the asof struct") {
    // round 13's tolerance was a whole-struct rebuild above the node —
    // PruneAsofPayload saw a whole-struct reference and the FULL
    // payload shuffled even when the query read two fields. The bound
    // now rides the kernel as one comparison on the held candidate's
    // own time (a precomputed leftTime - maxStale left column), so the
    // prune fires exactly as it does for the unbounded join.
    val s = spark
    import s.implicits._
    val left = (0L until 40L).map(i => (i % 3, i, i * 2L, s"x$i"))
      .toDF("k", "lid", "t", "x")
    val right = (0L until 30L).map(i =>
        (i % 3, 900L + i, i * 3L, s"a$i", s"b$i", s"c$i", s"d$i"))
      .toDF("k", "rid", "t", "v1", "v2", "v3", "v4")
    val bound = 11L
    for (impl <- Seq("native", "broadcast")) {
      val q = AsofJoin.asofJoinNative(left, right, Seq("k"), "t", "t",
        "rid", broadcast = Some(impl == "broadcast"),
        maxStale = Some(org.apache.spark.sql.functions.lit(bound)))
        .selectExpr("k", "lid", "asof.v2 AS v2", "asof.v4 AS v4")
      val node = q.queryExecution.optimizedPlan.collect {
        case a: graft.plans.AsofJoinPlan => a }
      assert(node.size === 1, impl)
      assert(node.head.payload.map(_.name) === Seq("v2", "v4"),
        s"[$impl] payload must prune to the two read fields:\n" +
          q.queryExecution.optimizedPlan)
      assert(node.head.toleranceBound.isDefined, impl)
      assert(node.head.left.output.exists(
        _.exprId == node.head.toleranceBound.get.exprId),
        s"[$impl] the bound column must survive the left-child prune")
      assert(!node.head.left.output.map(_.name).contains("x"),
        s"[$impl] unused left columns still prune under tolerance")
      // answers == naive bounded argmax
      val rightRows = (0L until 30L).map(i =>
        (i % 3, 900L + i, i * 3L, s"b$i", s"d$i"))
      val expected = (0L until 40L).map(i => (i % 3, i, i * 2L)).map {
        case (k, lid, t) =>
          val w = rightRows.filter(r => r._1 == k && r._3 <= t)
            .sortBy(r => (r._3, r._2)).lastOption
            .filter(_._3 >= t - bound)
          (k, lid, w.map(_._4), w.map(_._5))
      }
      val out = q.collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.getString(2)), Option(r.getString(3))))
        .sortBy(_._2).toSeq
      assert(out === expected, impl)
    }
  }

  test("null KEYS group together identically on every path (window semantics, not SQL join)") {
    val s = spark
    import s.implicits._
    // a null key is a real group in the composed window
    // (partitionBy(null) collects the null-key rows), so the operator
    // family's contract is "null keys match each other" — unlike a SQL
    // equi-join's NULL = NULL. All four paths must agree with the
    // composed semantics; oracle-gated queries never carry null keys
    // (their DuckDB twins use SQL equality), so this pin is the
    // contract's only guard.
    val left = Seq(
      (Option(1L), 100L, 10L), (None, 101L, 10L), (None, 102L, 3L))
      .toDF("k", "lid", "t")
    val right = Seq(
      (Option(1L), 900L, 5L, "real-key"),
      (None: Option[Long], 901L, 5L, "null-key"),
      (None: Option[Long], 902L, 8L, "null-key-later"))
      .toDF("k", "rid", "t", "v")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("lid", "asof.v AS v")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1)))
      .sortBy(_._1).toSeq
    val composed = canon(AsofJoin.asofJoin(left, right, Seq("k"), "t", "t", "rid"))
    assert(composed === Seq(
      100L -> Some("real-key"),
      101L -> Some("null-key-later"), // null left key matches null right keys
      102L -> None))                  // t=3 precedes both null-key rows
    assert(canon(AsofJoin.asofJoinNative(
      left, right, Seq("k"), "t", "t", "rid", broadcast = Some(false)))
      === composed, "merge exec")
    assert(canon(AsofJoin.asofJoinNative(
      left, right, Seq("k"), "t", "t", "rid", broadcast = Some(true)))
      === composed, "broadcast exec")
    assert(canon(AsofJoin.asofJoinNative(
      left, right, Seq("k"), "t", "t", "rid", numSplits = Some(8)))
      === composed, "split")
  }

  test("tolerance asof equals the bounded argmax across all four implementations") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(41)
    def key() = if (rnd.nextInt(10) < 7) 1L else (2L + rnd.nextInt(7)).toLong
    def time(): Option[Long] =
      if (rnd.nextInt(100) < 15) None else Some(rnd.nextInt(60).toLong)
    val leftRows = Seq.tabulate(400)(i => (key(), i.toLong, time()))
    val rightRows = Seq.tabulate(300)(i => (key(), 1000L + i, time(), s"v$i"))
    val left = leftRows.toDF("k", "lid", "t")
    val right = rightRows.toDF("k", "rid", "t", "v")
    val bound = 7L
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("lid", "asof.rid AS rid", "asof.v AS v")
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Long]), Option(r.getString(2))))
      .sortBy(_._1).toSeq
    // naive reference: max (t, rid) among right rows with
    // lt - bound <= rt <= lt
    val expected = leftRows.map { case (k, lid, t) =>
      val w = t.flatMap { lt =>
        rightRows.filter(r =>
            r._1 == k && r._3.exists(rt => rt <= lt && rt >= lt - bound))
          .sortBy(r => (r._3.get, r._2)).lastOption
      }
      (lid, w.map(_._2), w.map(_._4))
    }.sortBy(_._1)
    import org.apache.spark.sql.functions.{col, lit, when}
    // the reference: the composed join with stale winners nulled as a
    // post-condition (the bounded-argmax argument on asofJoinNative's
    // maxStale); the native paths evaluate the bound in the kernel
    val composed = AsofJoin.asofJoin(left, right, Seq("k"), "t", "t", "rid")
      .withColumn("asof",
        when(col("asof").getField("t") >= col("t") - lit(bound), col("asof")))
    assert(canon(composed) === expected, "impl=composed")
    for ((impl, bc, splits) <- Seq(("native", Some(false), None),
        ("broadcast", Some(true), None), ("split", None, Some(8)))) {
      assert(canon(AsofJoin.asofJoinNative(
          left, right, Seq("k"), "t", "t", "rid", broadcast = bc,
          maxStale = Some(lit(bound)), numSplits = splits))
        === expected, s"impl=$impl")
    }
  }

  test("merge asof exec under codegen honors LIMIT (shouldStop) and resumes state") {
    val s = spark
    import s.implicits._
    // the generated loop checks shouldStop() after each consume and
    // keeps its merger/iterator state in fields — a limit above the
    // operator must stop early without hanging, dropping rows, or
    // re-reading the right side on the next processNext call
    val left = (0L until 500L).map(i => (i % 5, i, i * 3L)).toDF("k", "lid", "t")
    val right = (0L until 400L).map(i => (i % 5, 1000L + i, i * 4L)).toDF("k", "rid", "t")
    val q = AsofJoin.asofJoinNative(left, right, Seq("k"), "t", "t", "rid",
      broadcast = Some(false))
    assert(q.limit(7).collect().length === 7)
    assert(q.count() === 500L)
    // and a take() (incremental consumption) agrees with full collect
    val full = q.selectExpr("lid", "asof.rid").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toMap
    val taken = q.selectExpr("lid", "asof.rid").take(23)
      .map(r => (r.getLong(0), Option(r.get(1))))
    taken.foreach { case (lid, rid) => assert(full(lid) === rid) }
  }

  test("tolerance asof accepts timestamp times with an INTERVAL bound") {
    val s = spark
    import s.implicits._
    // the documented timestamp usage: maxStale as an interval literal
    val left = Seq(
      (1L, 100L, "2024-01-10 12:00:00"),
      (1L, 101L, "2024-01-20 12:00:00"))
      .toDF("k", "lid", "t").withColumn("t", $"t".cast("timestamp"))
    val right = Seq(
      (1L, 900L, "2024-01-09 12:00:00", "fresh"),   // 1d before lid 100
      (1L, 901L, "2024-01-01 12:00:00", "stale"))   // 19d before lid 101
      .toDF("k", "rid", "t", "v").withColumn("t", $"t".cast("timestamp"))
    val out = AsofJoin.asofJoinNative(left, right, Seq("k"), "t", "t",
        "rid", broadcast = Some(false),
        maxStale = Some(org.apache.spark.sql.functions.expr("INTERVAL 2 DAYS")))
      .selectExpr("lid", "asof.v AS v")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out === Map(
      100L -> Some("fresh"), // winner is 1 day old: inside the bound
      101L -> None))         // winner is 11 days old: nulled as stale
  }

  test("native skew-split handles string keys and composite keys") {
    val s = spark
    import s.implicits._
    val left = (0L until 120L).map(i => (s"u${i % 3}", i % 2, i, i % 41))
      .toDF("k1", "k2", "lid", "t")
    val right = (0L until 90L).map(i => (s"u${i % 3}", i % 2, 1000L + i, i % 37))
      .toDF("k1", "k2", "rid", "t")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("lid", "asof.rid AS rid")
      .collect().map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
      .sortBy(_._1).toSeq
    assert(canon(AsofJoin.asofJoinNative(
        left, right, Seq("k1", "k2"), "t", "t", "rid", numSplits = Some(4)))
      === canon(AsofJoin.asofJoin(left, right, Seq("k1", "k2"), "t", "t", "rid")))
  }

  test("broadcast asof exec equals merge exec and composed on hot-key data") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(22)
    def key() = if (rnd.nextInt(10) < 7) 1L else (2L + rnd.nextInt(7)).toLong
    def time(): Option[Long] =
      if (rnd.nextInt(100) < 15) None else Some(rnd.nextInt(60).toLong)
    val left = Seq.tabulate(400)(i => (key(), i.toLong, time()))
      .toDF("k", "lid", "t")
    val right = Seq.tabulate(300)(i => (key(), 1000L + i, time(), s"v$i"))
      .toDF("k", "rid", "t", "v")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("k", "lid", "asof.rid AS rid", "asof.v AS v")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]), Option(r.getString(3))))
      .sortBy(r => (r._1, r._2)).toSeq
    val bcast = canon(AsofJoin.asofJoinNative(
      left, right, Seq("k"), "t", "t", "rid", broadcast = Some(true)))
    assert(bcast === canon(AsofJoin.asofJoinNative(
      left, right, Seq("k"), "t", "t", "rid", broadcast = Some(false))))
    assert(bcast === canon(AsofJoin.asofJoin(
      left, right, Seq("k"), "t", "t", "rid")))
  }

  test("broadcast asof plan: no exchange or sort on the fact side") {
    val s = spark
    import s.implicits._
    val left = (0L until 50L).map(i => (i % 5, i, i * 3L)).toDF("k", "lid", "t")
    val right = (0L until 40L).map(i => (i % 5, 1000L + i, i * 4L)).toDF("k", "rid", "t")
    val q = AsofJoin.asofJoinNative(left, right, Seq("k"), "t", "t", "rid",
      broadcast = Some(true))
    q.collect()
    val nodes = PlanShape.nodes(q)
    val plan = PlanShape.render(q)
    assert(nodes.exists(_.isInstanceOf[BroadcastAsofJoinExec]), s"broadcast exec missing:\n$plan")
    assert(nodes.exists(_.isInstanceOf[BroadcastExchangeExec]),
      s"broadcast exchange missing:\n$plan")
    assert(PlanShape.hashShuffles(nodes).isEmpty, s"fact side must not shuffle:\n$plan")
    assert(!nodes.exists(_.isInstanceOf[SortExec]), s"fact side must not sort:\n$plan")
  }

  test("asof strategy auto-selects broadcast by right-side size vs threshold") {
    val s = spark
    import s.implicits._
    val left = (0L until 50L).map(i => (i % 5, i, i * 3L)).toDF("k", "lid", "t")
    val right = (0L until 40L).map(i => (i % 5, 1000L + i, i * 4L)).toDF("k", "rid", "t")
    def execName(): String = {
      val q = AsofJoin.asofJoinNative(left, right, Seq("k"), "t", "t", "rid")
      q.collect()
      val nodes = PlanShape.nodes(q)
      if (nodes.exists(_.isInstanceOf[BroadcastAsofJoinExec])) "broadcast"
      else if (nodes.exists(_.isInstanceOf[AsofJoinExec])) "merge" else "?"
    }
    // tiny right side under the default 10MB threshold -> broadcast
    assert(execName() === "broadcast")
    // threshold off -> the shuffle merge path (Spark's own contract:
    // -1 disables all stats-driven broadcasting)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = s.conf.get(key)
    try {
      s.conf.set(key, "-1")
      assert(execName() === "merge")
    } finally s.conf.set(key, prev)
  }

  test("broadcast asof runs inside whole-stage codegen; codegen == interpreted") {
    val s = spark
    import s.implicits._
    val left = (0L until 300L).map(i => (i % 9, i, i * 3L)).toDF("k", "lid", "t")
    val right = (0L until 80L).map(i => (i % 9, 1000L + i, i * 4L, s"v$i"))
      .toDF("k", "rid", "t", "v")
    def run() = AsofJoin.asofJoinNative(left, right, Seq("k"), "t", "t", "rid",
        broadcast = Some(true))
      .selectExpr("k", "lid", "asof.rid AS rid", "asof.v AS v")
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]), Option(r.getString(3))))
      .sortBy(r => (r._1, r._2)).toSeq
    val q = run()
    val withCodegen = canon(q)
    // the exec sits in a codegen span — scan -> as-of -> projection
    // compile into one generated loop, no iterator boundary
    assert(PlanShape.codegenOps(q).exists(_.isInstanceOf[BroadcastAsofJoinExec]),
      s"as-of exec should be inside a WholeStageCodegen span:\n${PlanShape.render(q)}")
    // and the interpreted path (codegen off) answers identically
    val key = "spark.sql.codegen.wholeStage"
    val prev = s.conf.get(key)
    try {
      s.conf.set(key, "false")
      assert(canon(run()) === withCodegen)
    } finally s.conf.set(key, prev)
  }

  test("merge asof exec runs inside whole-stage codegen; codegen == interpreted") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(31)
    def key() = if (rnd.nextInt(10) < 7) 1L else (2L + rnd.nextInt(7)).toLong
    def time(): Option[Long] =
      if (rnd.nextInt(100) < 15) None else Some(rnd.nextInt(60).toLong)
    val left = Seq.tabulate(400)(i => (key(), i.toLong, time()))
      .toDF("k", "lid", "t")
    val right = Seq.tabulate(300)(i => (key(), 1000L + i, time(), s"v$i"))
      .toDF("k", "rid", "t", "v")
    def run() = AsofJoin.asofJoinNative(left, right, Seq("k"), "t", "t", "rid",
        broadcast = Some(false))
      .selectExpr("k", "lid", "asof.rid AS rid", "asof.v AS v")
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]), Option(r.getString(3))))
      .sortBy(r => (r._1, r._2)).toSeq
    val q = run()
    val withCodegen = canon(q)
    // the exec sits in a codegen span — as-of merge -> downstream
    // projection compile into one generated loop (the SortMergeJoinExec
    // shape: sorts feed the stage as its two inputs)
    assert(PlanShape.codegenOps(q).exists(_.isInstanceOf[AsofJoinExec]),
      s"merge as-of exec should be inside a WholeStageCodegen span:\n${PlanShape.render(q)}")
    // and the interpreted path (codegen off) answers identically
    val key2 = "spark.sql.codegen.wholeStage"
    val prev = s.conf.get(key2)
    try {
      s.conf.set(key2, "false")
      assert(canon(run()) === withCodegen)
    } finally s.conf.set(key2, prev)
    // composed-operator parity on the same data closes the triangle
    assert(withCodegen === canon(
      AsofJoin.asofJoin(left, right, Seq("k"), "t", "t", "rid")
        .selectExpr("k", "lid", "asof.rid AS rid", "asof.v AS v")))
  }

  test("directly-constructed plan: merge and broadcast execs enforce one null contract") {
    val s = spark
    import s.implicits._
    // bypass the DataFrame API (which filters null right times before
    // the node is built) and hand the RAW inputs to AsofJoinPlan: both
    // physical paths must drop null-time right rows in their own
    // kernels (AsofMerger / AsofIndex.build) — a null-time dimension
    // row must never be emitted as a match, and a null left time must
    // not match a null right time
    val left = Seq((1L, 100L, Some(10L)), (1L, 101L, None),
      (2L, 200L, Some(50L))).toDF("k", "lid", "t")
    val right = Seq(
      (1L, 900L, None: Option[Long], "null-time"),
      (1L, 901L, Some(5L), "real"),
      (2L, 902L, None: Option[Long], "null-time-2")).toDF("k", "rid", "t", "v")
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, CreateStruct}
    val cs = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    graft.plans.GraftPlans.install(cs)
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    def a(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
      p.output.find(_.name == n).get
    val payload = rPlan.output.filterNot(_.name == "k")
    val asofOut = AttributeReference(
      "asof", CreateStruct(payload).dataType, nullable = true)()
    def run(bcast: Boolean) = org.apache.spark.sql.graftbridge.PlanBridge
      .ofRows(cs, graft.plans.AsofJoinPlan(
        lPlan, rPlan, Seq(a(lPlan, "k")), Seq(a(rPlan, "k")),
        a(lPlan, "t"), a(rPlan, "t"), a(rPlan, "rid"),
        payload, asofOut, broadcast = Some(bcast)))
      .selectExpr("lid", "asof.v AS v")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    val expected = Map(100L -> Some("real"), 101L -> None, 200L -> None)
    assert(run(bcast = false) === expected, "merge exec")
    assert(run(bcast = true) === expected, "broadcast exec")
  }

  test("broadcast asof builds the probe index once per broadcast, not per task") {
    val s = spark
    import s.implicits._
    // many fact partitions against one broadcast: every task probes,
    // exactly one builds (the executor-shared weak cache) — the
    // property that keeps per-task work independent of dim size
    val left = (0L until 2000L).map(i => (i % 7, i, i * 3L))
      .toDF("k", "lid", "t").repartition(16)
    val right = (0L until 50L).map(i => (i % 7, 1000L + i, i * 4L)).toDF("k", "rid", "t")
    val q = AsofJoin.asofJoinNative(left, right, Seq("k"), "t", "t", "rid",
      broadcast = Some(true))
    val before = graft.plans.AsofIndex.buildCount.get()
    assert(q.selectExpr("asof.rid").count() === 2000L)
    val builds = graft.plans.AsofIndex.buildCount.get() - before
    assert(builds === 1L, s"expected one index build across 16 tasks, got $builds")
  }

  test("broadcast asof keeps its probe index across a GC between task waves") {
    val s = spark
    import s.implicits._
    // two runs of one executed plan are two waves over one broadcast;
    // between them no task holds the index, so a forced GC is the
    // moment a reclaimable index would be lost and built again
    val left = (0L until 400L).map(i => (i % 7, i, i * 3L))
      .toDF("k", "lid", "t").repartition(4)
    val right = (0L until 50L).map(i => (i % 7, 1000L + i, i * 4L)).toDF("k", "rid", "t")
    val q = AsofJoin.asofJoinNative(left, right, Seq("k"), "t", "t", "rid",
      broadcast = Some(true)).selectExpr("lid", "asof.rid AS rid")
    val before = graft.plans.AsofIndex.buildCount.get()
    val first = q.collect().toSeq
    System.gc()
    assert(q.collect().toSeq === first)
    val builds = graft.plans.AsofIndex.buildCount.get() - before
    assert(builds === 1L, s"expected one index build across two waves, got $builds")
  }

  test("broadcast asof: null times, empty right, ties resolve to max tieBreak") {
    val s = spark
    import s.implicits._
    val left = Seq((1L, 100L, Some(10L)), (1L, 101L, None)).toDF("k", "lid", "t")
    val right = Seq(
      (1L, 900L, None, "null-time"),
      (1L, 901L, Some(5L), "early"),
      (1L, 903L, Some(5L), "tie-winner"),
      (1L, 902L, Some(5L), "mid")).toDF("k", "rid", "t", "v")
    val out = AsofJoin.asofJoinNative(left, right, Seq("k"), "t", "t", "rid",
        broadcast = Some(true))
      .selectExpr("lid", "asof.v AS v")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    // ties at t=5 resolve to rid=903 (max tieBreak); null left time -> None
    assert(out === Map(100L -> Some("tie-winner"), 101L -> None))
    val rempty = Seq.empty[(Long, Long, Long, String)].toDF("k", "rid", "t", "v")
    val empt = AsofJoin.asofJoinNative(left, rempty, Seq("k"), "t", "t", "rid",
        broadcast = Some(true))
      .selectExpr("lid", "asof.v AS v")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(empt === Map(100L -> None, 101L -> None))
  }

  test("q128: as-of against the bucketed time-sorted store pays no dim-side exchange or sort") {
    val s = spark
    val sf = "/root/testdata/sf0.001"
    // the engine session (GraftSession.configure — what Verify/Bench
    // run under) lets bucketed scans report their at-rest sort; this
    // suite builds a bare session, so mirror the conf here
    s.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    def run() = {
      val q = graft.queries.EventsMerge.queries("q128_asof_join_stored")(s, sf)
      q.collect()
      q
    }
    val q = run()
    val nodes = PlanShape.nodes(q)
    val plan = PlanShape.render(q)
    // exactly ONE hash exchange and ONE sort — the probe (clicks)
    // side; the stored dimension's bucketed sorted layout satisfies
    // both exec requirements from its at-rest files
    assert(PlanShape.hashShuffles(nodes).size === 1, s"dim side must not shuffle:\n$plan")
    assert(nodes.count(_.isInstanceOf[SortExec]) === 1, s"dim side must not sort:\n$plan")
    assert(nodes.exists(_.isInstanceOf[AsofJoinExec]), s"native exec missing:\n$plan")
    // same answer as the in-query native path (q126 under one oracle)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.toString)))
      .sortBy(r => (r._1, r._2)).toSeq
    assert(canon(q) ===
      canon(graft.queries.EventsMerge.queries("q126_asof_join_native")(s, sf)))
    // cold catalog: re-registration DDL must carry the FINER SORTED BY
    // (user_id, ts, event_id) or the re-opened store re-sorts on read
    graft.storage.DurableStores.resetVerifiedForTest()
    val tbl = graft.storage.Storage.tableNameFor("graft_asof_dim", sf)
    s.sql(s"DROP TABLE IF EXISTS `$tbl`")
    val q2 = run()
    assert(PlanShape.nodes(q2).count(_.isInstanceOf[SortExec]) === 1,
      s"cold-catalog re-registration lost the at-rest sort:\n${PlanShape.render(q2)}")
  }

  test("q129: asof accept lifecycle — guard, idempotence, delta-leg plan, compact fold") {
    val s = spark
    import s.implicits._
    val sf = "/root/testdata/sf0.001"
    s.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    // isolated store root: the compact below FOLDS batches into the
    // base, which must never leak into the shared warehouse other
    // tests (q128) and later runs read
    val root = java.nio.file.Files.createTempDirectory("graft_asofacc_root")
    val prevRoot = s.conf.getOption("spark.graft.store.root")
    s.conf.set("spark.graft.store.root", root.toString)
    try {
      def run() = graft.queries.EventsMerge
        .queries("q129_asof_accept_probe")(s, sf)
      def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1),
          Option(r.get(2)).map(_.asInstanceOf[Long]),
          Option(r.get(3)).map(_.toString)))
        .sortBy(r => (r._1, r._2)).toSeq
      val q = run()
      val first = canon(q)
      // the effective probe's plan: ONE exchange + ONE sort (the base
      // leg's probe side) and the delta leg through the broadcast exec
      // — accepting state never costs the base a re-sort or the probe
      // a second shuffle
      val nodes = PlanShape.nodes(q)
      val plan = PlanShape.render(q)
      assert(PlanShape.hashShuffles(nodes).size === 1,
        s"accept deltas must not add exchanges:\n$plan")
      assert(nodes.count(_.isInstanceOf[SortExec]) === 1,
        s"accept deltas must not add sorts:\n$plan")
      assert(nodes.exists(_.isInstanceOf[BroadcastAsofJoinExec]),
        s"delta leg should ride the broadcast exec:\n$plan")
      // equals the inline recompute over purchases ∪ both sentinel
      // batches (twin: the composed operator over the unioned
      // dimension, probed by clicks ∪ the sentinel clicks)
      val events = graft.Tables.t(s, sf, "events")
        .withColumn("ts",
          org.apache.spark.sql.functions.unix_micros($"ts".cast("timestamp")))
      val purchases = events.filter($"event_type" === "purchase")
        .select($"user_id", $"event_id", $"ts", $"value")
      val dim = purchases
        .unionByName(purchases.filter($"event_id" % 10 === 3)
          .select(($"user_id" + 10000000L).as("user_id"),
            ($"event_id" + 100000000L).as("event_id"),
            ($"ts" + 1000000L).as("ts"), ($"value" * 2).as("value")))
        .unionByName(purchases.filter($"event_id" % 10 === 7)
          .select(($"user_id" + 10000000L).as("user_id"),
            ($"event_id" + 200000000L).as("event_id"),
            ($"ts" + 2000000L).as("ts"), ($"value" * 3).as("value")))
      val clicks0 = events.filter($"event_type" === "click")
        .select($"user_id", $"event_id", $"ts")
      val clicks = clicks0.unionByName(clicks0.select(
        ($"user_id" + 10000000L).as("user_id"),
        ($"event_id" + 300000000L).as("event_id"), $"ts"))
      val twin = canon(AsofJoin.asofJoin(
          clicks, dim, Seq("user_id"), "ts", "ts", "event_id")
        .select($"user_id", $"event_id".as("click_id"),
          $"asof".getField("event_id").as("purchase_id"),
          $"asof".getField("value").as("purchase_value")))
      assert(first === twin)
      // re-running the gate re-accepts the same batches (idempotent
      // partition rewrite) — identical answer
      assert(canon(run()) === first)
      // id-guard: re-presenting base event_ids under a NEW batch id
      // fails fast
      val clash = intercept[IllegalArgumentException] {
        graft.queries.EventsMerge.acceptAsofDimBatch(s, sf, "a_bad",
          purchases.limit(3), lineage = Some(Set("a_bad")))
      }
      assert(clash.getMessage.contains("asof_dim accept precondition"))
      // compact folds both batches into the sorted base: answers
      // unchanged, delta partitions gone, replayed accept is a no-op
      assert(graft.queries.EventsMerge.compactAsofDimStore(s, sf))
      assert(canon(run()) === first)
      val deltaRows = graft.queries.EventsMerge.asofAcceptStore(s, sf).count()
      assert(deltaRows === 0L, s"folded delta partitions should be gone")
      // WINNER branches with BOTH legs populated — q129's sentinel
      // batches by design never reach them (sentinel users have no
      // base rows): accept a real-user delta batch in this ISOLATED
      // root and pin that a delta row LATER than the base candidate
      // wins and an EARLIER one loses to the base
      val baseHit = first.find(_._3.isDefined).get
      val (u1, click1) = (baseHit._1, baseHit._2)
      val secondHit = first.find(r => r._3.isDefined && r._1 != u1).get
      val (u2, click2) = (secondHit._1, secondHit._2)
      def clickTs(cid: Long): Long = clicks0
        .filter($"event_id" === cid).head().getLong(2)
      val a3 = Seq(
        (u1, 900000001L, clickTs(click1), 111.0), // at the click: wins
        (u2, 900000002L, 0L, 222.0))              // epoch 0: base wins
        .toDF("user_id", "event_id", "ts", "value")
      graft.queries.EventsMerge.acceptAsofDimBatch(s, sf, "a3", a3,
        lineage = Some(Set("a1", "a2", "a3")))
      val probe2 = clicks0.filter(
        ($"user_id" === u1 && $"event_id" === click1) ||
          ($"user_id" === u2 && $"event_id" === click2))
      val eff = graft.queries.EventsMerge.asofJoinEffective(s, sf, probe2,
          lineage = Some(Set("a1", "a2", "a3")))
        .select($"user_id", $"asof_eff".getField("event_id").as("pid"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(eff(u1) === 900000001L,
        "a later delta candidate must beat the base leg")
      assert(eff(u2) === secondHit._3.get,
        "an earlier delta candidate must lose to the base leg")
    } finally {
      prevRoot match {
        case Some(r) => s.conf.set("spark.graft.store.root", r)
        case None => s.conf.unset("spark.graft.store.root")
      }
      graft.storage.DurableStores.resetVerifiedForTest()
      Seq("graft_asof_dim", "graft_asofacc").foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS `${graft.storage.Storage.tableNameFor(t, sf)}`")
      }
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(java.nio.file.Files.walk(root)) {
        _.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }
  }

  test("asof join result is independent of input partitioning") {
    val s = spark
    import s.implicits._
    val left = (0L until 50L).map(i => (i % 5, i, i * 3L)).toDF("k", "lid", "t")
    val right = (0L until 40L).map(i => (i % 5, 1000L + i, i * 4L)).toDF("k", "rid", "t")
    def run(lp: Int, rp: Int) =
      AsofJoin.asofJoin(left.repartition(lp), right.repartition(rp),
        Seq("k"), "t", "t", "rid")
        .selectExpr("k", "lid", "asof.rid AS rid")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          Option(r.get(2)).map(_.asInstanceOf[Long])))
        .sortBy(r => (r._1, r._2)).toSeq
    assert(run(1, 1) === run(7, 3))
  }

  test("building a DataFrame split or a conf-routed join starts no Spark job; q130 rows unchanged") {
    // the split's time-axis bounds are a scalar subquery inside the
    // plan, so the bounds aggregate runs with the query, not when the
    // DataFrame is built
    val s = spark
    import s.implicits._
    val sf = "/root/testdata/sf0.001"
    val events = graft.Tables.t(s, sf, "events")
      .withColumn("ts",
        org.apache.spark.sql.functions.unix_micros($"ts".cast("timestamp")))
    val clicks = events.filter($"event_type" === "click")
      .select($"user_id", $"event_id", $"ts")
    val purchases = events.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id", $"ts", $"value")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString(",")).sorted.toSeq
    def q130Shape(df: org.apache.spark.sql.DataFrame) = df
      .select($"user_id", $"event_id".as("click_id"),
        $"asof".getField("event_id").as("purchase_id"),
        $"asof".getField("value").as("purchase_value"))
    val prevThreshold = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    var split: org.apache.spark.sql.DataFrame = null
    var routed: org.apache.spark.sql.DataFrame = null
    try {
      s.conf.set("spark.graft.asof.skewSplits", "8")
      // a 1-byte threshold: the routing sizes the right side from stats
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
      val (_, build) = graft.metrics.JobMetrics.during(s) {
        split = AsofJoin.asofJoinNative(clicks, purchases, Seq("user_id"),
          "ts", "ts", "event_id", numSplits = Some(8))
        routed = AsofJoin.asofJoinNative(clicks, purchases, Seq("user_id"),
          "ts", "ts", "event_id")
      }
      assert(build.jobs.isEmpty, "building the joins must not start a Spark job")
      assert(routed.queryExecution.analyzed.collect {
        case a: graft.plans.AsofJoinPlan => a.leftKeys.map(_.name)
      } === Seq(Seq("user_id", "__b")), "the conf must route to the split")
    } finally {
      s.conf.unset("spark.graft.asof.skewSplits")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
    val q73 = rows(graft.queries.EventsMerge.queries("q73_asof_join")(s, sf))
    assert(q73.nonEmpty)
    assert(rows(q130Shape(split)) === q73)
    assert(rows(q130Shape(routed)) === q73)
    assert(rows(graft.queries.EventsMerge
      .queries("q130_asof_join_native_split")(s, sf)) === q73)
  }
}
