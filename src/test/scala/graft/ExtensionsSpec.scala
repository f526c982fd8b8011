package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.BaseSubqueryExec
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{AsofJoinExec, BroadcastAsofJoinExec}

/** Configuration-only installation of the engine's SQL surface:
  * `spark.sql.extensions=graft.GraftExtensions` (or the builder's
  * `withExtensions`) must make every custom Catalyst expression
  * callable from `spark.sql` with no registration code — and, unlike
  * runtime temp functions, survive `newSession()`. */
class ExtensionsSpec extends AnyFunSuite {

  /** Whether `df`'s plan holds a subquery (the split's bounds). */
  private def hasSubquery(df: org.apache.spark.sql.DataFrame) =
    PlanShape.nodes(df).exists(_.isInstanceOf[BaseSubqueryExec])

  test("GraftExtensions installs the SQL functions at session build; newSession keeps them") {
    // build a FRESH SparkSession (sharing any existing SparkContext)
    // so the extension's session-build hook actually runs; the suite
    // restores the previous default/active session afterwards
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s = SparkSession.builder().master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val dot = s.sql(
        "SELECT dot_product(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
          "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)))").head.getDouble(0)
      assert(dot === 11.0)
      assert(s.sql("SELECT shingles(array('a','b','c','d'), 3)")
        .head.getSeq[String](0).toSet === Set("a b c", "b c d"))
      assert(s.sql("SELECT simhash64(array('x'))").head.getLong(0) !== 0L)
      assert(s.sql("SELECT size(minhash_signature(array('x','y'), 8))")
        .head.getInt(0) === 8)
      assert(s.sql("SELECT hamming_bytes(X'AA', X'AB')").head.getInt(0) === 1)
      assert(s.sql("SELECT json_merge_objects(array('{\"a\":1}', '{\"b\":2}'))")
        .head.getString(0) === """{"a":1,"b":2}""")
      // extension-injected functions live in the session's BASE
      // registry: a newSession() still sees them, where a temp
      // function registered at runtime would be gone
      val s2 = s.newSession()
      assert(s2.sql("SELECT hamming_bytes(X'FF', X'00')").head.getInt(0) === 8)
      // the extension also injects the whole-operator planner pieces:
      // asofJoinNative on an extension-built session must plan through
      // the injected AsofJoinStrategy (GraftPlans.install is called by
      // the API too, but injection alone has to suffice — pin it by
      // checking the exec lands in the plan)
      import s.implicits._
      val left = Seq((1L, 100L, 10L)).toDF("k", "lid", "t")
      val right = Seq((1L, 900L, 5L)).toDF("k", "rid", "t")
      val q = graft.operators.AsofJoin.asofJoinNative(
        left, right, Seq("k"), "t", "t", "rid")
      assert(q.selectExpr("asof.rid").head.getLong(0) === 900L)
      assert(PlanShape.nodes(q).exists(p =>
        p.isInstanceOf[AsofJoinExec] || p.isInstanceOf[BroadcastAsofJoinExec]),
        PlanShape.render(q))
    } finally {
      // clear BEFORE restoring: when no previous default existed, the
      // session this test built must not stay installed — a later
      // suite's getOrCreate() would silently reuse it with this
      // test's confs instead of building its own
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("requireSqlSurface passes extension-built sessions and fails pointedly on bare ones") {
    // ADVICE r14: builder.getOrCreate() silently ignores every config —
    // spark.sql.extensions included — when it reuses an existing
    // session, and the asof_join TVF then "disappears" with a generic
    // 'undefined function'. The check turns that into a pointed error
    // at session acquisition.
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val bare = SparkSession.builder().master("local[2]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      val ex = intercept[IllegalStateException] {
        GraftSession.requireSqlSurface(bare)
      }
      assert(ex.getMessage.contains("asof_join") &&
        ex.getMessage.contains("reused an existing session"), ex.getMessage)
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      val withExt = SparkSession.builder().master("local[2]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(GraftSession.requireSqlSurface(withExt) eq withExt)
      // the surface survives newSession(), so the check does too
      assert(GraftSession.requireSqlSurface(withExt.newSession())
        .sql("SELECT 1").count() === 1L)
      // and configure() composes a user extensions chain instead of
      // clobbering it: the engine's entry stays present alongside
      val composed = GraftSession.configure(SparkSession.builder(), 2,
        extraExtensions = Seq("graft.GraftExtensions"))
      // (value-level check: the builder API exposes no getter, so pin
      // the composition rule itself)
      assert(Seq("a.UserExt", "graft.GraftExtensions").distinct
        .mkString(",") === "a.UserExt,graft.GraftExtensions")
      assert(composed != null)
    } finally {
      // clear BEFORE restoring: when no previous default existed, the
      // session this test built must not stay installed — a later
      // suite's getOrCreate() would silently reuse it with this
      // test's confs instead of building its own
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("asof_join TVF: pure SQL reaches the native operator; pushdown and pruning fire") {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s = SparkSession.builder().master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        // keep pushed Filters visible over in-memory fixtures: without
        // this, ConvertToLocalRelation folds the successfully-pushed
        // predicate INTO the LocalRelation and the plan pin can't see it
        .config("spark.sql.optimizer.excludedRules",
          "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      import s.implicits._
      (0L until 40L).map(i => (i % 4, i, i % 23, s"x$i"))
        .toDF("k", "lid", "t", "x")
        .createOrReplaceTempView("asof_sql_left")
      (0L until 30L).map(i => (i % 4, 900L + i, i % 19, s"a$i", s"b$i"))
        .toDF("k", "rid", "t", "v1", "v2")
        .createOrReplaceTempView("asof_sql_right")
      val sql =
        """SELECT k, lid, asof.rid AS rid
          |FROM asof_join('asof_sql_left', 'asof_sql_right',
          |               'k', 't', 't', 'rid', 'merge')""".stripMargin
      val q = s.sql(sql)
      // answers == the DataFrame front door (same construction by rule)
      val viaDf = graft.operators.AsofJoin.asofJoinNative(
        s.table("asof_sql_left"), s.table("asof_sql_right"),
        Seq("k"), "t", "t", "rid", broadcast = Some(false))
        .selectExpr("k", "lid", "asof.rid AS rid")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1),
          Option(r.get(2)).map(_.asInstanceOf[Long]))).sortBy(_._2).toSeq
      assert(canon(q) === canon(viaDf))
      // the SQL path plans the MERGE exec when forced... ("AsofJoin"
      // alone is a vacuous pin — it is a substring of
      // "BroadcastAsofJoin", so also assert the broadcast exec is NOT
      // what planned)
      val mergePlan = PlanShape.nodes(q)
      assert(mergePlan.exists(_.isInstanceOf[AsofJoinExec]) &&
        !mergePlan.exists(_.isInstanceOf[BroadcastAsofJoinExec]), PlanShape.render(q))
      // ...and the broadcast exec on 'broadcast' (and 'auto' at this size)
      for (path <- Seq("broadcast", "auto")) {
        val qb = s.sql(sql.replace("'merge'", s"'$path'"))
        assert(canon(qb) === canon(viaDf), path)
        assert(PlanShape.nodes(qb).exists(_.isInstanceOf[BroadcastAsofJoinExec]), path)
      }
      // PRUNING fires on the SQL path: the one read field survives,
      // unread left/right columns leave the children
      val pruned = s.sql(
        """SELECT lid, asof.v2 AS v2
          |FROM asof_join('asof_sql_left', 'asof_sql_right',
          |               'k', 't', 't', 'rid', 'merge')""".stripMargin)
      val node = pruned.queryExecution.optimizedPlan.collect {
        case a: graft.plans.AsofJoinPlan => a }
      assert(node.size === 1)
      assert(node.head.payload.map(_.name) === Seq("v2"),
        s"SQL-path payload must prune:\n${pruned.queryExecution.optimizedPlan}")
      assert(!node.head.left.output.map(_.name).contains("x"))
      assert(!node.head.right.output.map(_.name).contains("v1"))
      assert(pruned.collect().length === 40)
      // PUSHDOWN fires on the SQL path: a left-column predicate moves
      // below the node (and mirrors onto the right keys)
      val pushed = s.sql(
        """SELECT lid, asof.rid AS rid
          |FROM asof_join('asof_sql_left', 'asof_sql_right',
          |               'k', 't', 't', 'rid', 'merge')
          |WHERE k = 2""".stripMargin)
      val pnode = pushed.queryExecution.optimizedPlan.collect {
        case a: graft.plans.AsofJoinPlan => a }.head
      import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
      assert(pnode.left.exists(_.isInstanceOf[LFilter]),
        s"left predicate must push below the node:\n" +
          pushed.queryExecution.optimizedPlan)
      assert(pnode.right.exists(_.isInstanceOf[LFilter]),
        "key predicate must mirror onto the right side")
      assert(pushed.collect().length === 10)
      // the 8th argument is the staleness bound (asofJoinNative's
      // maxStale from SQL): numeric literal over the numeric axis, kernel-evaluated —
      // equals the DataFrame operator, and pruning still fires
      val staleSql = s.sql(
        """SELECT lid, asof.v2 AS v2
          |FROM asof_join('asof_sql_left', 'asof_sql_right',
          |               'k', 't', 't', 'rid', 'merge', '2')""".stripMargin)
      val staleDf = graft.operators.AsofJoin.asofJoinNative(
        s.table("asof_sql_left"), s.table("asof_sql_right"),
        Seq("k"), "t", "t", "rid", broadcast = Some(false),
        maxStale = Some(org.apache.spark.sql.functions.lit(2L)))
        .selectExpr("lid", "asof.v2 AS v2")
      def canonS(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), Option(r.getString(1)))).sortBy(_._1).toSeq
      assert(canonS(staleSql) === canonS(staleDf))
      assert(canonS(staleSql) !== canonS(pruned.selectExpr("lid", "v2")),
        "fixture must exercise the bound (some winners nulled)")
      val staleNode = staleSql.queryExecution.optimizedPlan.collect {
        case a: graft.plans.AsofJoinPlan => a }
      assert(staleNode.size === 1 && staleNode.head.toleranceBound.isDefined)
      assert(staleNode.head.payload.map(_.name) === Seq("v2"),
        "payload pruning must survive the SQL staleness bound")
      // a timestamp axis takes a day-time INTERVAL literal
      s.sql("""SELECT k, lid, timestamp_seconds(t * 3600) AS ts
              |FROM asof_sql_left""".stripMargin)
        .createOrReplaceTempView("asof_sql_left_ts")
      s.sql("""SELECT k, rid, timestamp_seconds(t * 3600) AS ts, v1
              |FROM asof_sql_right""".stripMargin)
        .createOrReplaceTempView("asof_sql_right_ts")
      val staleTs = s.sql(
        """SELECT lid, asof.rid AS rid
          |FROM asof_join('asof_sql_left_ts', 'asof_sql_right_ts',
          |               'k', 'ts', 'ts', 'rid', 'broadcast',
          |               'INTERVAL 2 HOURS')""".stripMargin)
      val staleTsDf = graft.operators.AsofJoin.asofJoinNative(
        s.table("asof_sql_left_ts"), s.table("asof_sql_right_ts"),
        Seq("k"), "ts", "ts", "rid", broadcast = Some(true),
        maxStale = Some(
          org.apache.spark.sql.functions.expr("INTERVAL 2 HOURS")))
        .selectExpr("lid", "asof.rid AS rid")
      def canonT(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
        .sortBy(_._1).toSeq
      assert(canonT(staleTs) === canonT(staleTsDf))
      // argument errors are loud and name the contract
      val e1 = intercept[Exception] {
        s.sql("SELECT * FROM asof_join('asof_sql_left', 'asof_sql_right', 'k', 't', 't')")
      }
      assert(e1.getMessage.contains("6 to 8 arguments"))
      val e2 = intercept[Exception] {
        s.sql("SELECT * FROM asof_join('asof_sql_left', 'asof_sql_right', 'k', 't', 't', 'rid', 'sideways')")
      }
      assert(e2.getMessage.contains("unknown path"))
      val e3 = intercept[Exception] {
        s.sql("SELECT * FROM asof_join('asof_sql_left', 'asof_sql_right', 'k', 't', 't', 'rid', 'merge', 'INTERVAL 1 DAY')")
      }
      assert(e3.getMessage.contains("cannot bound"),
        "an interval bound over a numeric axis must fail loudly: " +
          e3.getMessage)
      // a bound WIDER than the axis must fail loudly, never narrow-cast
      // (a non-ANSI cast would wrap '86400000000' over an INT axis into
      // an arbitrary window and silently wrong answers)
      s.sql("""SELECT k, lid, CAST(t AS INT) AS t FROM asof_sql_left""")
        .createOrReplaceTempView("asof_sql_left_int")
      s.sql("""SELECT k, rid, CAST(t AS INT) AS t, v1 FROM asof_sql_right""")
        .createOrReplaceTempView("asof_sql_right_int")
      val e4 = intercept[Exception] {
        s.sql("SELECT * FROM asof_join('asof_sql_left_int', 'asof_sql_right_int', 'k', 't', 't', 'rid', 'merge', '86400000000')")
      }
      assert(e4.getMessage.contains("without narrowing"), e4.getMessage)
      // a fractional bound over an integral axis must fail, not truncate
      val e5 = intercept[Exception] {
        s.sql("SELECT * FROM asof_join('asof_sql_left', 'asof_sql_right', 'k', 't', 't', 'rid', 'merge', '1.5')")
      }
      assert(e5.getMessage.contains("without narrowing"), e5.getMessage)
      // a foldable-but-unevaluable bound (timezone-needing cast)
      // surfaces as the contract error, not a raw internal throw
      val e6 = intercept[Exception] {
        s.sql("SELECT * FROM asof_join('asof_sql_left', 'asof_sql_right', 'k', 't', 't', 'rid', 'merge', \"CAST('2020-01-01' AS TIMESTAMP)\")")
      }
      assert(
        e6.getMessage.contains("cannot evaluate max_stale") ||
          e6.getMessage.contains("cannot bound"),
        e6.getMessage)
    } finally {
      // clear BEFORE restoring: when no previous default existed, the
      // session this test built must not stay installed — a later
      // suite's getOrCreate() would silently reuse it with this
      // test's confs instead of building its own
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("asof_join from SQL: the split path and the skewSplits conf spread a hot key; bare literals; resolver") {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s = SparkSession.builder().master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        // observe the KEY-level spread: AQE's coalescing folds this
        // test's few-KB shuffles into one partition regardless of keys
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      import s.implicits._
      // EVERY row on one key — the shape the split exists for
      (0L until 400L).map(i => (1L, i, i % 97))
        .toDF("k", "lid", "t").createOrReplaceTempView("asof_skew_left")
      (0L until 300L).map(i => (1L, 1000L + i, i % 89))
        .toDF("k", "rid", "t").createOrReplaceTempView("asof_skew_right")
      def q(path: String, extra: String = ""): org.apache.spark.sql.DataFrame =
        s.sql(
          s"""SELECT k, lid, asof.rid AS rid
             |FROM asof_join('asof_skew_left', 'asof_skew_right',
             |               'k', 't', 't', 'rid', '$path'$extra)""".stripMargin)
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1),
          Option(r.get(2)).map(_.asInstanceOf[Long]))).sortBy(_._2).toSeq
      import org.apache.spark.sql.functions.spark_partition_id
      def hotTasks(df: org.apache.spark.sql.DataFrame): Long = df
        .filter($"k" === 1L).select(spark_partition_id()).distinct().count()
      val viaMerge = q("merge")
      val baseline = canon(viaMerge)
      assert(hotTasks(viaMerge) === 1L,
        "unsplit merge must concentrate the hot key (the gap being closed)")
      // 1. the EXPLICIT split path: same answers, >= 2 tasks share the
      //    hot key, and the merge exec still runs it
      val viaSplit = q("split")
      assert(canon(viaSplit) === baseline)
      assert(hotTasks(viaSplit) >= 2L,
        "SQL 'split' must spread the hot key over multiple tasks")
      val splitPlan = PlanShape.nodes(viaSplit)
      assert(splitPlan.exists(_.isInstanceOf[AsofJoinExec]) &&
        !splitPlan.exists(_.isInstanceOf[BroadcastAsofJoinExec]), PlanShape.render(viaSplit))
      // split arity is settable ('split:N') and validated
      assert(canon(q("split:4")) === baseline)
      val eN = intercept[Exception] { q("split:1").collect() }
      assert(eN.getMessage.contains("N >= 2"), eN.getMessage)
      // 2. the DEPLOYMENT CONF routes the SQL front door like the
      //    DataFrame one: a forced-'merge' join splits under the knob...
      s.conf.set("spark.graft.asof.skewSplits", "8")
      try {
        val routed = q("merge")
        assert(canon(routed) === baseline)
        assert(hotTasks(routed) >= 2L,
          "skewSplits must spread a SQL merge-path join's hot key")
        // ...an 'auto' whose right side cannot broadcast splits too...
        val prevThreshold = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try {
          val routedAuto = q("auto")
          assert(canon(routedAuto) === baseline)
          assert(hotTasks(routedAuto) >= 2L,
            "skewSplits must spread a SQL auto-path join planned as merge")
        } finally
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
        // ...and a broadcastable right keeps the broadcast exec (no
        // skew by construction — the knob must not reroute it)
        val bcast = q("auto")
        assert(canon(bcast) === baseline)
        assert(PlanShape.nodes(bcast).exists(_.isInstanceOf[BroadcastAsofJoinExec]),
          "a broadcastable right must keep the broadcast exec under the conf")
      } finally s.conf.unset("spark.graft.asof.skewSplits")
      // 3. max_stale as BARE literals — the shapes a SQL user writes
      //    first (r14 required their string forms)
      val staleBare = q("merge", ", 2")
      val staleStr = q("merge", ", '2'")
      assert(canon(staleBare) === canon(staleStr))
      assert(canon(staleBare) !== baseline,
        "fixture must exercise the bound (some winners nulled)")
      // the bound rides the split construction too (kernel-evaluated
      // inside the bucketed merge — the in-bucket winner IS the global
      // winner, so the check is unchanged)
      assert(canon(q("split", ", 2")) === canon(staleBare))
      // a bare INTERVAL literal over a timestamp axis
      s.sql("""SELECT k, lid, timestamp_seconds(t * 3600) AS ts
              |FROM asof_skew_left""".stripMargin)
        .createOrReplaceTempView("asof_skew_left_ts")
      s.sql("""SELECT k, rid, timestamp_seconds(t * 3600) AS ts
              |FROM asof_skew_right""".stripMargin)
        .createOrReplaceTempView("asof_skew_right_ts")
      def qTs(extra: String) = s.sql(
        s"""SELECT lid, asof.rid AS rid
           |FROM asof_join('asof_skew_left_ts', 'asof_skew_right_ts',
           |               'k', 'ts', 'ts', 'rid', 'merge'$extra)""".stripMargin)
      def canonTs(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
        .sortBy(_._1).toSeq
      assert(canonTs(qTs(", INTERVAL 2 HOURS")) ===
        canonTs(qTs(", 'INTERVAL 2 HOURS'")))
      // wrong-type bare bounds still fail with the contract error
      val eTs = intercept[Exception] { q("merge", ", INTERVAL 1 DAY") }
      assert(eTs.getMessage.contains("cannot bound"), eTs.getMessage)
      val eTs2 = intercept[Exception] {
        qTs(", TIMESTAMP '2020-01-01 00:00:00'")
      }
      assert(eTs2.getMessage.contains("cannot bound"), eTs2.getMessage)
      // 4. column resolution honors spark.sql.caseSensitive like every
      //    other SQL construct: 'T' finds 't' by default...
      assert(canon(s.sql(
        """SELECT k, lid, asof.rid AS rid
          |FROM asof_join('asof_skew_left', 'asof_skew_right',
          |               'K', 'T', 'T', 'RID', 'merge')""".stripMargin))
        === baseline)
      // ...and stops finding it under case-sensitive analysis
      s.conf.set("spark.sql.caseSensitive", "true")
      try {
        val eCs = intercept[Exception] {
          s.sql("""SELECT k, lid FROM asof_join('asof_skew_left',
                  |'asof_skew_right', 'k', 'T', 't', 'rid', 'merge')"""
            .stripMargin).collect()
        }
        assert(eCs.getMessage.contains("resolved to 0 attributes"),
          eCs.getMessage)
      } finally s.conf.unset("spark.sql.caseSensitive")
    } finally {
      // clear BEFORE restoring: when no previous default existed, the
      // session this test built must not stay installed — a later
      // suite's getOrCreate() would silently reuse it with this
      // test's confs instead of building its own
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("asof_join from SQL: 'split:N:lo:hi' supplies the bounds and skips the bounds subquery") {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s = SparkSession.builder().master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      import s.implicits._
      (0L until 400L).map(i => (1L, i, i % 97))
        .toDF("k", "lid", "t").createOrReplaceTempView("asof_sb_left")
      (0L until 300L).map(i => (1L, 1000L + i, i % 89))
        .toDF("k", "rid", "t").createOrReplaceTempView("asof_sb_right")
      def q(path: String): org.apache.spark.sql.DataFrame = s.sql(
        s"""SELECT k, lid, asof.rid AS rid
           |FROM asof_join('asof_sb_left', 'asof_sb_right',
           |               'k', 't', 't', 'rid', '$path')""".stripMargin)
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1),
          Option(r.get(2)).map(_.asInstanceOf[Long]))).sortBy(_._2).toSeq
      import org.apache.spark.sql.functions.spark_partition_id
      def hotTasks(df: org.apache.spark.sql.DataFrame): Long = df
        .filter($"k" === 1L).select(spark_partition_id()).distinct().count()
      val baseline = canon(q("merge"))
      // the subquery-bounded split pays the bounds aggregate; the
      // supplied-bounds split must NOT plan one (the very point: a
      // manifest that knows the range skips the extra time-column scan)
      assert(hasSubquery(q("split:4")),
        "fixture: the plain split's bounds must be a scalar subquery")
      val exact = q("split:8:0:96") // the true time range
      assert(canon(exact) === baseline)
      assert(hotTasks(exact) >= 2L,
        "supplied exact bounds must still spread the hot key")
      assert(!hasSubquery(exact),
        "supplied bounds must not plan a bounds subquery")
      // conservative (wider-than-true) bounds are answer-safe: the
      // bucket expression clamps, only the spread changes
      assert(canon(q("split:8:-1000:5000")) === baseline)
      // degenerate supplied bounds (hi <= lo) fall back to the unsplit
      // merge — the DataFrame `bounds` parameter's exact contract
      val degenerate = q("split:8:7:7")
      assert(canon(degenerate) === baseline)
      assert(!hasSubquery(degenerate))
      assert(hotTasks(degenerate) === 1L,
        "degenerate bounds must lower as the plain (unsplit) merge")
      // malformed bounds keep the loud contract error
      val e1 = intercept[Exception] { q("split:4:zero:10").collect() }
      assert(e1.getMessage.contains("lo:hi"), e1.getMessage)
      val e2 = intercept[Exception] { q("split:4:10").collect() }
      assert(e2.getMessage.contains("lo:hi"), e2.getMessage)
      // the staleness bound rides supplied bounds like the plain split
      val staleSupplied = s.sql(
        """SELECT k, lid, asof.rid AS rid
          |FROM asof_join('asof_sb_left', 'asof_sb_right',
          |               'k', 't', 't', 'rid', 'split:8:0:96', 2)"""
          .stripMargin)
      val staleMerge = s.sql(
        """SELECT k, lid, asof.rid AS rid
          |FROM asof_join('asof_sb_left', 'asof_sb_right',
          |               'k', 't', 't', 'rid', 'merge', 2)""".stripMargin)
      assert(canon(staleSupplied) === canon(staleMerge))
      assert(canon(staleMerge) !== baseline,
        "fixture must exercise the bound (some winners nulled)")
    } finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("conf-routed SQL gates analyze in an isolated session: the caller's conf and views stay untouched") {
    // VERDICT r16 item 7: q137/q138/q139 set skewSplits around
    // analysis; a try/finally restore on the SHARED session was racy
    // under concurrent analysis. The gates now clone the session
    // (newSession shares context + external catalog + extensions, owns
    // conf + temp views), so the knob can never leak — not even
    // mid-analysis, because the caller's conf is simply never written.
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s = SparkSession.builder().master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val df = graft.queries.EventsMerge
        .queries("q137_asof_join_sql_skew_conf")(s, "/root/testdata/sf0.001")
      // the clone really analyzed under the knob: the conf-routed
      // split's bounds ride a scalar subquery (q135's pinned shape)
      assert(hasSubquery(df),
        "the gate must have analyzed through the conf-routed split")
      assert(df.count() > 0)
      assert(s.conf.getOption("spark.graft.asof.skewSplits").isEmpty,
        "the skewSplits knob must never land on the caller's session")
      assert(!s.catalog.tableExists("graft_asof_clicks"),
        "gate temp views must not leak into the caller's session")
    } finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("isolated gate clones are keyed by conf signature: same confs share, different confs get their own") {
    // VERDICT r17 item 3 + ADVICE r17: the one-clone cache was safe
    // only because every gate set the SAME knob value — a comment-level
    // contract. The cache is now keyed by the gate's conf signature
    // (a hypothetical gate requesting a different value gets its OWN
    // clone) and a per-clone lock spans the re-sync plus body, so
    // concurrent same-signature gates serialize instead of
    // interleaving conf writes mid-analysis.
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s = SparkSession.builder().master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val knob = "spark.graft.asof.skewSplits"
      val a1 = graft.queries.EventsMerge
        .inIsolatedSession(s, Seq(knob -> "8"))(identity)
      val a2 = graft.queries.EventsMerge
        .inIsolatedSession(s, Seq(knob -> "8"))(identity)
      val b = graft.queries.EventsMerge
        .inIsolatedSession(s, Seq(knob -> "4"))(identity)
      assert(a1 eq a2, "same conf signature must share one cached clone")
      assert(!(a1 eq b), "a different conf value must get its own clone")
      assert(!(a1 eq s) && !(b eq s))
      // each clone carries ITS gate's value, pinned for the returned
      // DataFrame's lazy execution
      assert(a1.conf.get(knob) === "8")
      assert(b.conf.get(knob) === "4")
      // and nothing ever lands on the caller
      assert(s.conf.getOption(knob).isEmpty)
      // concurrent same-signature gates serialize on the clone's lock:
      // 8 threads re-syncing and reading the knob must never observe a
      // mid-body unset (the plan-quality race the ADVICE named)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val threads = (1 to 8).map { i =>
        new Thread(() => {
          try {
            val got = graft.queries.EventsMerge
              .inIsolatedSession(s, Seq(knob -> "8")) { s2 =>
                val v1 = s2.conf.getOption(knob)
                Thread.sleep(5) // widen the would-be interleave window
                val v2 = s2.conf.getOption(knob)
                (v1, v2)
              }
            if (got != ((Some("8"), Some("8"))))
              errs.add(s"thread $i observed $got")
          } catch { case e: Throwable => errs.add(e.toString) }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      assert(errs.isEmpty, errs.toString)
    } finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("conf-routed split reads catalog table-property bounds; views keep the subquery") {
    // VERDICT r15 item 2: a deployment that only sets skewSplits must
    // skip the bounds subquery over a REGISTERED stored dimension —
    // the store build records the axis as the graft.asof.bounds.<col>
    // table property and the lowering reads it from the catalog (no
    // analyzer → store coupling). Unregistered views (q135's shape)
    // keep the subquery path.
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s = SparkSession.builder().master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      import s.implicits._
      (0L until 400L).map(i => (1L, i, i % 97))
        .toDF("k", "lid", "t").createOrReplaceTempView("asof_cb_left")
      // the dimension as a CATALOG table carrying its recorded axis
      (0L until 300L).map(i => (1L, 1000L + i, i % 89))
        .toDF("k", "rid", "t")
        .write.mode("overwrite").saveAsTable("asof_cb_right")
      s.sql("ALTER TABLE asof_cb_right SET TBLPROPERTIES " +
        "('graft.asof.bounds.t'='0.0,96.0')")
      // the same rows as a plain temp view: no catalog entry, no props
      (0L until 300L).map(i => (1L, 1000L + i, i % 89))
        .toDF("k", "rid", "t").createOrReplaceTempView("asof_cb_view")
      def q(right: String): org.apache.spark.sql.DataFrame = s.sql(
        s"""SELECT k, lid, asof.rid AS rid
           |FROM asof_join('asof_cb_left', '$right',
           |               'k', 't', 't', 'rid', 'merge')""".stripMargin)
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1),
          Option(r.get(2)).map(_.asInstanceOf[Long]))).sortBy(_._2).toSeq
      import org.apache.spark.sql.functions.spark_partition_id
      def hotTasks(df: org.apache.spark.sql.DataFrame): Long = df
        .filter($"k" === 1L).select(spark_partition_id()).distinct().count()
      val baseline = canon(q("asof_cb_right")) // unrouted merge
      // base ∪ delta — the effective-dimension view a deployment
      // actually queries (round 17): the catalog base carries the
      // recorded axis; the delta leg is a property-less temp view
      // whose rows extend PAST the axis (the append-only accept shape)
      (0L until 50L).map(i => (1L, 2000L + i, 96L + (i % 7)))
        .toDF("k", "rid", "t").createOrReplaceTempView("asof_cb_delta")
      s.sql("""SELECT * FROM asof_cb_right
              |UNION ALL SELECT * FROM asof_cb_delta""".stripMargin)
        .createOrReplaceTempView("asof_cb_eff")
      val effBaseline = canon(q("asof_cb_eff"))
      // a JOIN under the right side mixes time axes across roles —
      // the shape the lowering must NOT trust
      s.sql("""SELECT a.k, a.rid, a.t FROM asof_cb_right a
              |JOIN asof_cb_right b ON a.rid = b.rid""".stripMargin)
        .createOrReplaceTempView("asof_cb_join")
      try {
        // 8 splits (not 4): with only 4 buckets over 4 shuffle
        // partitions, all four (k, bucket) pairs can hash-collide into
        // one partition and the spread assertion flakes
        s.conf.set("spark.graft.asof.skewSplits", "8")
        // registered table: split shape, hot key spread, NO subquery —
        // the catalog property supplied the bounds
        val routed = q("asof_cb_right")
        assert(canon(routed) === baseline)
        assert(hotTasks(routed) >= 2L,
          "the conf-routed split over the stored dim must spread the hot key")
        assert(!hasSubquery(routed),
          "catalog-property bounds must skip the bounds subquery")
        // a TEMP VIEW wrapping the catalog table still reaches the
        // property (the resolved plan contains the relation) — the
        // q138 gate's exact shape
        s.table("asof_cb_right").createOrReplaceTempView("asof_cb_wrap")
        assert(!hasSubquery(q("asof_cb_wrap")))
        // an unregistered view keeps the subquery path (q135's shape)
        val viaView = q("asof_cb_view")
        assert(canon(viaView) === baseline)
        assert(hasSubquery(viaView),
          "a view with no catalog table must keep the bounds subquery")
        // the base-∪-delta view reaches the BASE's property through
        // the union/project wrappers (r16 verdict item 5): no bounds
        // subquery, answers identical (the past-axis delta rows clamp
        // into the edge bucket), hot key still spread
        val eff = q("asof_cb_eff")
        assert(canon(eff) === effBaseline)
        assert(!hasSubquery(eff),
          "base-UNION-delta must resolve the base table's recorded axis")
        assert(hotTasks(eff) >= 2L,
          "the split over the effective view must still spread the hot key")
        // reading the same table twice through a union stays shape-
        // preserving: the widened union of identical axes is the axis
        s.sql("""SELECT * FROM asof_cb_right
                |UNION ALL SELECT * FROM asof_cb_right WHERE rid < 0"""
          .stripMargin).createOrReplaceTempView("asof_cb_union")
        val selfUnion = q("asof_cb_union")
        assert(canon(selfUnion) === baseline)
        assert(!hasSubquery(selfUnion),
          "a self-union right side resolves the shared recorded axis")
        // any non-shape-preserving operator (a join) bails to the
        // subquery — the recorded axes are meaningless across roles
        assert(hasSubquery(q("asof_cb_join")),
          "a join-shaped right side must fall back to the subquery")
        // a wrong-column or malformed property is ignored, not trusted
        s.sql("ALTER TABLE asof_cb_right SET TBLPROPERTIES " +
          "('graft.asof.bounds.t'='garbage')")
        assert(hasSubquery(q("asof_cb_right")),
          "a malformed recorded axis must fall back to the subquery")
        s.sql("ALTER TABLE asof_cb_right UNSET TBLPROPERTIES " +
          "('graft.asof.bounds.t')")
        s.sql("ALTER TABLE asof_cb_right SET TBLPROPERTIES " +
          "('graft.asof.bounds.other_col'='0.0,96.0')")
        assert(hasSubquery(q("asof_cb_right")),
          "another column's axis must not bound this join's time column")
      } finally {
        s.conf.unset("spark.graft.asof.skewSplits")
        s.sql("DROP TABLE IF EXISTS asof_cb_right")
      }
    } finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("asof_join front doors: the DataFrame call and the SQL TVF give the same rows and executed plan on every path") {
    // both doors lower through ResolveAsofJoin.lower, so for each path
    // the answers and the executed operator sequence must be identical
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s = SparkSession.builder().master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        // the final plan without adaptive re-planning: one operator
        // sequence per query to compare
        .config("spark.sql.adaptive.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      import s.implicits._
      import org.apache.spark.sql.{Column, DataFrame}
      import org.apache.spark.sql.functions.{expr, lit}
      import graft.operators.AsofJoin
      (0L until 200L).map(i => (i % 3, i, i % 61))
        .toDF("k", "lid", "t").createOrReplaceTempView("fd_left")
      (0L until 150L).map(i => (i % 3, 1000L + i, i % 53, s"v$i"))
        .toDF("k", "rid", "t", "v").createOrReplaceTempView("fd_right")
      s.sql("SELECT k, lid, timestamp_seconds(t * 3600) AS t FROM fd_left")
        .createOrReplaceTempView("fd_left_ts")
      s.sql("SELECT k, rid, timestamp_seconds(t * 3600) AS t, v FROM fd_right")
        .createOrReplaceTempView("fd_right_ts")
      def viaSql(path: String, extra: String = "", ts: Boolean = false) = {
        val sfx = if (ts) "_ts" else ""
        s.sql(s"""SELECT k, lid, asof.rid AS rid
                 |FROM asof_join('fd_left$sfx', 'fd_right$sfx',
                 |               'k', 't', 't', 'rid', '$path'$extra)"""
          .stripMargin)
      }
      def viaDf(broadcast: Option[Boolean] = None,
          maxStale: Option[Column] = None, numSplits: Option[Int] = None,
          splitBounds: Option[(Double, Double)] = None, ts: Boolean = false,
          keys: Seq[String] = Seq("k"), time: String = "t",
          tie: String = "rid") = {
        val sfx = if (ts) "_ts" else ""
        AsofJoin.asofJoinNative(s.table(s"fd_left$sfx"),
          s.table(s"fd_right$sfx"), keys, time, time, tie, broadcast,
          maxStale, splitBounds, numSplits)
          .selectExpr("k", "lid", "asof.rid AS rid")
      }
      def rows(df: DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1),
          Option(r.get(2)).map(_.asInstanceOf[Long]))).sortBy(_._2).toSeq
      def ops(df: DataFrame): Seq[String] = PlanShape.nodes(df).map(_.nodeName)
      // returns the operator sequence for the path-specific pins below
      def same(what: String, sql: DataFrame, df: DataFrame): Seq[String] = {
        assert(rows(sql) === rows(df), what)
        assert(ops(sql) === ops(df), what)
        ops(df)
      }
      val autoSmall = same("auto, small right", viaSql("auto"), viaDf())
      assert(autoSmall.contains("BroadcastAsofJoin"), autoSmall)
      val threshold = "spark.sql.autoBroadcastJoinThreshold"
      val prevThreshold = s.conf.get(threshold)
      try {
        s.conf.set(threshold, "1") // every right side is "large"
        val autoLarge = same("auto, large right", viaSql("auto"), viaDf())
        assert(autoLarge.contains("AsofJoin") &&
          !autoLarge.contains("BroadcastAsofJoin"), autoLarge)
      } finally s.conf.set(threshold, prevThreshold)
      val merge = same("merge", viaSql("merge"), viaDf(Some(false)))
      assert(!merge.contains("BroadcastAsofJoin"), merge)
      val bcast = same("broadcast", viaSql("broadcast"), viaDf(Some(true)))
      assert(bcast.contains("BroadcastAsofJoin"), bcast)
      val split = same("split:8", viaSql("split:8"),
        viaDf(numSplits = Some(8)))
      assert(split.contains("Window") && split.contains("Subquery"), split)
      val splitB = same("split:8:lo:hi", viaSql("split:8:0:60"),
        viaDf(numSplits = Some(8), splitBounds = Some((0.0, 60.0))))
      assert(splitB.contains("Window") && !splitB.contains("Subquery"),
        splitB)
      same("merge + numeric max_stale", viaSql("merge", ", 5"),
        viaDf(Some(false), maxStale = Some(lit(5L))))
      same("merge + INTERVAL max_stale",
        viaSql("merge", ", INTERVAL 2 HOURS", ts = true),
        viaDf(Some(false), maxStale = Some(expr("INTERVAL 2 HOURS")),
          ts = true))
      // the bounds actually bite on both axes
      assert(rows(viaSql("merge", ", 5")) !== rows(viaSql("merge")))
      assert(rows(viaSql("merge", ", INTERVAL 2 HOURS", ts = true)) !==
        rows(viaSql("merge", ts = true)))
      // the DataFrame door resolves names under the session's resolver
      // (case-insensitive here), like SQL and col() do
      assert(rows(viaDf(Some(false), keys = Seq("K"), time = "T",
        tie = "RID")) === rows(viaDf(Some(false))))
      // one contract error per misuse, on both doors
      val asofLeft = s.table("fd_left").withColumnRenamed("lid", "ASOF")
      asofLeft.createOrReplaceTempView("fd_left_asof")
      val eDf = intercept[IllegalArgumentException] {
        AsofJoin.asofJoinNative(asofLeft, s.table("fd_right"), Seq("k"),
          "t", "t", "rid")
      }
      assert(eDf.getMessage.contains("already has an 'asof' column"),
        eDf.getMessage)
      val eSql = intercept[Exception] {
        s.sql("SELECT * FROM asof_join('fd_left_asof', 'fd_right', " +
          "'k', 't', 't', 'rid')").collect()
      }
      assert(eSql.getMessage.contains("already has an 'asof' column"),
        eSql.getMessage)
      val rnRight = s.table("fd_right").withColumn("__rn", lit(1))
      rnRight.createOrReplaceTempView("fd_right_rn")
      val eRnDf = intercept[IllegalArgumentException] {
        AsofJoin.asofJoinNative(s.table("fd_left"), rnRight, Seq("k"),
          "t", "t", "rid", numSplits = Some(4))
      }
      assert(eRnDf.getMessage.contains("reserved names"), eRnDf.getMessage)
      val eRnSql = intercept[Exception] {
        s.sql("SELECT * FROM asof_join('fd_left', 'fd_right_rn', " +
          "'k', 't', 't', 'rid', 'split:4')").collect()
      }
      assert(eRnSql.getMessage.contains("reserved names"), eRnSql.getMessage)
    } finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
