package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.storage.{DurableStores, Storage}

/** The cross-session half of the write-once/probe-forever contract
  * (VERDICT r10 "next" #1): every index-family store must outlive the
  * SparkSession that built it. These specs build a store, simulate a
  * cold session (catalog dropped + the in-JVM fingerprint cache
  * cleared — exactly what a new JVM starts with), and prove the
  * second "session" answers from the at-rest files with NO rebuild
  * (every store file's mtime unchanged) — plus the refresh half: when
  * the SOURCE data changes under the store, the fingerprint forces a
  * rebuild instead of silently serving stale answers.
  */
class DurableStoreSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Scratch store root + a private copy of sf0.001 (own table names,
    * so runs never collide with the default-root stores other suites
    * build); both deleted afterwards. */
  private def withScratch(stores: Seq[String])(
      body: (String, String) => Unit): Unit = {
    val s = spark
    val root = Files.createTempDirectory("graft_store_root").toString
    val data = Files.createTempDirectory("graft_store_data").toString
    Files.list(Paths.get("/root/testdata/sf0.001")).forEach { p =>
      Files.copy(p, Paths.get(data, p.getFileName.toString))
    }
    s.conf.set("spark.graft.store.root", root)
    try body(root, data)
    finally {
      stores.foreach(st => DurableStores.drop(s, data, st))
      s.conf.unset("spark.graft.store.root")
      DurableStores.resetVerifiedForTest()
      Seq(root, data).foreach { d =>
        scala.util.Using.resource(Files.walk(Paths.get(d))) {
          _.sorted(Comparator.reverseOrder[Path]())
            .forEach(p => Files.deleteIfExists(p))
        }
      }
    }
  }

  /** (path -> mtime) for every data file under the store root. */
  private def storeMtimes(root: String): Map[String, Long] = {
    val out = scala.collection.mutable.Map.empty[String, Long]
    scala.util.Using.resource(Files.walk(Paths.get(root))) {
      _.forEach { p =>
        if (Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
          out(p.toString) = Files.getLastModifiedTime(p).toMillis
      }
    }
    out.toMap
  }

  /** Drop `tables` from the catalog (path tables have no entry to
    * drop) and forget the in-JVM fingerprint checks. */
  private def coldCatalog(tables: String*): Unit = {
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    DurableStores.resetVerifiedForTest()
  }

  test("sparse store: a cold catalog re-registers the at-rest tables without rebuilding") {
    withScratch(Seq("sparse")) { (root, data) =>
      val s = spark
      val statsT = Storage.tableNameFor("graft_sparse_stats", data)
      val compT = Storage.tableNameFor("graft_sparse_components", data)
      val first = graft.queries.CorpusOps
        .queries("q115_sparse_topk_stored")(s, data)
        .collect().map(_.toString).sorted.toSeq
      graft.engine.CacheRegistry.releaseAll()
      val builtAt = storeMtimes(root)
      coldCatalog(statsT, compT)
      val q = graft.queries.CorpusOps.queries("q115_sparse_topk_stored")(s, data)
      val second = q.collect().map(_.toString).sorted.toSeq
      val plan = PlanShape.render(q)
      graft.engine.CacheRegistry.releaseAll()
      assert(second === first)
      assert(plan.contains(statsT) && plan.contains(compT),
        s"cold session not answering from the registered store:\n$plan")
      assert(storeMtimes(root) === builtAt,
        "re-open rewrote store files — the contract is register, not rebuild")
    }
  }

  test("bucketed nested store: bucket metadata survives re-registration (merge stays shuffle-free)") {
    withScratch(Seq("nested_bucketed")) { (root, data) =>
      val s = spark
      val tbl = graft.queries.MergeScaleQ.bucketedTableName(data)
      val first = graft.queries.MergeScaleQ
        .queries("q83_merge_scale_bucketed")(s, data)
        .collect().map(_.toString).sorted.toSeq
      val builtAt = storeMtimes(root)
      coldCatalog(tbl)
      val merged = graft.engine.Merge.mergeSubmissions(
        graft.queries.MergeScaleQ.bucketedNested(s, data))
      val plan = PlanShape.render(merged)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"re-registered bucketed store lost its layout (merge shuffles):\n$plan")
      val second = graft.queries.MergeScaleQ
        .queries("q83_merge_scale_bucketed")(s, data)
        .collect().map(_.toString).sorted.toSeq
      assert(second === first)
      assert(storeMtimes(root) === builtAt, "re-open rebuilt the bucketed store")
    }
  }

  test("asof_dim store: the recorded bounds TABLE PROPERTY survives cold-catalog re-registration") {
    // round 16: the dimension's time axis rides the manifest's
    // TableMeta props, so a cold catalog re-registers it and the SQL
    // split lowering (ResolveAsofJoin.catalogBounds) keeps skipping its
    // bounds subquery in every later session — not just the building
    // one (ExtensionsSpec pins the plan shape; this pins durability)
    withScratch(Seq("asof_dim")) { (root, data) =>
      val s = spark
      val tbl = Storage.tableNameFor("graft_asof_dim", data)
      def props(): Map[String, String] = s.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(tbl))
        .properties
      graft.queries.EventsMerge.asofDimStore(s, data)
      val recorded = props().get("graft.asof.bounds.ts")
      assert(recorded.isDefined, "the build must record the bounds property")
      val Array(lo, hi) = recorded.get.split(",").map(_.toDouble)
      assert(hi > lo, s"recorded axis must be non-degenerate: $recorded")
      val builtAt = storeMtimes(root)
      coldCatalog(tbl)
      graft.queries.EventsMerge.asofDimStore(s, data)
      assert(props().get("graft.asof.bounds.ts") === recorded,
        "re-registration must carry the recorded bounds property")
      assert(storeMtimes(root) === builtAt,
        "re-open rebuilt the asof_dim store instead of registering it")
    }
  }

  test("a batch dir landed on disk is served once marked, re-listed after a rewrite") {
    // delta tables are path tables: each open lists the partition
    // directories on disk and keeps those with a commit marker, so a
    // partition another process lands needs no catalog step to become
    // visible — and its marker alone decides when it does
    withScratch(Seq("asof_accept")) { (root, data) =>
      val s = spark
      import s.implicits._
      def open(): org.apache.spark.sql.DataFrame =
        graft.queries.EventsMerge.asofAcceptStore(s, data)
      def events(delta: org.apache.spark.sql.DataFrame): Set[Long] =
        delta.filter($"batch_id" === "007").select("event_id")
          .collect().map(_.getLong(0)).toSet
      open() // build
      val tbl = Storage.tableNameFor("graft_asofacc", data)
      // a FOREIGN process lands a partition on disk, no marker yet
      def land(eventId: Long): Unit =
        Seq((990000001L, eventId, 3L, 4.0))
          .toDF("user_id", "event_id", "ts", "value")
          .write.mode("overwrite")
          .parquet(new Storage(s, root).path(tbl) + "/batch_id=007")
      land(990000002L)
      assert(DurableStores.presentBatchPartitions(s, tbl) === Set("007"))
      assert(events(open()).isEmpty, "an unmarked partition must stay invisible")
      DurableStores.markBatchCommitted(s, data, "asof_accept", "007")
      val marked = open()
      assert(events(marked) === Set(990000002L),
        "a marked partition must be visible at the next open")
      assert(marked.select("batch_id").distinct().as[String].collect().toSeq
        === Seq("007"), "the batch id must read back as the string it names")
      // an in-place rewrite of the same partition dir
      land(990000003L)
      assert(events(open()) === Set(990000003L),
        "the rewritten partition's files must be re-listed at the next open")
    }
  }

  test("cosine store: a cold open answers the same and cells still prune") {
    withScratch(Seq("cosine_index")) { (root, data) =>
      val s = spark
      val centT = Storage.tableNameFor("graft_cosidx_cents", data)
      val memT = Storage.tableNameFor("graft_cosidx_members", data)
      val first = graft.queries.LlmOps
        .queries("q92_embedding_incremental_stored")(s, data)
        .collect().map(_.toString).sorted.toSeq
      graft.engine.CacheRegistry.releaseAll()
      val builtAt = storeMtimes(root)
      coldCatalog(centT, memT)
      val second = graft.queries.LlmOps
        .queries("q92_embedding_incremental_stored")(s, data)
        .collect().map(_.toString).sorted.toSeq
      graft.engine.CacheRegistry.releaseAll()
      assert(second === first)
      assert(storeMtimes(root) === builtAt, "re-open rebuilt the cosine index")
      // the member path table still prunes by cell
      val (_, members) = graft.queries.LlmOps.cosineStore(s, data)
      val oneCell = members.select("cell").limit(1).collect()(0).get(0)
      val pruned = members.filter(col("cell") === lit(oneCell))
      pruned.collect()
      val prunedPlan = PlanShape.render(pruned)
      assert(prunedPlan.contains("PartitionFilters") && prunedPlan.contains("cell"),
        s"cell filter no longer a partition filter after a cold open:\n$prunedPlan")
    }
  }

  test("accept deltas survive a cold open: the probe finds accepted docs") {
    withScratch(Seq("sketch", "sketch_accept")) { (root, data) =>
      val s = spark
      import s.implicits._
      graft.queries.LlmOps.sketchStore(s, data) // base store
      val dup = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
      graft.queries.LlmOps.acceptSketchBatch(s, data, "b1",
        Seq((900001L, dup)).toDF("doc_id", "text"), "doc_id", "text")
      graft.engine.CacheRegistry.releaseAll()
      val builtAt = storeMtimes(root)
      coldCatalog(
        Storage.tableNameFor("graft_sketch_shingles", data),
        Storage.tableNameFor("graft_sketch_bands", data),
        Storage.tableNameFor("graft_sketch_chunks", data),
        Storage.tableNameFor("graft_sketchacc_shingles", data),
        Storage.tableNameFor("graft_sketchacc_bands", data),
        Storage.tableNameFor("graft_sketchacc_chunks", data))
      val (sh, bands, chunks) = graft.queries.LlmOps.sketchStore(s, data)
      val (ash, abands, achunks) = graft.queries.LlmOps.sketchAcceptStore(s, data)
      // the cold open lists the committed batch from disk
      assert(ash.count() === 1)
      val pairs = graft.operators.Dedup.incrementalMinhashPairsFromStore(
        sh.unionByName(ash.drop("batch_id")),
        bands.unionByName(abands.drop("batch_id")),
        chunks.unionByName(achunks.drop("batch_id")),
        Seq((900100L, dup)).toDF("doc_id", "text"),
        "doc_id", "text", k = 32, bands = 4, threshold = 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(pairs.toSeq === Seq((900100L, 900001L, 1.0)))
      graft.engine.CacheRegistry.releaseAll()
      assert(storeMtimes(root) === builtAt,
        "cold re-open rewrote base or delta files")
    }
  }

  test("regenerated source data invalidates the store: fingerprint mismatch forces a rebuild") {
    withScratch(Seq("nested_bucketed")) { (root, data) =>
      val s = spark
      graft.queries.MergeScaleQ.bucketedNested(s, data).count()
      val builtAt = storeMtimes(root)
      // the driver regenerating testdata in place is exactly this:
      // same path, new file mtime (round 9's events.ts re-encoding)
      val orders = Paths.get(data, "orders.parquet")
      Files.setLastModifiedTime(orders,
        java.nio.file.attribute.FileTime.fromMillis(
          Files.getLastModifiedTime(orders).toMillis + 5000))
      coldCatalog(graft.queries.MergeScaleQ.bucketedTableName(data))
      val n = graft.queries.MergeScaleQ.bucketedNested(s, data).count()
      assert(n > 0)
      assert(storeMtimes(root) !== builtAt,
        "store served stale files for regenerated source data")
    }
  }

  test("build-params mismatch forces a rebuild; matching params re-register") {
    withScratch(Seq("spec_params")) { (root, data) =>
      val s = spark
      import s.implicits._
      val tbl = Storage.tableNameFor("graft_spec_params", data)
      def build(n: Int): Storage => Seq[DurableStores.TableMeta] = st => {
        st.appendTable(tbl, (1 to n).map(_.toLong).toDF("x"))
        Seq(DurableStores.TableMeta.plain(s, tbl))
      }
      DurableStores.openOrBuild(s, data, "spec_params", Seq(tbl),
        params = "n=1")(build(1))
      val m1 = storeMtimes(root)
      assert(s.table(tbl).count() === 1)
      // same params: pure re-registration, the builder must NOT run
      coldCatalog(tbl)
      DurableStores.openOrBuild(s, data, "spec_params", Seq(tbl),
        params = "n=1")(build(99))
      assert(s.table(tbl).count() === 1)
      assert(storeMtimes(root) === m1)
      // changed params: the at-rest layout no longer matches the
      // caller's constants — rebuild, exactly like changed source data
      coldCatalog(tbl)
      DurableStores.openOrBuild(s, data, "spec_params", Seq(tbl),
        params = "n=2")(build(2))
      assert(s.table(tbl).count() === 2)
      assert(storeMtimes(root) !== m1)
    }
  }

  /** The store's manifest file under `root/_meta` (glob by store
    * prefix — the digest half of the name is private). */
  private def manifestFile(root: String, store: String): Path =
    scala.util.Using.resource(Files.list(Paths.get(root, "_meta"))) {
      _.filter { p =>
        val n = p.getFileName.toString
        n.startsWith(store + "_") && n.endsWith(".meta")
      }.findFirst.orElseThrow(() =>
        new AssertionError(s"no manifest for $store under $root/_meta"))
    }

  test("params-only mismatch runs the caller's in-place migration instead of a rebuild") {
    // ADVICE r16 (medium): a params bump used to drop-and-rebuild from
    // SOURCE — silently discarding compact-folded accept batches. A
    // caller-supplied migration re-stamps the existing layout under
    // the new params; the builder must never run.
    withScratch(Seq("spec_migrate")) { (root, data) =>
      val s = spark
      import s.implicits._
      val tbl = Storage.tableNameFor("graft_spec_migrate", data)
      def build(n: Int): Storage => Seq[DurableStores.TableMeta] = st => {
        st.appendTable(tbl, (1 to n).map(_.toLong).toDF("x"))
        Seq(DurableStores.TableMeta.plain(s, tbl))
      }
      var migrated = 0
      val migration: DurableStores.Migration = (oldP, _, tables) =>
        if (oldP != "v=1") None
        else {
          migrated += 1
          s.sql(s"ALTER TABLE `$tbl` SET TBLPROPERTIES ('spec.mig'='yes')")
          Some(tables.map(t =>
            t.copy(props = (t.props.toMap + ("spec.mig" -> "yes")).toSeq)))
        }
      DurableStores.openOrBuild(s, data, "spec_migrate", Seq(tbl),
        params = "v=1")(build(1))
      val dataFiles = storeMtimes(root).filter(_._1.contains("graft_spec"))
      // reopen under the NEW params with the migration: in place —
      // table files untouched, row count unchanged, builder not run
      coldCatalog(tbl)
      DurableStores.openOrBuild(s, data, "spec_migrate", Seq(tbl),
        params = "v=2", migrate = migration)(build(99))
      assert(migrated === 1)
      assert(s.table(tbl).count() === 1, "migration must keep the rows")
      assert(storeMtimes(root).filter(_._1.contains("graft_spec"))
        === dataFiles, "migration must not rewrite the at-rest files")
      // the manifest now records v=2 WITH the re-stamped props: a cold
      // reopen under v=2 pure-re-registers (no migration, no build)
      // and the migrated property survives into the fresh catalog
      coldCatalog(tbl)
      DurableStores.openOrBuild(s, data, "spec_migrate", Seq(tbl),
        params = "v=2", migrate = migration)(build(50))
      assert(migrated === 1, "a matching manifest must not re-migrate")
      assert(s.table(tbl).count() === 1)
      val props = s.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(tbl)).properties
      assert(props.get("spec.mig").contains("yes"),
        s"re-registration must carry the migrated prop, got $props")
    }
  }

  test("params-only rebuild is refused while folded batches exist (no migration path)") {
    withScratch(Seq("spec_guard")) { (root, data) =>
      val s = spark
      import s.implicits._
      val tbl = Storage.tableNameFor("graft_spec_guard", data)
      def build(n: Int): Storage => Seq[DurableStores.TableMeta] = st => {
        st.appendTable(tbl, (1 to n).map(_.toLong).toDF("x"))
        Seq(DurableStores.TableMeta.plain(s, tbl))
      }
      DurableStores.openOrBuild(s, data, "spec_guard", Seq(tbl),
        params = "v=1")(build(3))
      // a compact folded batch b1 into this base: its rows exist ONLY
      // here now — the ledger is the proof
      DurableStores.retireFoldedBatches(s, data, "spec_guard", Set("b1"))
      coldCatalog(tbl)
      val ex = intercept[RuntimeException] {
        DurableStores.openOrBuild(s, data, "spec_guard", Seq(tbl),
          params = "v=2")(build(9))
      }
      assert(ex.getMessage.contains("refusing to rebuild") &&
        ex.getMessage.contains("spec_guard"), ex.getMessage)
      // the veto left the at-rest store intact: reopening under the
      // OLD params re-registers and serves it (the vetoed open itself
      // registers nothing — it threw)
      DurableStores.openOrBuild(s, data, "spec_guard", Seq(tbl),
        params = "v=1")(build(99))
      assert(s.table(tbl).count() === 3, "the veto must leave the store")
      // a FINGERPRINT change keeps the documented rebuild contract
      // (source regenerated: the whole derived store is stale) even
      // while the ledger is non-empty
      val orders = Paths.get(data, "orders.parquet")
      Files.setLastModifiedTime(orders,
        java.nio.file.attribute.FileTime.fromMillis(
          Files.getLastModifiedTime(orders).toMillis + 5000))
      coldCatalog(tbl)
      DurableStores.openOrBuild(s, data, "spec_guard", Seq(tbl),
        params = "v=2")(build(9))
      assert(s.table(tbl).count() === 9)
      // and a SAME-PARAMS manifest whose table files went missing
      // keeps the historical self-heal rebuild even over a non-empty
      // ledger: the base is already gone — a veto could never bring
      // the folds back, only wedge the store (r17 review)
      val st = new Storage(s, root)
      scala.util.Using.resource(
          java.nio.file.Files.walk(Paths.get(st.path(tbl)))) {
        _.sorted(Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
      }
      coldCatalog(tbl)
      DurableStores.openOrBuild(s, data, "spec_guard", Seq(tbl),
        params = "v=2")(build(5))
      assert(s.table(tbl).count() === 5,
        "missing files + matching params must self-heal, not veto")
    }
  }

  test("every fold family upgrades a params-only bump in place via its registered reStampMigration") {
    // VERDICT r17 item 2: only the asof family had a migration path —
    // for sketch/cosine/cluster/merge the next params bump wedged
    // deployments behind the fold-guard veto until a manual (lossy)
    // drop. Each family now registers reStampMigration over its LAYOUT
    // keys: a bump that only adds a non-layout key (the r16 asof
    // "bounds=prop" shape, simulated here by rewinding the manifest to
    // a legacy params string) upgrades in place — the builder never
    // runs, at-rest files untouched, the folded ledger (and therefore
    // the folds' replay-no-op contract) survives.
    val allStores = Seq("sketch", "sketch_accept", "clusters",
      "cluster_accept", "cosine_index", "cosine_accept", "merged_base",
      "merge_log", "merge_accept", "nested_bucketed")
    withScratch(allStores) { (root, data) =>
      val s = spark
      val families: Seq[(String, String, () => Unit)] = Seq(
        ("sketch", "sketch_accept",
          () => { graft.queries.LlmOps.sketchStore(s, data); () }),
        ("cosine_index", "cosine_accept",
          () => { graft.queries.LlmOps.cosineStore(s, data); () }),
        ("clusters", "cluster_accept",
          () => { graft.queries.LlmOps.clusterStore(s, data); () }),
        ("merged_base", "merge_log",
          () => { graft.queries.MergeScaleQ.mergedBaseStore(s, data,
            graft.queries.MergeScaleQ.incrementalCutoff); () }))
      families.foreach { case (store, guard, build) =>
        graft.engine.CacheRegistry.withRetained(build())
        graft.engine.CacheRegistry.releaseAll()
        // a compact folded a batch whose rows now live ONLY in this
        // base — the exact state the fold guard protects (a rebuild
        // would veto; only an in-place migration may proceed)
        DurableStores.retireFoldedBatches(s, data, guard,
          Set(s"mig_$store"))
        val Some((params, tables)) =
          DurableStores.manifestSummaryForTest(s, data, store)
        DurableStores.reStampManifestParamsForTest(s, data, store,
          params + ",legacy=1")
        val dataFiles = storeMtimes(root).filter(!_._1.contains("/_meta/"))
        coldCatalog(tables: _*)
        DurableStores.drainMigrationLog()
        graft.engine.CacheRegistry.withRetained(build())
        graft.engine.CacheRegistry.releaseAll()
        val ran = DurableStores.drainMigrationLog()
        assert(ran.map(_._1) === Seq(store),
          s"$store: exactly one migration must run, got $ran")
        assert(ran.head._2 === params + ",legacy=1" &&
          ran.head._3 === params, s"$store: $ran")
        assert(storeMtimes(root).filter(!_._1.contains("/_meta/"))
          === dataFiles,
          s"$store: migration must not rewrite any at-rest file")
        assert(DurableStores.manifestSummaryForTest(s, data, store)
          .exists(_._1 === params),
          s"$store: the manifest must be re-stamped under current params")
        assert(DurableStores.foldedBatches(s, data, guard)
          .contains(s"mig_$store"),
          s"$store: the folded ledger must survive the upgrade")
        assert(s.table(tables.head).count() > 0,
          s"$store: the migrated store must still serve")
      }
      // a LAYOUT-key bump must still fall through to the rebuild
      // contract — which the fold guard vetoes while folds exist, with
      // the veto message naming the non-destructive exit (r17 item 6)
      val Some((skParams, skTables)) =
        DurableStores.manifestSummaryForTest(s, data, "sketch")
      DurableStores.reStampManifestParamsForTest(s, data, "sketch",
        skParams.replace("k=32", "k=31"))
      coldCatalog(skTables: _*)
      val ex = intercept[RuntimeException] {
        graft.queries.LlmOps.sketchStore(s, data)
      }
      assert(ex.getMessage.contains("refusing to rebuild") &&
        ex.getMessage.contains("StoreAdmin migrate"), ex.getMessage)
      graft.engine.CacheRegistry.releaseAll()
    }
  }

  test("StoreAdmin migrate applies the registered migration explicitly and reports the transition") {
    // VERDICT r17 item 6: operators hitting the fold-guard veto had
    // only `drop` (lossy) — `migrate` opens the family with the
    // current code, runs any registered in-place migration, and
    // reports exactly what changed (or that nothing needed to).
    withScratch(Seq("spec_admin_mig")) { (root, data) =>
      val s = spark
      import s.implicits._
      val tbl = Storage.tableNameFor("graft_spec_admin_mig", data)
      var built = 0
      def open(): Unit =
        DurableStores.openOrBuild(s, data, "spec_admin_mig", Seq(tbl),
          params = "v=2,buckets=4",
          migrate = DurableStores.reStampMigration("v=2,buckets=4",
            Set("buckets"))) { st =>
          built += 1
          st.appendTable(tbl, Seq(1L, 2L).toDF("x"))
          Seq(DurableStores.TableMeta.plain(s, tbl))
        }
      val targets = Seq("spec_admin_mig" -> (() => open()))
      // a fresh family builds; nothing to migrate, and the report says so
      val r1 = StoreAdmin.runMigrate(targets, data)
      assert(r1.exists(_.contains("already current")) && built === 1,
        r1.toString)
      // rewind the manifest to a legacy params form (old code had no
      // `v` key — the next code version added a non-layout param)
      DurableStores.reStampManifestParamsForTest(s, data,
        "spec_admin_mig", "buckets=4")
      coldCatalog(tbl)
      val r2 = StoreAdmin.runMigrate(targets, data)
      assert(r2.exists(l => l.contains("migrated in place") &&
        l.contains("spec_admin_mig") &&
        l.contains("'buckets=4' -> 'v=2,buckets=4'")), r2.toString)
      assert(built === 1, "migrate must never rebuild")
      assert(s.table(tbl).count() === 2)
      // idempotent: a second migrate pass reports already-current
      val r3 = StoreAdmin.runMigrate(targets, data)
      assert(r3.exists(_.contains("already current")) && built === 1,
        r3.toString)
      // a LAYOUT-key bump under a non-empty folded ledger is NOT
      // migratable: the verb must report the veto for that store and
      // keep processing the remaining targets instead of aborting
      DurableStores.retireFoldedBatches(s, data, "spec_admin_mig",
        Set("am_x1"))
      DurableStores.reStampManifestParamsForTest(s, data,
        "spec_admin_mig", "v=2,buckets=8")
      coldCatalog(tbl)
      var other = 0
      val r4 = StoreAdmin.runMigrate(
        targets :+ ("spec_admin_other" -> (() => { other += 1 })), data)
      assert(r4.exists(l => l.contains("NOT migratable") &&
        l.contains("spec_admin_mig")), r4.toString)
      assert(built === 1, "the veto must not rebuild")
      assert(other === 1, "a vetoed family must not abort the rest")
    }
  }

  test("a pre-r16 asof_dim store upgrades in place: folds kept, bounds re-derived and recorded") {
    // the concrete store the ADVICE finding named: r15 manifests carry
    // the bare layout params; reopening with r16+ code must migrate —
    // not rebuild from source, which would discard the compact-folded
    // accept batch for good (its id sits in the folded ledger, so the
    // replay is a no-op and the rows are unrecoverable).
    withScratch(Seq("asof_dim", "asof_accept")) { (root, data) =>
      val s = spark
      import s.implicits._
      val tbl = Storage.tableNameFor("graft_asof_dim", data)
      graft.queries.EventsMerge.asofDimStore(s, data)
      graft.queries.EventsMerge.acceptAsofDimBatch(s, data, "mig_b1",
        Seq((990000077L, 990000601L, 500000L, 9.9))
          .toDF("user_id", "event_id", "ts", "value"),
        lineage = Some(Set("mig_b1")))
      assert(graft.queries.EventsMerge.compactAsofDimStore(s, data),
        "the fold must run")
      assert(DurableStores.foldedBatches(s, data, "asof_accept")
        .contains("mig_b1"))
      // rewind the manifest to its r15 form: bare layout params, no
      // props field — and delete the note + live property so the
      // migration's re-derivation is observable
      val mf = manifestFile(root, "asof_dim")
      val lines = Files.readString(mf).split("\n").toSeq
      val head = lines.head.split("\\|", 2)
      val oldHead = head(0) + "|buckets=16,sort=user_id.ts.event_id"
      val oldTables = lines.tail.map(_.split("\t").take(6).mkString("\t"))
      Files.writeString(mf, (oldHead +: oldTables).mkString("\n") + "\n")
      // the rewrite bypassed Hadoop's ChecksumFileSystem — drop the
      // stale .crc sidecar so the reader sees the edited manifest
      Files.deleteIfExists(
        mf.getParent.resolve("." + mf.getFileName.toString + ".crc"))
      scala.util.Using.resource(Files.list(Paths.get(root, "_meta"))) {
        _.filter(_.getFileName.toString.contains("note_ts_bounds"))
          .forEach(p => Files.delete(p))
      }
      val baseFiles = storeMtimes(root)
        .filter(_._1.contains("graft_asof_dim"))
      coldCatalog(tbl)
      // the reopen migrates: no exception (the fold guard would veto a
      // rebuild), no file rewritten, folded row still served
      graft.queries.EventsMerge.asofDimStore(s, data)
      assert(storeMtimes(root).filter(_._1.contains("graft_asof_dim"))
        === baseFiles, "migration must not rebuild the base")
      assert(s.table(tbl).filter(col("event_id") === 990000601L)
        .count() === 1, "the folded batch's row must survive the upgrade")
      val props = s.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(tbl)).properties
      assert(props.contains("graft.asof.bounds.ts"),
        s"migration must record the bounds property, got $props")
      assert(DurableStores.readNote(s, data, "asof_dim", "ts_bounds")
        .isDefined, "migration must re-derive the bounds note")
    }
  }

  test("an accept past the recorded hi widens the bounds note + property, surviving a cold reopen") {
    // VERDICT r16 item 2: bounds were recorded at build/compact only,
    // so append-only accepts eroded the conf-routed split's spread —
    // every post-hi row clamped into the last time bucket until a
    // compact. The accept now widens the recorded axis in the same
    // verb, under the same writer lease.
    withScratch(Seq("asof_dim", "asof_accept")) { (root, data) =>
      val s = spark
      import s.implicits._
      val tbl = Storage.tableNameFor("graft_asof_dim", data)
      graft.queries.EventsMerge.asofDimStore(s, data)
      val Some((lo0, hi0)) =
        graft.queries.EventsMerge.asofDimTimeBounds(s, data)
      val past = (hi0 + 7e6).toLong
      graft.queries.EventsMerge.acceptAsofDimBatch(s, data, "wid_b1",
        Seq((990000088L, 990000701L, past, 1.5))
          .toDF("user_id", "event_id", "ts", "value"),
        lineage = Some(Set("wid_b1")))
      val Some((lo1, hi1)) =
        graft.queries.EventsMerge.asofDimTimeBounds(s, data)
      assert(lo1 === lo0 && hi1 >= past.toDouble,
        s"accept must widen ($lo0,$hi0) past $past, got ($lo1,$hi1)")
      // the catalog property widened live AND survives a cold catalog
      def prop(): String = s.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(tbl))
        .properties("graft.asof.bounds.ts")
      assert(prop() === s"$lo1,$hi1")
      coldCatalog(tbl)
      graft.queries.EventsMerge.asofDimStore(s, data)
      assert(prop() === s"$lo1,$hi1",
        "the widened property must ride the manifest into a cold catalog")
      // idempotent: a replayed accept (no-op) must not disturb it
      graft.queries.EventsMerge.acceptAsofDimBatch(s, data, "wid_b1",
        Seq((990000088L, 990000701L, past, 1.5))
          .toDF("user_id", "event_id", "ts", "value"),
        lineage = Some(Set("wid_b1")))
      assert(prop() === s"$lo1,$hi1")
      // a MISSING axis is never replaced by a batch-only one (r17
      // review): widening is only safe relative to an existing axis —
      // the batch's hour-wide min/max stamped as the store's whole
      // axis would clamp the entire base into edge buckets. Delete
      // the note, accept another past-hi batch: nothing recorded,
      // the stale-but-valid property left alone.
      scala.util.Using.resource(Files.list(Paths.get(root, "_meta"))) {
        _.filter { p =>
          val n = p.getFileName.toString
          n.startsWith("asof_dim_") && n.contains("note_ts_bounds")
        }.forEach(p => Files.deleteIfExists(p))
      }
      graft.queries.EventsMerge.acceptAsofDimBatch(s, data, "wid_b2",
        Seq((990000089L, 990000702L, past + 9000000L, 2.5))
          .toDF("user_id", "event_id", "ts", "value"),
        lineage = Some(Set("wid_b1", "wid_b2")))
      assert(graft.queries.EventsMerge.asofDimTimeBounds(s, data).isEmpty,
        "no batch-only axis may be recorded for a store without one")
      assert(prop() === s"$lo1,$hi1",
        "the still-valid catalog property must not be narrowed")
    }
  }

  test("switching store roots re-points same-name catalog tables at the current root") {
    val s = spark
    import s.implicits._
    val data = Files.createTempDirectory("graft_root_data").toString
    Files.list(Paths.get("/root/testdata/sf0.001")).forEach(p =>
      Files.copy(p, Paths.get(data, p.getFileName.toString)))
    val rootA = Files.createTempDirectory("graft_rootA").toString
    val rootB = Files.createTempDirectory("graft_rootB").toString
    val tbl = Storage.tableNameFor("graft_spec_roots", data)
    def open(n: Int): Unit =
      DurableStores.openOrBuild(s, data, "spec_roots", Seq(tbl)) { st =>
        st.appendTable(tbl, (1 to n).map(_.toLong).toDF("x"))
        Seq(DurableStores.TableMeta.plain(s, tbl))
      }
    try {
      s.conf.set("spark.graft.store.root", rootA); open(1)
      assert(s.table(tbl).count() === 1)
      s.conf.set("spark.graft.store.root", rootB); open(2)
      assert(s.table(tbl).count() === 2)
      // back to A: the catalog entry still points at B's files —
      // serving it would silently answer from the wrong root; the
      // register path must drop and re-point it (builder must not run:
      // open(99) building would read 99 rows)
      s.conf.set("spark.graft.store.root", rootA); open(99)
      assert(s.table(tbl).count() === 1, "served the wrong root's files")
    } finally {
      Seq(rootA, rootB).foreach { r =>
        s.conf.set("spark.graft.store.root", r)
        DurableStores.drop(s, data, "spec_roots")
      }
      s.conf.unset("spark.graft.store.root")
      DurableStores.resetVerifiedForTest()
      Seq(rootA, rootB, data).foreach { d =>
        scala.util.Using.resource(Files.walk(Paths.get(d))) {
          _.sorted(Comparator.reverseOrder[Path]())
            .forEach(p => Files.deleteIfExists(p))
        }
      }
    }
  }

  test("a session re-serves store tables another session re-registered") {
    // sessions share the catalog but each caches the relations it has
    // read, file listings included: after another session re-registers
    // a store's tables at a new root and the old root is deleted, the
    // first session must serve the new registration, not its cache
    val s = spark
    val first = s.newSession()
    val data = Files.createTempDirectory("graft_xsession_data").toString
    Files.list(Paths.get("/root/testdata/sf0.001")).forEach(p =>
      Files.copy(p, Paths.get(data, p.getFileName.toString)))
    val r1 = Files.createTempDirectory("graft_xsession_r1").toString
    val r2 = Files.createTempDirectory("graft_xsession_r2").toString
    val dup = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    def accept(x: SparkSession, docs: Seq[Long]): Unit =
      graft.queries.LlmOps.acceptSketchBatch(x, data, "b1",
        x.createDataFrame(docs.map(d => (d, s"$dup $d"))).toDF("doc_id", "text"),
        "doc_id", "text")
    // (base shingle rows, committed delta doc ids)
    def read(x: SparkSession): (Long, Set[Long]) = {
      val (sh, _, _) = graft.queries.LlmOps.sketchStore(x, data)
      val (ash, _, _) = graft.queries.LlmOps.sketchAcceptStore(x, data)
      val out = (sh.count(), ash.select("doc").collect().map(_.getLong(0)).toSet)
      graft.engine.CacheRegistry.releaseAll()
      out
    }
    try {
      first.conf.set("spark.graft.store.root", r1)
      accept(first, Seq(900001L))
      assert(read(first)._2 === Set(900001L))
      s.conf.set("spark.graft.store.root", r2)
      accept(s, Seq(900002L, 900003L))
      val atR2 = read(s)
      assert(atR2._2 === Set(900002L, 900003L))
      scala.util.Using.resource(Files.walk(Paths.get(r1))) {
        _.sorted(Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
      }
      first.conf.set("spark.graft.store.root", r2)
      assert(read(first) === atR2,
        "the first session must serve the second's registration at r2")
    } finally {
      s.conf.set("spark.graft.store.root", r2)
      Seq("sketch", "sketch_accept").foreach(DurableStores.drop(s, data, _))
      s.conf.unset("spark.graft.store.root")
      DurableStores.resetVerifiedForTest()
      graft.engine.CacheRegistry.releaseAll()
      Seq(r1, r2, data).filter(d => Files.exists(Paths.get(d))).foreach { d =>
        scala.util.Using.resource(Files.walk(Paths.get(d))) {
          _.sorted(Comparator.reverseOrder[Path]())
            .forEach(p => Files.deleteIfExists(p))
        }
      }
    }
  }

  test("fingerprint tracks file length and mtime") {
    withScratch(Seq.empty) { (_, data) =>
      val s = spark
      val fp0 = DurableStores.fingerprint(s, data)
      assert(fp0 === DurableStores.fingerprint(s, data))
      val f = Paths.get(data, "region.parquet")
      Files.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.fromMillis(
          Files.getLastModifiedTime(f).toMillis + 5000))
      assert(DurableStores.fingerprint(s, data) !== fp0)
    }
  }
}
