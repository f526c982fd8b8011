package graft

import org.apache.spark.sql.SparkSession

import graft.storage.DurableStores

/** Operational entry point for the durable index-store lifecycle —
  * the admin surface of [[graft.storage.DurableStores]], mirroring the
  * reference's deferred-index maintenance step (the operator runs the
  * index build as a job, not as a query-time side effect —
  * faexport_db/schema/indexes.sql:1–24).
  *
  * Usage:
  *   sbt "runMain graft.StoreAdmin build   <dataDir> [store ...]"
  *   sbt "runMain graft.StoreAdmin refresh <dataDir> [store ...]"
  *   sbt "runMain graft.StoreAdmin compact <dataDir> [acceptStore ...]"
  *   sbt "runMain graft.StoreAdmin migrate <dataDir> [store ...]"
  *   sbt "runMain graft.StoreAdmin drop    <dataDir> [store ...]"
  *   sbt "runMain graft.StoreAdmin list    <dataDir>"
  *
  * With no store names, all fourteen families are addressed: eight
  * write-once bases — nested_bucketed, merged_base, asof_dim (the
  * time-sorted bucketed dimension q128 reads merge-ready), sketch,
  * cosine_index, kcenter_landmarks, sparse, clusters (the
  * materialized near-dup labels q123/q124 maintain) — plus the five
  * mutable ACCEPT-delta companions merge_accept (q125's write-back
  * half), asof_accept (q129's), sketch_accept, cluster_accept and
  * cosine_accept, and the merge family's permanent snapshot ingest
  * log merge_log (owns the merge accepts' commit markers; survives
  * merge_accept compaction by design). `build` is build-if-absent (a no-op when the
  * at-rest store is fingerprint-current); `refresh` drops and
  * rebuilds unconditionally — run it after intentionally regenerating
  * source data in place with unchanged file sizes AND mtimes (the one
  * shape the fingerprint cannot see); a no-arg refresh drops EVERY
  * family first and rebuilds in dependency order, so derived stores
  * (clusters, the accept deltas) never rebuild from a stale upstream
  * — `refresh <family>` with explicit names rebuilds only those, FROM
  * their current upstreams, and is for parameter changes local to one
  * family, not for source regeneration.
  *
  * `compact` FOLDS a snapshot of each accept family's committed
  * delta batches into its write-once base. Every family's compact
  * verb runs the one protocol of [[DurableStores.compactBatches]]
  * (accepts run [[DurableStores.acceptBatch]]): base rebuilt from
  * base ∪ snapshot deltas under the same manifest params; the
  * snapshot's markers RETIRE into the store's folded LEDGER; exactly
  * the snapshot's delta partitions are dropped — probe answers are
  * unchanged (StoreSpec) and plans return to a single base scan. A
  * batch whose accept commits while the fold runs is outside the
  * snapshot and survives untouched, so a live ingest stream and an
  * admin compact can overlap. The ledger durably records "folded
  * into the base": a replayed accept of a ledgered batch — e.g. a
  * streaming checkpoint replay racing a compact — is a no-op instead
  * of a guard error, while live markers (and the isin predicates
  * probes build from them) stay bounded by unfolded traffic.
  * Retention contract, stated plainly: refresh/drop of an accept
  * family DISCARDS its delta batches (markers and ledger) without
  * folding, and a
  * refresh of a BASE family rebuilds that base FROM SOURCE TABLES —
  * so batches previously folded in by `compact` are discarded too if
  * their docs are not in the sources. Recovery differs by family:
  * the merge family re-folds from its permanent snapshot log (run
  * `compact merge_accept` after a merged_base refresh — the coverage
  * probe detects the un-fold); the sketch/cluster/cosine families
  * have no log, so their folded batches must be re-accepted after
  * first refreshing the ACCEPT store too (clearing the folded ledger
  * that would otherwise no-op the replay). One more caveat: compaction
  * folds accepted batches into bases that the oracle gates
  * (q117/q125 etc.) assume are source-derived — after compacting a
  * root the gates share, refresh it before running Verify on it
  * (the gate roots in tools/durchain.sh are isolated for exactly
  * this reason).
  * `migrate` (round 18, r17 verdict item 6) is the NON-destructive
  * sibling of the escape hatch the fold-guard veto names: it opens
  * each requested family with the CURRENT code — running any
  * registered in-place migration (a params-only upgrade re-stamps the
  * manifest; folds and files untouched) — and reports exactly what
  * changed, per store, old params → new. A store already current
  * reports that; a store whose params bump touches a LAYOUT key still
  * hits the veto (by design — migrate cannot re-derive content).
  * `drop` removes catalog entries, files, and manifest. Root
  * selection: `spark.graft.store.root` conf, `GRAFT_STORE_ROOT` env,
  * else `<warehouse>/graft_stores`.
  */
object StoreAdmin {

  /** Store family → an action that ensures it exists (each accessor is
    * build-if-absent via DurableStores.openOrBuild). ORDERED so that
    * every derived family appears after its dependency — clusters
    * builds FROM the sketch tables, the accept deltas assign under
    * their base store's artifacts — and a no-arg `refresh` (which
    * drops everything first, then rebuilds in this order) can never
    * rebuild a derived store from a stale upstream. A Map here would
    * leave refresh-all correctness to hash iteration order. */
  private[graft] def builders(s: SparkSession, d: String): Seq[(String, () => Unit)] =
    Seq(
      "nested_bucketed" ->
        (() => { graft.queries.MergeScaleQ.bucketedNested(s, d); () }),
      "merged_base" ->
        (() => { graft.queries.MergeScaleQ.mergedBaseStore(s, d,
          graft.queries.MergeScaleQ.incrementalCutoff); () }),
      "merge_log" ->
        (() => { graft.queries.MergeScaleQ.mergeAcceptStore(s, d); () }),
      "asof_dim" ->
        (() => { graft.queries.EventsMerge.asofDimStore(s, d); () }),
      "asof_accept" ->
        (() => { graft.queries.EventsMerge.asofAcceptStore(s, d); () }),
      "merge_accept" ->
        (() => { graft.queries.MergeScaleQ.mergeAcceptStore(s, d); () }),
      "sketch" -> (() => { graft.queries.LlmOps.sketchStore(s, d); () }),
      "sketch_accept" ->
        (() => { graft.queries.LlmOps.sketchAcceptStore(s, d); () }),
      "clusters" -> (() => { graft.queries.LlmOps.clusterStore(s, d); () }),
      "cluster_accept" ->
        (() => { graft.queries.LlmOps.clusterAcceptStore(s, d); () }),
      "cosine_index" -> (() => { graft.queries.LlmOps.cosineStore(s, d); () }),
      "cosine_accept" ->
        (() => { graft.queries.LlmOps.cosineAcceptStore(s, d); () }),
      "kcenter_landmarks" ->
        (() => { graft.queries.CorpusOps.landmarkStore(s, d); () }),
      "sparse" -> (() => { graft.queries.CorpusOps.sparseStatsStore(s, d); () }))

  /** The `migrate` verb's body, extracted so DurableStoreSpec can
    * drive it against a spec-local store family: open each target with
    * the current code (running any registered in-place migration) and
    * render one report line per outcome — "migrated in place" with the
    * params transition, or "already current". Drains the migration log
    * around each build so a report line can never attribute another
    * family's migration. */
  private[graft] def runMigrate(targets: Seq[(String, () => Unit)],
      dataDir: String): Seq[String] = {
    DurableStores.drainMigrationLog() // discard unrelated earlier entries
    targets.flatMap { case (st, build) =>
      // a family whose params bump touches a LAYOUT key still hits the
      // fold-guard veto (migrate cannot re-derive content) — report it
      // per store and keep migrating the REST instead of aborting the
      // whole pass with one family's wedge
      val veto =
        try { graft.engine.CacheRegistry.withRetained(build()); None }
        catch {
          case e: RuntimeException
              if Option(e.getMessage).exists(_.contains("refusing to rebuild")) =>
            Some(e.getMessage.takeWhile(_ != '\n'))
        }
      val ran = DurableStores.drainMigrationLog()
      veto match {
        case Some(msg) =>
          Seq(s"[store-admin] NOT migratable (layout change — the fold " +
            s"guard vetoes a rebuild): $st ($dataDir): $msg")
        case None if ran.isEmpty =>
          Seq(s"[store-admin] already current (no migration ran): $st ($dataDir)")
        case None => ran.map { case (name, oldP, newP) =>
          s"[store-admin] migrated in place: $name ('$oldP' -> '$newP') ($dataDir)"
        }
      }
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: StoreAdmin build|refresh|compact|migrate|drop|list <dataDir> [store ...]")
    val (cmd, dataDir) = (args(0), args(1))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus.toInt)
      .getOrCreate()
    GraftSession.requireSqlSurface(spark)
    spark.sparkContext.setLogLevel("WARN")
    val all = builders(spark, dataDir)
    val known = all.map(_._1)
    val requested =
      if (args.length > 2) args.drop(2).toSeq else known
    requested.foreach { st =>
      require(known.contains(st),
        s"unknown store '$st' (know: ${known.sorted.mkString(", ")})")
    }
    // always act in declared (dependency) order, whatever order the
    // user typed the names in
    val targets = all.filter { case (n, _) => requested.contains(n) }
    cmd match {
      case "build" =>
        targets.foreach { case (st, build) =>
          graft.engine.CacheRegistry.withRetained(build())
          println(s"[store-admin] built-or-current: $st ($dataDir)")
        }
      case "refresh" =>
        // drop EVERY requested family first, then rebuild in
        // dependency order — a derived family (clusters) must never
        // rebuild against an upstream (sketch) that is about to be
        // dropped-and-rebuilt itself
        targets.foreach { case (st, _) =>
          DurableStores.drop(spark, dataDir, st)
        }
        targets.foreach { case (st, build) =>
          graft.engine.CacheRegistry.withRetained(build())
          println(s"[store-admin] refreshed: $st ($dataDir)")
        }
      case "compact" =>
        val folders: Seq[(String, () => Boolean)] = Seq(
          "merge_accept" ->
            (() => graft.queries.MergeScaleQ.compactMergeStore(spark, dataDir)),
          "asof_accept" ->
            (() => graft.queries.EventsMerge.compactAsofDimStore(spark, dataDir)),
          "sketch_accept" ->
            (() => graft.queries.LlmOps.compactSketchStore(spark, dataDir)),
          "cluster_accept" ->
            (() => graft.queries.LlmOps.compactClusterStore(spark, dataDir)),
          "cosine_accept" ->
            (() => graft.queries.LlmOps.compactCosineStore(spark, dataDir)))
        val foldable = folders.map(_._1).toSet
        val askedAccept =
          if (args.length > 2) args.drop(2).toSeq else folders.map(_._1)
        askedAccept.foreach { st =>
          require(foldable.contains(st),
            s"'$st' is not an accept family (compactable: " +
              s"${foldable.toSeq.sorted.mkString(", ")})")
        }
        folders.filter { case (n, _) => askedAccept.contains(n) }
          .foreach { case (st, fold) =>
            val folded = graft.engine.CacheRegistry.withRetained(fold())
            println(if (folded)
              s"[store-admin] compacted: $st ($dataDir)"
            else
              s"[store-admin] nothing committed to fold: $st ($dataDir)")
          }
      case "migrate" =>
        runMigrate(targets, dataDir).foreach(println)
      case "drop" =>
        targets.foreach { case (st, _) =>
          DurableStores.drop(spark, dataDir, st)
          println(s"[store-admin] dropped: $st ($dataDir)")
        }
      case "list" =>
        println(s"[store-admin] root: ${DurableStores.root(spark)}")
        println(s"[store-admin] fingerprint($dataDir): " +
          DurableStores.fingerprint(spark, dataDir))
        known.foreach(st => println(s"[store-admin] family: $st"))
      case other =>
        sys.error(s"unknown command '$other' " +
          "(build|refresh|compact|migrate|drop|list)")
    }
    spark.stop()
  }
}
