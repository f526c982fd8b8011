package graft.storage

import java.io.{BufferedReader, InputStreamReader, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.{StringType, StructType}

/** Cross-session lifecycle for the engine's write-once index stores
  * (the q83 bucketed nested store, the q91 sketch tables, the q92
  * cosine index, the q112 landmark table, the q115 sparse stats —
  * every "build once, probe forever" layout).
  *
  * Through round 10 each store built into a per-JVM
  * `Files.createTempDirectory`, which satisfied the correctness gate
  * but contradicted the stores' own contract: a second session had to
  * rebuild everything. This manager gives every store the lifecycle
  * the reference gives its covering indexes (deferred build, then
  * persistent — faexport_db/schema/indexes.sql:1–24):
  *
  *  - **durable root**: `spark.graft.store.root` conf, else the
  *    `GRAFT_STORE_ROOT` env var, else `<warehouse-dir>/graft_stores`
  *    — a stable location that outlives the SparkSession.
  *  - **build-if-absent**: the first opener builds the tables and
  *    writes a manifest (source-data fingerprint + per-table schema /
  *    layout metadata). Every later opener — same JVM or a cold one —
  *    finds the manifest, verifies the fingerprint, and RE-REGISTERS
  *    the at-rest files in its catalog via DDL without touching a
  *    byte of data. Hive-partitioned tables (the accept deltas, the
  *    cosine members) are PATH tables instead: never in the catalog,
  *    read from their directories with the recorded schema, so what a
  *    read sees is decided by the directories present (and, for the
  *    deltas, the commit markers) at the moment it opens.
  *  - **overwrite-on-refresh**: a fingerprint mismatch (the source
  *    data was regenerated under the same path), a build-params
  *    mismatch (the caller's layout constants changed), or an explicit
  *    [[drop]]-then-reopen (what `StoreAdmin refresh` runs) drops the
  *    catalog entries and files and rebuilds. Without this, a
  *    persisted store would silently serve answers for data — or
  *    parameters — that no longer exist; the round-9 testdata
  *    re-encoding demonstrated the data half of that failure mode.
  *
  * The manifest is written LAST, so a crash mid-build leaves no
  * manifest and the next opener cleans up and rebuilds; partial
  * stores are never served. All IO goes through the Hadoop FS API so
  * a non-local root (HDFS/S3A) works unchanged; the single in-JVM
  * lock serializes builders within a process, and the MUTATING verbs
  * (accept, compact) additionally hold a cross-process file lease
  * ([[withWriterLease]]) so two JVMs can no longer interleave writes
  * to the same store — the second writer fails fast with the holder's
  * identity, and a dead holder's lease goes stale and is taken over.
  */
object DurableStores {

  /** How one physical table re-registers in a cold catalog.
    * `sortCols` (empty = sorted by the bucket columns, the historical
    * default) lets a bucketed layout declare a FINER at-rest sort than
    * its bucket key — e.g. bucket by entity, sort by (entity, time) —
    * which the re-registration DDL must preserve or a cold catalog
    * would lose the scan's sort order and re-Sort on every read.
    * `props` are TABLE PROPERTIES the re-registration DDL must carry
    * (e.g. the as-of dimension's `graft.asof.bounds.<timeCol>` axis,
    * which the SQL split lowering reads from the catalog so a
    * conf-routed skew split over a stored dimension skips its bounds
    * subquery) — without them a cold catalog would silently lose the
    * planner-visible facts the build recorded. */
  final case class TableMeta(name: String, layout: String,
      layoutCols: Seq[String], numBuckets: Int, schemaDdl: String,
      sortCols: Seq[String] = Nil, props: Seq[(String, String)] = Nil)

  object TableMeta {
    /** Metadata captured AFTER the build (the catalog schema is the
      * source of truth — e.g. partition columns moved to the end). */
    def plain(s: SparkSession, name: String): TableMeta =
      TableMeta(name, "plain", Nil, 0, s.table(name).schema.toDDL)
    def bucketed(s: SparkSession, name: String, cols: Seq[String],
        numBuckets: Int): TableMeta =
      TableMeta(name, "bucketed", cols, numBuckets, s.table(name).schema.toDDL)
    def bucketedSorted(s: SparkSession, name: String, cols: Seq[String],
        sortCols: Seq[String], numBuckets: Int,
        props: Seq[(String, String)] = Nil): TableMeta =
      TableMeta(name, "bucketed", cols, numBuckets,
        s.table(name).schema.toDDL, sortCols, props)
    /** A path table hive-partitioned by `cols`: the recorded schema
      * is `schema` with the partition columns moved to the end, the
      * order a partitioned read returns. */
    def partitioned(name: String, cols: Seq[String],
        schema: StructType): TableMeta =
      TableMeta(name, "partitioned", cols, 0, StructType(
        schema.filterNot(f => cols.contains(f.name)) ++
          cols.map(schema(_))).toDDL)
  }

  /** Write `df` as the path table `name`, hive-partitioned by `cols`. */
  def writePartitioned(st: Storage, name: String, df: DataFrame,
      cols: Seq[String]): TableMeta = {
    df.write.partitionBy(cols: _*).parquet(st.path(name))
    TableMeta.partitioned(name, cols, df.schema)
  }

  /** A store table as a frame: a path table read whole from its
    * directory, any other table from the catalog. */
  def read(s: SparkSession, t: TableMeta): DataFrame =
    if (t.layout == "partitioned")
      readPaths(s, t, Seq(new Storage(s, root(s)).path(t.name)))
    else s.table(t.name)

  /** Path table `t` restricted to `dirs` (the table directory or some
    * of its partition directories), read with the recorded schema —
    * so a partition value such as `001` stays a string. No directory
    * gives an empty relation of that schema. */
  private def readPaths(s: SparkSession, t: TableMeta,
      dirs: Seq[String]): DataFrame = {
    val schema = StructType.fromDDL(t.schemaDdl)
    if (dirs.isEmpty) s.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else s.read.schema(schema)
      .option("basePath", new Storage(s, root(s)).path(t.name))
      .parquet(dirs: _*)
  }

  def root(s: SparkSession): String =
    s.conf.getOption("spark.graft.store.root")
      .orElse(sys.env.get("GRAFT_STORE_ROOT"))
      .getOrElse(s.conf.get("spark.sql.warehouse.dir")
        .stripSuffix("/") + "/graft_stores")

  private def fs(s: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Source-data identity: md5 over the sorted (relative path, length,
    * mtime) listing of every file under `dataDir`. Regenerated data —
    * even same-size — changes mtimes, so a stale store can never be
    * served for it. A directory listing per store per JVM; cached via
    * [[verified]]. */
  private[graft] def fingerprint(s: SparkSession, dataDir: String): String = {
    val f = fs(s, dataDir)
    val base = new Path(dataDir)
    val it = f.listFiles(base, true)
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && !st.getPath.getName.startsWith(".")) {
        val rel = st.getPath.toString.stripPrefix(f.makeQualified(base).toString)
        entries += s"$rel|${st.getLen}|${st.getModificationTime}"
      }
    }
    val digest = java.security.MessageDigest.getInstance("MD5")
    entries.sorted.foreach(e => digest.update(e.getBytes(StandardCharsets.UTF_8)))
    digest.digest().map("%02x".format(_)).mkString
  }

  private def manifestPath(s: SparkSession, store: String,
      dataDir: String): Path = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dataDir.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    new Path(s"${root(s)}/_meta/${store}_$digest.meta")
  }

  /** Line format (newline-free fields only — schema DDL and paths
    * contain no newlines): line 1 = fingerprint "|" build-params; then
    * one line per table: name TAB layout TAB numBuckets TAB
    * cols(comma) TAB ddl [TAB sortCols(comma)]. The sort-cols field is
    * optional: manifests written before it existed parse with sortCols
    * empty (= sorted by the bucket columns, the historical behavior),
    * exactly like params-less manifests parse with params "" and are
    * invalidated once by any accessor that now declares params — the
    * migration cost of closing the parameter-staleness hole (a store
    * built with old k/bands/cutoff silently serving a caller whose
    * code changed them). */
  /** Write `content` to `p` via tmp-write + delete + rename — ONE copy
    * of the swap so its crash-window semantics (a crash between delete
    * and rename leaves no file, which every reader treats as absent)
    * live in one place. Used by the manifest and the sidecar notes. */
  private def writeAtomic(f: FileSystem, p: Path, content: String): Unit = {
    val tmp = new Path(p.getParent, p.getName + ".tmp")
    val out = new OutputStreamWriter(f.create(tmp, true),
      StandardCharsets.UTF_8)
    try out.write(content) finally out.close()
    // a swallowed failure here turns a write error into a later phantom
    // "store missing" rebuild — surface it AT the write instead. The
    // delete's return is only checked when the target existed (Hadoop
    // FileSystems return false for delete-of-absent).
    if (f.exists(p) && !f.delete(p, false))
      throw new java.io.IOException(
        s"writeAtomic: could not delete $p before renaming $tmp over it")
    if (!f.rename(tmp, p))
      throw new java.io.IOException(
        s"writeAtomic: rename $tmp -> $p failed — the write did not land")
  }

  /** First line of `p`, or None (absent, empty, or unreadable) — ONE
    * copy of the read-with-cleanup dance, shared by the lease and the
    * sidecar notes. */
  private def readFirstLine(f: FileSystem, p: Path): Option[String] =
    try {
      if (!f.exists(p)) None
      else {
        val in = new BufferedReader(new InputStreamReader(
          f.open(p), StandardCharsets.UTF_8))
        try Option(in.readLine()) finally in.close()
      }
    } catch { case _: java.io.IOException => None }

  private def writeManifest(s: SparkSession, p: Path, fp: String,
      params: String, tables: Seq[TableMeta]): Unit = {
    require(!params.contains("\n") && !params.contains("|"),
      s"store params must be newline- and pipe-free: $params")
    val body = (Seq(fp + "|" + params) ++ tables.map { t =>
      // props ride an OPTIONAL 7th field (URL-encoded k=v pairs, comma-
      // joined — values like "lo,hi" encode their commas); when props
      // are present the sortCols field is always emitted (possibly
      // empty) so field positions stay unambiguous. Old manifests (<= 6
      // fields) parse with props Nil, like the sortCols migration.
      val propsField =
        if (t.props.isEmpty) Nil
        else Seq(t.props.map { case (k, v) =>
          java.net.URLEncoder.encode(k, "UTF-8") + "=" +
            java.net.URLEncoder.encode(v, "UTF-8")
        }.mkString(","))
      val sortField =
        if (t.sortCols.isEmpty && propsField.isEmpty) Nil
        else Seq(t.sortCols.mkString(","))
      (Seq(t.name, t.layout, t.numBuckets.toString,
        t.layoutCols.mkString(","), t.schemaDdl) ++ sortField ++ propsField)
        .mkString("\t")
    }).mkString("", "\n", "\n")
    writeAtomic(fs(s, p.toString), p, body)
  }

  private def readManifest(s: SparkSession,
      p: Path): Option[(String, String, Seq[TableMeta])] = {
    val f = fs(s, p.toString)
    if (!f.exists(p)) return None
    val in = new BufferedReader(
      new InputStreamReader(f.open(p), StandardCharsets.UTF_8))
    try {
      val head = in.readLine()
      if (head == null) return None
      val (fp, params) = head.split("\\|", 2) match {
        case Array(h, pr) => (h, pr)
        case Array(h) => (h, "")
      }
      val tables = Iterator.continually(in.readLine()).takeWhile(_ != null)
        .filter(_.nonEmpty).map { line =>
          val a = line.split("\t", 7)
          TableMeta(a(0), a(1),
            if (a(3).isEmpty) Nil else a(3).split(",").toSeq,
            a(2).toInt, a(4),
            if (a.length < 6 || a(5).isEmpty) Nil else a(5).split(",").toSeq,
            if (a.length < 7 || a(6).isEmpty) Nil
            else a(6).split(",").toSeq.map { kv =>
              val Array(k, v) = kv.split("=", 2)
              (java.net.URLDecoder.decode(k, "UTF-8"),
                java.net.URLDecoder.decode(v, "UTF-8"))
            })
        }.toVector
      Some((fp, params, tables))
    } finally in.close()
  }

  /** Re-register one at-rest catalog table — pure DDL over the
    * existing files, no data IO. Bucketed layouts restore
    * CLUSTERED/SORTED BY (bucket ids ride in the part-file names
    * Spark wrote, so bucketed scans work immediately). Path tables
    * (layout "partitioned") are never registered: [[read]] and
    * [[openDeltaTables]] open them from their directories. */
  private def register(s: SparkSession, st: Storage, t: TableMeta): Unit = {
    val loc = st.path(t.name)
    val clause = t.layout match {
      case "bucketed" =>
        val bc = t.layoutCols.map(c => s"`$c`").mkString(", ")
        val sc = (if (t.sortCols.isEmpty) t.layoutCols else t.sortCols)
          .map(c => s"`$c`").mkString(", ")
        s"CLUSTERED BY ($bc) SORTED BY ($sc) INTO ${t.numBuckets} BUCKETS"
      case _ => ""
    }
    val propsClause =
      if (t.props.isEmpty) ""
      else t.props.map { case (k, v) =>
        require(!k.contains("'") && !v.contains("'"),
          s"table property must be quote-free: $k=$v")
        s"'$k'='$v'"
      }.mkString("TBLPROPERTIES (", ", ", ") ")
    s.sql(s"CREATE TABLE `${t.name}` (${t.schemaDdl}) USING parquet " +
      s"$clause ${propsClause}LOCATION '$loc'")
  }

  /** (root, store, dataDir) combinations already fingerprint-checked
    * in this JVM, mapped to their parsed table metadata — later opens
    * are a pure in-memory catalog check, no manifest IO (the store
    * accessors run at the start of every gate/bench query; on a remote
    * root each re-read would be a per-query round-trip). */
  private val verified =
    scala.collection.mutable.Map.empty[(String, String, String), Seq[TableMeta]]

  /** Per session, the registration (see [[registration]]) of each
    * store table as that session last served it. A session caches a
    * table's relation, file listing included, on its first read; when
    * another session has since re-registered the name (another root,
    * or a rebuild), this session must refresh it before serving it or
    * it reads files that may be gone. Keyed by session (one relation
    * cache each) and weakly, so a session that is no longer referenced
    * takes its entries with it. */
  private val servedBySession =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.mutable.Map[String, (Path, Long)]]()

  /** For specs simulating a cold JVM: forget fingerprint checks and
    * what each session has served. */
  private[graft] def resetVerifiedForTest(): Unit =
    synchronized { verified.clear(); servedBySession.clear() }

  /** The catalog's registration of `name` — its qualified location and
    * creation time, which a drop and re-register always changes — or
    * None. A same-name TEMP VIEW passes tableExists but has no table
    * metadata (getTableMetadata throws), so it counts as no
    * registration: the caller drops the view and registers. */
  private def registration(s: SparkSession, name: String): Option[(Path, Long)] =
    if (!s.catalog.tableExists(name)) None
    else try {
      val m = s.sessionState.catalog.getTableMetadata(TableIdentifier(name))
      val loc = new Path(m.location)
      Some((fs(s, loc.toString).makeQualified(loc), m.createTime))
    } catch {
      case _: org.apache.spark.sql.catalyst.analysis.NoSuchTableException =>
        None
    }

  /** Make catalog table `t` servable in this session from the current
    * root: register it unless the catalog already has it at this
    * root's path (a same-name table pointing elsewhere is a relic of a
    * different root earlier in this JVM — serving it would answer from
    * the wrong root's files), then refresh this session's cached
    * relation if the registration is not the one it last served. Path
    * tables need neither. */
  private def serveHere(s: SparkSession, st: Storage, t: TableMeta): Unit =
    if (t.layout != "partitioned") {
      val want = new Path(st.path(t.name))
      val here = fs(s, want.toString).makeQualified(want)
      val reg = registration(s, t.name).filter(_._1 == here).orElse {
        dropRelation(s, t.name)
        register(s, st, t)
        registration(s, t.name)
      }
      val served = servedBySession.computeIfAbsent(s,
        _ => scala.collection.mutable.Map.empty)
      if (served.get(t.name) != reg) {
        s.sessionState.catalog.refreshTable(TableIdentifier(t.name))
        reg.foreach(served(t.name) = _)
      }
    }

  /** Drop whatever the catalog has under `name` — table or (temp)
    * view. DROP TABLE on a temp view errors in Spark, so the shadowed
    * case needs the view form. */
  private def dropRelation(s: SparkSession, name: String): Unit =
    if (s.catalog.tableExists(name)) {
      val isView =
        try s.catalog.getTable(name).tableType == "TEMPORARY"
        catch { case _: Throwable => false }
      if (isView) s.sql(s"DROP VIEW `$name`")
      else s.sql(s"DROP TABLE `$name`")
    }

  /** Replace the rows of bucketed catalog table `t` — a migration's
    * rewrite of one derived table. `rows` are written whole, bucketed
    * as `t` is, to a staging table first (so they may read any store
    * table, `t` included); the staged directory then replaces `t`'s
    * with one delete and one rename. `t`'s catalog entry is dropped, so
    * the next open re-registers it and every session refreshes its
    * cached relation. */
  def rewriteBucketed(s: SparkSession, t: TableMeta, rows: DataFrame): Unit = {
    val st = new Storage(s, root(s))
    val staging = t.name + "_staging"
    val (src, dst) = (new Path(st.path(staging)), new Path(st.path(t.name)))
    val f = fs(s, dst.toString)
    dropRelation(s, staging)
    f.delete(src, true)
    st.appendBucketed(staging, rows, t.layoutCols, t.numBuckets)
    dropRelation(s, staging)
    dropRelation(s, t.name)
    f.delete(dst, true)
    if (!f.rename(src, dst))
      throw new java.io.IOException(s"could not move $src to $dst")
  }

  /** Params-only upgrade hook for [[openOrBuild]]: invoked when the
    * manifest's source fingerprint still matches but its build-params
    * string differs — a CODE upgrade over unchanged data. Receives
    * (oldParams, storage, old table metas; the old tables are already
    * registered in the catalog so the hook can ALTER/scan them) and
    * returns the re-stamped metas to record under the NEW params for
    * an in-place migration (an old table they leave out is deleted once
    * that manifest has landed), or None to fall through to the historical
    * drop-and-rebuild (which the fold guard may veto — see
    * [[openOrBuild]]). */
  type Migration = (String, Storage, Seq[TableMeta]) => Option[Seq[TableMeta]]

  /** The default [[Migration]]: no in-place path, rebuild. */
  val noMigration: Migration = (_, _, _) => None

  /** Parse a "k=v,k=v" params string into a map (tokens without '='
    * keep an empty value so legacy free-form params still compare). */
  private def paramsMap(p: String): Map[String, String] =
    p.split(",").iterator.filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => (k, v)
        case Array(k) => (k, "")
      }
    }.toMap

  /** A [[Migration]] that RE-STAMPS the existing tables in place when
    * the params bump touches no LAYOUT key — the template every fold
    * family registers (round 18, r17 verdict item 2: only the asof
    * family had a migration path; for the sketch/cosine/cluster/merge
    * families the next params bump wedged every deployment behind the
    * fold-guard veto until an operator manually dropped the store,
    * discarding its folds).
    *
    * `layoutKeys` is the family's declared set of params keys that
    * determine the at-rest bytes (bucket counts, sketch k/bands,
    * cell counts, cutoffs). A bump that only ADDS or changes keys
    * OUTSIDE that set (the "bounds=prop" shape of the r16 asof bump)
    * is a pure code upgrade over identical files: the old table metas
    * are re-stamped under the new params, the builder never runs, and
    * compact-folded accept batches survive. Any layout-key difference
    * — changed, added, or removed — falls through to the rebuild
    * contract (which the fold guard may veto). CONTRACT for future
    * edits: anyone adding a param that changes built content MUST add
    * its key to the family's layoutKeys, or stale stores would be
    * re-stamped as current. */
  def reStampMigration(newParams: String,
      layoutKeys: Set[String]): Migration =
    (oldParams, _, tables) => {
      val o = paramsMap(oldParams)
      val n = paramsMap(newParams)
      if (layoutKeys.forall(k => o.get(k) == n.get(k))) Some(tables)
      else None
    }

  /** Migrations run in this JVM — (store, oldParams, newParams) in
    * order. `StoreAdmin migrate` drains it to report what an explicit
    * migration pass changed. */
  private val migrationLog =
    scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]

  private[graft] def drainMigrationLog(): Seq[(String, String, String)] =
    synchronized {
      val out = migrationLog.toSeq
      migrationLog.clear()
      out
    }

  /** Spec-only: rewrite `store`'s manifest params line in place, and
    * its table metas by `tables` (the at-rest files stay) — simulates a
    * manifest written by OLDER code so migration paths can be exercised
    * without keeping old binaries around. */
  private[graft] def reStampManifestParamsForTest(s: SparkSession,
      dataDir: String, store: String, oldParams: String,
      tables: Seq[TableMeta] => Seq[TableMeta] = identity): Unit =
    synchronized {
      val mp = manifestPath(s, store, dataDir)
      readManifest(s, mp).foreach { case (fp, _, ts) =>
        writeManifest(s, mp, fp, oldParams, tables(ts))
      }
      verified -= ((root(s), store, dataDir))
    }

  /** Spec-only peek: the manifest's (params, table names). */
  private[graft] def manifestSummaryForTest(s: SparkSession,
      dataDir: String, store: String): Option[(String, Seq[String])] =
    readManifest(s, manifestPath(s, store, dataDir))
      .map { case (_, p, tables) => (p, tables.map(_.name)) }

  /** Ensure `store`'s tables (the declared `tableNames`) are servable
    * in this session from at-rest files under [[root]], and return
    * their metadata: open them if the files and a current manifest
    * exist, otherwise run `build` (which must create/populate every
    * declared table through the given [[Storage]] — e.g.
    * appendBucketed/appendTable/[[writePartitioned]] — and return the
    * metadata needed to open each one later). Opening registers a
    * catalog table that is missing or registered at another root, and
    * refreshes one whose registration changed since this session last
    * served it ([[serveHere]]); a path table has no catalog entry, and
    * what it holds is whatever its directories hold when a read opens
    * it — which is also how partitions another process added become
    * visible, with no catalog step. "Current" means the source-data
    * fingerprint AND the caller's `params` string (the build constants
    * baked into the at-rest layout: sketch k/bands, index cell
    * counts, merge cutoffs, bucket counts) both match — a code change
    * to any build parameter invalidates the store exactly like
    * regenerated source data does, UNLESS the caller supplies a
    * `migrate` hook that upgrades the old layout in place (round 17;
    * see [[Migration]]). When no migration applies and the mismatch is
    * params-only, the rebuild is VETOED while any `foldGuards` store
    * (or this store itself) has a non-empty folded ledger: compacted
    * accept batches live ONLY in this base, and a silent rebuild from
    * source would discard them unrecoverably. Before a build, stale
    * same-name catalog entries (a store built under a different root
    * earlier in this JVM) and leftover location files from a crashed
    * build are dropped, so the build always starts clean and
    * append-mode writes can never double rows. */
  def openOrBuild(s: SparkSession, dataDir: String, store: String,
      tableNames: Seq[String], params: String = "",
      migrate: Migration = noMigration,
      foldGuards: Seq[String] = Nil)(
      build: Storage => Seq[TableMeta]): Seq[TableMeta] =
    synchronized {
      val r = root(s)
      val st = new Storage(s, r)
      val mp = manifestPath(s, store, dataDir)
      val key = (r, store, dataDir)
      val cached: Option[Seq[TableMeta]] = verified.get(key).orElse {
        val m = readManifest(s, mp)
        val fp = fingerprint(s, dataDir)
        val current = m.collect {
          case (f0, p, tables) if f0 == fp &&
            p == params && tables.forall(t => st.exists(t.name)) => tables
        }
        // params-only mismatch on UNCHANGED source data: a code
        // upgrade, not a data change — offer the caller's in-place
        // migration before the destructive drop-and-rebuild (the old
        // tables are registered first so the hook can ALTER/scan them)
        val migrated: Option[Seq[TableMeta]] =
          if (current.isDefined || (migrate eq noMigration)) None
          else m.collect {
            case (f0, oldP, tables) if f0 == fp && oldP != params &&
              tables.forall(t => st.exists(t.name)) => (oldP, tables)
          }.flatMap { case (oldP, tables) =>
            // the hook needs the old tables queryable (ALTER/scan) —
            // registration happens here, not earlier, so a
            // plain-rebuild path never pays catalog churn for tables
            // about to be dropped
            tables.foreach(serveHere(s, st, _))
            migrate(oldP, st, tables).map { newTables =>
              writeManifest(s, mp, fp, params, newTables)
              migrationLog += ((store, oldP, params))
              // tables the migration dropped go only once the manifest
              // that no longer lists them has landed: a crash before it
              // leaves every old table in place, and the next open
              // reruns the migration
              dropFiles(s, st, tables.filterNot(t =>
                newTables.exists(_.name == t.name)))
              newTables
            }
          }
        val use = current.orElse(migrated)
        if (m.isDefined && use.isEmpty) {
          // ADVICE r16 (medium): rebuilding from SOURCE permanently
          // discards every accept batch a compact has FOLDED into this
          // store's base — the folded ledger marks their ids replay-
          // no-op and their delta partitions are already deleted. On a
          // params-only mismatch (fp matches — the user changed
          // nothing; the CODE bumped its params) that loss must be
          // loud, not silent. A fingerprint change keeps the
          // documented rebuild contract (source regenerated — the
          // whole derived store, folds included, is stale), and so
          // does a MISSING-FILES manifest whose params still match
          // (the base is already gone — a veto could never bring the
          // folds back, only wedge the store; the historical
          // self-heal rebuild is the only option left).
          if (m.exists { case (f0, p0, _) => f0 == fp && p0 != params }) {
            val atRisk = (store +: foldGuards).distinct
              .filter(g => foldedBatches(s, dataDir, g).nonEmpty)
            if (atRisk.nonEmpty) sys.error(
              s"refusing to rebuild store '$store' (data dir $dataDir) " +
                s"over a params change ('${m.get._2}' -> '$params'): " +
                s"compacted accept batches are folded into its base " +
                s"(non-empty folded ledger for ${atRisk.mkString(", ")}) " +
                "and a rebuild from source would silently discard them " +
                "— their ids replay as no-ops. Either upgrade the code " +
                "path to pass a `migrate` hook for the old params and " +
                "apply it with `StoreAdmin migrate` (the non-destructive " +
                "exit), or drop the store explicitly (StoreAdmin drop / " +
                "DurableStores.drop) to accept the loss.")
          }
          dropStore(s, st, mp, m.get._3)
        }
        use.foreach(tables => verified(key) = tables)
        use
      }
      val tables = cached.getOrElse {
        tableNames.foreach { n =>
          dropRelation(s, n)
          fs(s, st.path(n)).delete(new Path(st.path(n)), true)
        }
        val built = build(st)
        writeManifest(s, mp, fingerprint(s, dataDir), params, built)
        verified(key) = built
        built
      }
      tables.foreach(serveHere(s, st, _))
      tables
    }

  /** Remove a store's catalog entries, at-rest files, and manifest. */
  def drop(s: SparkSession, dataDir: String, store: String): Unit =
    synchronized {
      val st = new Storage(s, root(s))
      val mp = manifestPath(s, store, dataDir)
      readManifest(s, mp).foreach { case (_, _, t) => dropStore(s, st, mp, t) }
      verified -= ((root(s), store, dataDir))
    }

  private def dropFiles(s: SparkSession, st: Storage,
      tables: Seq[TableMeta]): Unit =
    tables.foreach { t =>
      dropRelation(s, t.name)
      fs(s, st.path(t.name)).delete(new Path(st.path(t.name)), true)
    }

  private def dropStore(s: SparkSession, st: Storage, mp: Path,
      tables: Seq[TableMeta]): Unit = {
    dropFiles(s, st, tables)
    // commit markers, the folded-batch ledger, any writer lease, and
    // sidecar notes live and die with the store's manifest
    fs(s, mp.toString).delete(markerDir(mp), true)
    fs(s, mp.toString).delete(foldedLedger(mp), false)
    fs(s, mp.toString).delete(ledgerTmp(mp), false)
    fs(s, mp.toString).delete(leasePath(mp), false)
    val noteGlob = new Path(mp.getParent,
      mp.getName.stripSuffix(".meta") + ".note_*")
    Option(fs(s, mp.toString).globStatus(noteGlob)).toSeq.flatten
      .foreach(n => fs(s, mp.toString).delete(n.getPath, false))
    fs(s, mp.toString).delete(mp, false)
  }

  // ---- sidecar notes -------------------------------------------------

  private def notePath(mp: Path, key: String): Path = {
    require(key.matches("[A-Za-z0-9_-]+"), s"note key must be a slug: $key")
    new Path(mp.getParent, mp.getName.stripSuffix(".meta") + s".note_$key")
  }

  /** Record a small DATA-DERIVED fact next to `store`'s manifest —
    * e.g. the as-of dimension's time-axis (min, max), written once at
    * build so split-path probes can skip their bounds subquery
    * ([[graft.operators.AsofJoin.asofJoinNative]]'s `splitBounds`). Notes are deliberately NOT part of the build-params
    * contract: `params` is the CALLER's declaration compared for
    * staleness, so a data-derived value there would force a rebuild
    * loop. Builders write notes before the manifest lands (a crashed
    * build leaves no manifest, and the rebuild rewrites the note);
    * [[drop]] removes them with the store. Values must be one line. */
  def writeNote(s: SparkSession, dataDir: String, store: String,
      key: String, value: String): Unit = {
    require(!value.contains("\n"), "note values are one line")
    val np = notePath(manifestPath(s, store, dataDir), key)
    val f = fs(s, np.toString)
    f.mkdirs(np.getParent)
    writeAtomic(f, np, value)
  }

  /** The note's value, or None when absent/unreadable — callers treat
    * a missing note as "derive it yourself" (the pre-note behavior),
    * never an error. */
  def readNote(s: SparkSession, dataDir: String, store: String,
      key: String): Option[String] = {
    val np = notePath(manifestPath(s, store, dataDir), key)
    readFirstLine(fs(s, np.toString), np)
  }

  /** Merge `props` into one table's recorded properties — live
    * (`ALTER TABLE SET TBLPROPERTIES`, so this session's planner sees
    * them immediately) AND in the store manifest (so a cold catalog
    * re-registers them). Round 17: accept verbs use this to keep
    * planner-visible metadata (the as-of time-axis bounds) fresh as
    * deltas extend past the build-time values, instead of waiting for
    * the next compact. Callers run under the store family's writer
    * lease, which serializes the manifest rewrite cross-process the
    * same way compaction's is. No-op when the manifest is absent (a
    * mid-rebuild crash window — the rebuild re-derives the props). */
  def updateTableProps(s: SparkSession, dataDir: String, store: String,
      tableName: String, props: Seq[(String, String)]): Unit =
    synchronized {
      // validate BEFORE any write: a quoted value persisted into the
      // manifest would poison every later cold re-registration
      // (register() refuses it), bricking the store until hand-edited
      props.foreach { case (k, v) =>
        require(!k.contains("'") && !v.contains("'"),
          s"table property must be quote-free: $k=$v")
      }
      val mp = manifestPath(s, store, dataDir)
      readManifest(s, mp).foreach { case (fp, params, tables) =>
        val updated = tables.map { t =>
          if (t.name != tableName) t
          else t.copy(props = (t.props.toMap ++ props.toMap).toSeq)
        }
        writeManifest(s, mp, fp, params, updated)
        // refresh the in-JVM cache only where the open already
        // verified the fingerprint — never seed a verification here
        val key = (root(s), store, dataDir)
        if (verified.contains(key)) verified(key) = updated
        props.foreach { case (k, v) =>
          s.sql(s"ALTER TABLE `$tableName` SET TBLPROPERTIES ('$k'='$v')")
        }
      }
    }

  // ---- cross-process writer lease ------------------------------------

  /** In-JVM lease state per lease file: nested or concurrent writers
    * in the SAME process share the process's lease (each accept writes
    * only its own batch's partition, and the openOrBuild monitor
    * serializes builds); the file only guards OTHER processes.
    * Acquisition is atomic with registration: the per-key
    * monitor is held ACROSS the file acquisition, so a second in-JVM
    * thread blocks until the lease file actually exists (or the
    * acquisition failed) instead of running its verb in the window
    * where a foreign process could also acquire. `acquired` records
    * whether THIS JVM created the file — release only deletes the
    * lease it created, never a foreign holder's (the failure mode
    * where thread A's acquisition loses to a live foreign lease but
    * thread B, already counted, runs unprotected and then deletes the
    * FOREIGN lease on exit). States are never removed from the map
    * (bounded by the distinct stores a JVM touches) so two threads can
    * never race a remove/recreate into two states for one key. */
  private final class LeaseState {
    var holders = 0
    var acquired = false
    var heartbeat: java.util.concurrent.ScheduledFuture[_] = null
    /** The token THIS JVM wrote into the lease file — the heartbeat
      * verifies it before every renewal and the commit-marker fence
      * re-verifies it before every visibility write. */
    var token: String = null
    /** The backend the lease was acquired through (round 16: leases
      * are pluggable — the FS file next to the manifest by default, a
      * conditional-write HTTP endpoint for object-store roots); the
      * heartbeat, fence, and release all go through the SAME backend
      * the acquisition used. */
    var backend: LeaseBackend = null
    /** Consecutive failed heartbeat renewals; read by the fence. */
    val failures = new java.util.concurrent.atomic.AtomicInteger(0)
    /** Set when a heartbeat READ the lease file and found a FOREIGN
      * token — the lease was lost to a takeover; the fence aborts the
      * verb before it can publish another batch. */
    @volatile var lost = false
  }
  private val leaseStates =
    scala.collection.mutable.Map.empty[String, LeaseState]

  /** Daemon threads renewing every held lease's mtime: a verb that
    * runs longer than `leaseStaleMs` (a 100×-scale compact) must not
    * be silently preempted by a contender's stale-lease takeover
    * mid-write. The touch is an mtime bump (`setTimes`), the exact
    * freshness signal the takeover check reads. A small POOL (not one
    * thread): the touch is blocking filesystem I/O, and one store's
    * hung call (network partition on an object store) must not starve
    * every other held lease's renewal. */
  private lazy val leaseHeartbeats =
    java.util.concurrent.Executors.newScheduledThreadPool(4,
      (r: Runnable) => {
        val t = new Thread(r, "graft-lease-heartbeat")
        t.setDaemon(true)
        t
      })

  /** One heartbeat tick. The renewal VERIFIES the lease token before
    * touching the file: a tick racing the release-time delete (or a
    * stale takeover that already replaced the file) must never
    * freshen a lease a NEW foreign holder just created — that would
    * artificially freshen the foreign lease and delay a later
    * legitimate stale takeover by up to one stale horizon. A foreign
    * token marks the state `lost` (the commit-marker fence turns that
    * into a loud abort before the verb can publish anything else).
    * Failures are counted and LOUD after the second consecutive one —
    * a persistently failing renewal (e.g. a connector without
    * setTimes, a permissions change on _meta) means the
    * anti-preemption guarantee is gone and the operator must know
    * before a contender takes the lease over mid-verb. */
  private def heartbeatTick(st: LeaseState): Unit =
    st.backend.renew(st.token) match {
      case RenewOutcome.Renewed => st.failures.set(0)
      case RenewOutcome.Foreign(foreign) =>
        st.lost = true
        System.err.println(s"[graft] ERROR: writer lease " +
          s"${st.backend.where} is now held by a FOREIGN token " +
          s"($foreign) — this verb's lease was taken over; its next " +
          "commit-marker write will abort")
      case RenewOutcome.Failed(why) =>
        // a transient blip resets on the next good tick, a real loss
        // stays loud
        countHeartbeatFailure(st.backend.where, st, why)
    }

  private def countHeartbeatFailure(where: String, st: LeaseState,
      why: String): Unit =
    if (st.failures.incrementAndGet() >= 2)
      System.err.println(s"[graft] WARNING: writer-lease heartbeat " +
        s"on $where has failed ${st.failures.get()} times in a row " +
        s"($why) — the lease can go stale mid-verb and a contender " +
        "may take it over")

  private def leasePath(mp: Path): Path =
    new Path(mp.getParent, mp.getName.stripSuffix(".meta") + ".lease")

  /** The lease file's location for a (store, dataDir) — exposed so
    * specs can plant a foreign process's lease. */
  private[graft] def leaseLocation(s: SparkSession, dataDir: String,
      store: String): String =
    leasePath(manifestPath(s, store, dataDir)).toString

  /** Run a MUTATING store verb (accept, compact) under the store's
    * cross-process writer lease. Until round 12 the single-writer
    * contract was deployment convention only — nothing stopped two
    * JVMs accepting or compacting the same store concurrently, and a
    * concurrent compact + accept can interleave partition drops with
    * partition writes. The lease is a file next to the manifest,
    * created atomically (create-new semantics — HDFS/local rename-free
    * atomicity; on S3A this weakens to best-effort, same as every
    * lock-file protocol there): the second PROCESS fails fast with the
    * holder's identity rather than corrupting interleaved writes.
    * Within one process, holders are counted — streaming triggers and
    * query-thread accepts share the process lease exactly as before.
    *
    * A crashed writer's lease goes stale: holders older than
    * `spark.graft.store.leaseStaleMs` (default 30 min) are taken over
    * — but a LIVE long verb never goes stale, because a heartbeat
    * thread renews the held lease's mtime every staleMs/3 while the
    * verb runs ([[leaseHeartbeats]]). Takeover guards against the
    * double grant (see [[takeOverStaleLease]] for the honest scope —
    * narrowed to a syscall window and re-verified, not made atomic):
    * the stale lease is deleted only if its mtime is UNCHANGED from
    * the stale observation (a racing taker-over's fresh lease, or a
    * late heartbeat, has a new mtime and is never destroyed), and the
    * takeover's own create is verified — twice, around a settle pause
    * — by reading the unique token back.
    * StoreSpec simulates the two-process contention at the file
    * level: a planted foreign lease fails the verb fast — from EVERY
    * concurrent in-JVM thread, with the foreign lease left intact; an
    * aged one is taken over; a verb stalled past staleMs keeps its
    * lease via the heartbeat.
    *
    * The residual "both write" window — a verb whose lease WAS taken
    * over (heartbeat dead long enough, contender legitimately stale-
    * took it) used to keep writing — is closed at the visibility
    * layer: [[markBatchCommitted]] and [[retireFoldedBatches]] fence
    * every commit-marker / ledger write against the held token
    * ([[fenceAgainstLostLease]]), so a preempted verb aborts loudly
    * BEFORE its batch becomes readable; its orphan writes are healed
    * by the usual re-accept / orphan sweep. */
  def withWriterLease[A](s: SparkSession, dataDir: String,
      store: String)(body: => A): A = {
    val lp = leasePath(manifestPath(s, store, dataDir))
    val key = lp.toString
    val st = leaseStates.synchronized(
      leaseStates.getOrElseUpdate(key, new LeaseState))
    st.synchronized {
      if (st.holders == 0) {
        st.backend = leaseBackendFor(s, lp)
        // throws on a live foreign holder; returns the token it wrote
        st.token = acquireLease(s, st.backend, store)
        st.acquired = true
        st.failures.set(0)
        st.lost = false
        val staleMs = leaseStaleMs(s)
        val period = math.max(staleMs / 3, 25L)
        st.heartbeat = leaseHeartbeats.scheduleWithFixedDelay(
          () => heartbeatTick(st),
          period, period, java.util.concurrent.TimeUnit.MILLISECONDS)
      }
      st.holders += 1
    }
    try body
    finally st.synchronized {
      st.holders -= 1
      if (st.holders == 0) {
        if (st.heartbeat != null) { st.heartbeat.cancel(false); st.heartbeat = null }
        // only the acquirer may delete the lease — release after a
        // failed acquisition elsewhere must never destroy a foreign
        // holder's live lease. TOKEN-VERIFIED (inside the backend): if
        // the lease was taken over mid-verb (ours went stale, a
        // contender replaced it), the lease is the NEW holder's —
        // deleting it would strip a live writer of its lock at the
        // exact moment two writers already collided
        if (st.acquired) {
          st.backend.release(st.token)
          st.acquired = false
          st.token = null
        }
      }
    }
  }

  /** Which backend a store's writer lease lives on:
    * `spark.graft.store.lease.backend` = `fs` (default — the lease
    * file next to the manifest, atomic create-new where the filesystem
    * has it) or `http` (a conditional-write endpoint named by
    * `spark.graft.store.lease.http.url` — the real mutual-exclusion
    * lease for object-store roots whose own create is not atomic). */
  private def leaseBackendFor(s: SparkSession, lp: Path): LeaseBackend =
    s.conf.getOption("spark.graft.store.lease.backend")
      .getOrElse("fs") match {
      case "fs" =>
        val f = fs(s, lp.toString)
        assertAtomicLeaseFs(s, f, lp)
        new FsLeaseBackend(s, f, lp)
      case "http" =>
        val base = s.conf.getOption("spark.graft.store.lease.http.url")
          .getOrElse(throw new IllegalArgumentException(
            "spark.graft.store.lease.backend=http needs " +
              "spark.graft.store.lease.http.url (a conditional-write " +
              "endpoint honoring If-None-Match/If-Match)"))
        // per-call IO budgets scale with the lease period so a hung
        // endpoint's tick releases its shared heartbeat-pool thread
        // inside the staleMs/3 renewal period instead of starving
        // OTHER leases' renewals; the caps keep the 30-minute default
        // at the historical 5 s connect / 10 s read. FLOOR-DOMINATED
        // REGIME (ADVICE r17): below ~7 s staleMs the 100/200 ms
        // floors dominate, so the per-call bound alone no longer keeps
        // a hung endpoint's tick under the period — that hole is
        // closed on the RETRY side: HttpLeaseBackend.renew budgets
        // further attempts from the remaining tick allowance against
        // the OBSERVED attempt cost, so a timeout-burning first
        // attempt gets no retry while fast-failing blips retry with
        // backoff+jitter inside the budget (r17 verdict item 4). The
        // retry budget is capped WELL below the staleMs/3 period.
        val staleMs = leaseStaleMs(s)
        val connectMs = math.max(100L, math.min(5000L, staleMs / 72)).toInt
        val readMs = math.max(200L, math.min(10000L, staleMs / 36)).toInt
        val retryBudgetMs = math.min(staleMs / 6, 30000L)
        new HttpLeaseBackend(base, lp.toString, connectMs, readMs,
          retryBudgetMs)
      case other => throw new IllegalArgumentException(
        s"unknown lease backend '$other' " +
          "(spark.graft.store.lease.backend is 'fs' or 'http')")
    }

  /** Acquire a lease through `backend`: atomic create first; a live
    * foreign holder fails fast with its identity; a holder older than
    * the stale horizon is taken over (backend-atomic where the backend
    * has conditional writes). */
  private def acquireLease(s: SparkSession, backend: LeaseBackend,
      store: String, retried: Boolean = false): String = {
    val tok = newLeaseToken()
    if (backend.tryCreate(tok)) return tok
    val staleMs = leaseStaleMs(s)
    backend.observe() match {
      case Some(obs) if obs.ageMs > staleMs =>
        backend.takeOver(obs, store)
      case Some(obs) =>
        throw new IllegalStateException(
          s"store '$store' is being written by another process " +
            s"(${obs.token.getOrElse("<unreadable>")}, lease " +
            s"${backend.where}, age ${obs.ageMs} ms) — accepts and " +
            "compacts are single-writer per store; retry after it " +
            "finishes, or delete the lease if the holder is known dead")
      case None =>
        // released between our create attempt and the read: retry
        if (!retried) acquireLease(s, backend, store, retried = true)
        else sys.error(s"could not acquire writer lease for " +
          s"store '$store' at ${backend.where}")
    }
  }

  private def leaseStaleMs(s: SparkSession): Long = s.conf
    .getOption("spark.graft.store.leaseStaleMs")
    .map(_.toLong).getOrElse(30L * 60L * 1000L)

  /** Holder identity + a per-attempt nonce, so a takeover can verify
    * that the lease it reads back is the one IT created (two same-pid
    * attempts in one millisecond are still distinguishable). Shared
    * with every [[LeaseBackend]] so holder identities render uniformly
    * in contention errors regardless of where the lease lives. */
  private[storage] def newLeaseToken(): String =
    s"pid=${ProcessHandle.current().pid()} " +
      s"host=${java.net.InetAddress.getLocalHost.getHostName} " +
      s"since=${System.currentTimeMillis()} " +
      s"nonce=${java.util.UUID.randomUUID()}"

  private def readLease(f: FileSystem, lp: Path): String =
    readFirstLine(f, lp).getOrElse("<unreadable>")

  /** First line of the lease file (the [[FsLeaseBackend]]'s read). */
  private[storage] def readLeaseFirstLine(f: FileSystem,
      lp: Path): Option[String] = readFirstLine(f, lp)

  /** Create-new the lease file with `token`; false if it exists. */
  private[storage] def createLeaseFile(f: FileSystem, lp: Path,
      token: String): Boolean =
    try {
      val out = f.create(lp, false) // create-new: fails if held
      try out.write(token.getBytes(StandardCharsets.UTF_8))
      finally out.close()
      true
    } catch {
      case _: java.io.IOException => false
    }

  /** Filesystem schemes whose `create(path, overwrite = false)` is NOT
    * an atomic create-new (S3's PUT has no native If-None-Match through
    * the s3a committers' default path), so a lease there is a
    * best-effort advisory lock, not mutual exclusion. */
  private val nonAtomicCreateSchemes = Set("s3", "s3a", "s3n")
  private val warnedNonAtomicSchemes =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Fail fast (loudly, with the contract statement) when the lease
    * would live on a filesystem without atomic create-new — unless the
    * deployment explicitly opted into the weaker advisory lock with
    * `spark.graft.store.lease.allowNonAtomicCreate=true`, which demotes
    * the stop to a once-per-scheme warning. A user pointing the store
    * root at S3A must get a contract statement, not a silently weaker
    * lock. */
  private[graft] def assertAtomicLeaseFs(s: SparkSession, f: FileSystem,
      lp: Path): Unit = {
    val scheme = Option(f.getScheme).getOrElse("").toLowerCase
    if (nonAtomicCreateSchemes.contains(scheme)) {
      val allow = s.conf
        .getOption("spark.graft.store.lease.allowNonAtomicCreate")
        .exists(_.toBoolean)
      if (!allow) throw new IllegalStateException(
        s"the writer lease at $lp lives on '$scheme', which has no " +
          "atomic create-new: the single-writer lock would be advisory " +
          "only (two processes can both believe they created the " +
          "lease). Point spark.graft.store.lease.backend=http (+ " +
          "spark.graft.store.lease.http.url) at a conditional-write " +
          "endpoint for a real lease, point spark.graft.store.root at " +
          "a filesystem with atomic create (HDFS, local, ABFS), or " +
          "accept the weaker contract explicitly with " +
          "spark.graft.store.lease.allowNonAtomicCreate=true")
      else if (warnedNonAtomicSchemes.add(scheme))
        System.err.println(s"[graft] WARNING: writer leases on " +
          s"'$scheme' are best-effort (no atomic create-new) — " +
          "spark.graft.store.lease.allowNonAtomicCreate=true accepted " +
          "the weaker single-writer contract")
    }
  }

  /** The commit-marker FENCE: a verb whose lease was lost (heartbeat
    * saw a foreign token), whose heartbeat has failed repeatedly, or
    * whose lease file no longer holds this process's token must NOT
    * publish — commit markers ([[markBatchCommitted]]) and the folded
    * ledger ([[retireFoldedBatches]]) are the read-side visibility
    * gates, so fencing there turns a preempted verb's writes into
    * invisible orphans (healed by re-accept / the orphan sweep)
    * instead of a silent double-writer. Verified IMMEDIATELY before
    * each visibility write: one small-file read per committed batch —
    * noise next to the batch's own IO. Calls made while this JVM holds
    * no lease for the store (specs, external orchestration) are not
    * fenced — the fence enforces the lease the caller took, it cannot
    * invent one. */
  private def fenceAgainstLostLease(s: SparkSession, dataDir: String,
      store: String, what: String): Unit = {
    val lp = leasePath(manifestPath(s, store, dataDir))
    val stOpt = leaseStates.synchronized(leaseStates.get(lp.toString))
    stOpt.foreach { st =>
      val (held, token, backend, lost, fails) = st.synchronized(
        (st.holders > 0 && st.acquired, st.token, st.backend, st.lost,
          st.failures.get()))
      if (held) {
        def abort(why: String): Nothing = throw new IllegalStateException(
          s"FENCED: refusing to write $what for store '$store' — $why " +
            s"(lease ${backend.where}). The verb's writes stay invisible " +
            "(no marker); re-run it once the writer contention is resolved")
        if (lost) abort("the writer lease was taken over mid-verb (the " +
          "heartbeat read a foreign token)")
        if (fails >= 3) abort(s"the lease heartbeat has failed $fails " +
          "consecutive renewals, so the lease may be stale and taken " +
          "over")
        val cur = backend.read()
        if (!cur.contains(token)) abort(
          s"the lease file no longer holds this process's token " +
            s"(now: ${cur.getOrElse("<absent>")})")
      }
    }
  }

  /** Take over a lease observed stale at `observedMtime`. Two
    * processes can observe the SAME stale lease and race here; the
    * naive delete-and-retry lets the second delete the first's
    * freshly created lease (double grant). Guards, honestly scoped —
    * a plain filesystem has no compare-and-swap, so the window is
    * NARROWED to the stat→delete syscall gap and then re-checked, not
    * eliminated by atomicity:
    *
    *  - CONDITIONAL DELETE: re-stat immediately before deleting and
    *    only delete while the mtime is unchanged from the stale
    *    observation — a racing winner's fresh lease (current mtime)
    *    or a live holder's late heartbeat is never destroyed unless
    *    the racer's create lands inside the stat→delete gap itself;
    *  - VERIFIED CREATE: after create-new succeeds, read the lease
    *    back and require OUR unique token — if another process won an
    *    interleaved delete/create, this attempt fails fast instead of
    *    both proceeding;
    *  - SETTLE + SECOND VERIFY: a short pause then a re-read, so a
    *    racer whose conditional delete was already in flight when our
    *    lease landed is caught by whichever side reads last.
    *
    * Residual exposure is one side's delete landing between the other
    * side's settle re-read and its verb start — a sub-millisecond
    * syscall window that also requires both processes to have observed
    * the same dead holder; the heartbeat exists so a LIVE holder never
    * presents that bait. Any contention outcome throws
    * IllegalStateException (the same fail-fast contract as a live
    * foreign holder): takeover is for DEAD holders, and a raced
    * takeover means the store has a live contender to back off from. */
  private[graft] def takeOverStaleLease(s: SparkSession, f: FileSystem,
      lp: Path, store: String, observedMtime: Long): String = {
    val cur =
      try Some(f.getFileStatus(lp))
      catch { case _: java.io.FileNotFoundException => None }
    cur match {
      case Some(c) if c.getModificationTime == observedMtime =>
        f.delete(lp, false)
      case Some(_) =>
        throw new IllegalStateException(
          s"writer lease for store '$store' at $lp changed during the " +
            "stale takeover (a contender re-created it or the holder's " +
            "heartbeat arrived) — backing off; retry after it settles")
      case None => () // already deleted by a racer; contend on create
    }
    val token = newLeaseToken()
    if (!createLeaseFile(f, lp, token))
      throw new IllegalStateException(
        s"lost the stale-lease takeover race for store '$store' at $lp " +
          s"to ${readLease(f, lp)} — retry after it finishes")
    // verify (twice, with a settle between): our unique token must be
    // what the file holds. A transient unreadable read must NOT strand
    // the lease we just created — retry the read, and if it stays
    // unreadable, remove OUR file (identified by the create's mtime)
    // before backing off, so the store is not locked for staleMs with
    // no holder.
    val createdMtime =
      try f.getFileStatus(lp).getModificationTime
      catch { case _: java.io.IOException => -1L }
    def verifiedRead(): String = {
      var attempts = 0
      var got = readLease(f, lp)
      while (got == "<unreadable>" && attempts < 3) {
        Thread.sleep(50); attempts += 1; got = readLease(f, lp)
      }
      got
    }
    def backOff(got: String): Nothing = {
      if (got == "<unreadable>") {
        // can't tell whose it is by content; the mtime can — only our
        // own create is deleted, a racer's newer file is left alone
        val curM =
          try Some(f.getFileStatus(lp).getModificationTime)
          catch { case _: java.io.IOException => None }
        if (curM.contains(createdMtime)) f.delete(lp, false)
      }
      throw new IllegalStateException(
        s"stale-lease takeover verification failed for store '$store' " +
          s"at $lp: lease now held by $got — backing off")
    }
    val first = verifiedRead()
    if (first != token) backOff(first)
    Thread.sleep(100) // settle: give a racer's in-flight delete time to land
    val second = verifiedRead()
    if (second != token) backOff(second)
    token
  }

  // ---- per-batch commit markers ------------------------------------

  private def markerDir(mp: Path): Path =
    new Path(mp.getParent, mp.getName.stripSuffix(".meta") + ".accepted")

  /** Record that EVERY delta-table write of `batchId`'s accept
    * completed. A multi-table accept (sketch: shingles + bands)
    * that crashes partway leaves the delta tables mutually
    * inconsistent for that batch — bands without shingles make probes
    * silently drop candidates at the verification join. Probes
    * therefore read only batches listed by [[committedBatches]]; a
    * crashed accept is invisible until re-accepted (idempotent — the
    * partition swap heals it, then the marker commits it). The
    * marker doubles as the replay short-circuit: once it exists the
    * accept verbs treat the batch's replay as a NO-OP (batch ids
    * identify immutable content under the id guards), so only a
    * marker-LESS partial accept ever re-runs the write. */
  def markBatchCommitted(s: SparkSession, dataDir: String, store: String,
      batchId: String): Unit = {
    fenceAgainstLostLease(s, dataDir, store, s"commit marker '$batchId'")
    val dir = markerDir(manifestPath(s, store, dataDir))
    val f = fs(s, dir.toString)
    f.mkdirs(dir)
    f.create(new Path(dir, batchId + ".ok"), true).close()
  }

  /** Batch ids whose accept fully committed — one marker-dir listing.
    * The partition directories a delta read opens are the ones present
    * on disk AND listed here ([[openDeltaTables]]), so a marker alone
    * decides whether probes see a batch. Batches a compact has folded
    * into the base are NOT listed (their markers retire into the
    * folded ledger, except the merge log's permanent ones), so the
    * set stays bounded by the accept traffic since the last fold, not
    * by the store's lifetime. */
  def committedBatches(s: SparkSession, dataDir: String,
      store: String): Set[String] = {
    val dir = markerDir(manifestPath(s, store, dataDir))
    val f = fs(s, dir.toString)
    if (!f.exists(dir)) Set.empty
    else f.listStatus(dir).toSeq
      .map(_.getPath.getName).filter(_.endsWith(".ok"))
      .map(_.stripSuffix(".ok")).toSet
  }

  // ---- folded-batch ledger (compaction's commit record) -------------

  private def foldedLedger(mp: Path): Path =
    new Path(mp.getParent, mp.getName.stripSuffix(".meta") + ".folded")
  private def ledgerTmp(mp: Path): Path = {
    val l = foldedLedger(mp)
    new Path(l.getParent, l.getName + ".tmp")
  }

  /** Batch ids a compact has folded into the store's base. A replayed
    * accept of such a batch (a Structured Streaming checkpoint replay
    * racing an admin compact is the canonical case) must be a NO-OP:
    * its rows already answer from the base, and re-writing a delta
    * for it would double probe rows or — for the merge family — let
    * latest-wins override the folded base with a stale as-of-replay
    * row. Falls back to the ledger's tmp file when the main file is
    * missing (the one crash window in [[retireFoldedBatches]]'s
    * write-tmp / delete / rename sequence leaves a COMPLETE tmp). */
  def foldedBatches(s: SparkSession, dataDir: String,
      store: String): Set[String] = {
    val mp = manifestPath(s, store, dataDir)
    val f = fs(s, mp.toString)
    val src = Seq(foldedLedger(mp), ledgerTmp(mp)).find(f.exists)
    src.fold(Set.empty[String]) { p =>
      val in = new BufferedReader(
        new InputStreamReader(f.open(p), StandardCharsets.UTF_8))
      try Iterator.continually(in.readLine()).takeWhile(_ != null)
        .map(_.trim).filter(_.nonEmpty).toSet
      finally in.close()
    }
  }

  /** Record that a compact folded `ids` into the base: append them to
    * the folded ledger (write-tmp, delete, rename — a crash between
    * delete and rename is healed by [[foldedBatches]] reading the
    * complete tmp), then — unless the family keeps its markers as a
    * permanent ingest log (`deleteMarkers = false`, the merge_log
    * contract) — delete the per-batch `.ok` markers so
    * [[committedBatches]] stays bounded by unfolded traffic. Ledger
    * FIRST: at every crash point a folded batch is flagged in at
    * least one of ledger/marker, so a replay can never slip past
    * both the no-op check and the id guard. */
  def retireFoldedBatches(s: SparkSession, dataDir: String, store: String,
      ids: Set[String], deleteMarkers: Boolean = true): Unit = {
    if (ids.isEmpty) return
    fenceAgainstLostLease(s, dataDir, store,
      s"folded ledger (${ids.size} batch ids)")
    val mp = manifestPath(s, store, dataDir)
    val f = fs(s, mp.toString)
    val merged = (foldedBatches(s, dataDir, store) ++ ids).toSeq.sorted
    val tmp = ledgerTmp(mp)
    val w = new OutputStreamWriter(f.create(tmp, true), StandardCharsets.UTF_8)
    try w.write(merged.mkString("\n")) finally w.close()
    f.delete(foldedLedger(mp), false)
    if (!f.rename(tmp, foldedLedger(mp)))
      sys.error(s"could not publish folded ledger for $store")
    if (deleteMarkers) {
      val dir = markerDir(mp)
      ids.foreach(id => f.delete(new Path(dir, id + ".ok"), false))
    }
  }

  /** Batch ids with a physical `batch_id=` partition directory on
    * disk — one FS listing of the table root. */
  def presentBatchPartitions(s: SparkSession, table: String): Set[String] = {
    val st = new Storage(s, root(s))
    val p = new Path(st.path(table))
    val f = fs(s, st.path(table))
    if (!f.exists(p)) Set.empty
    else f.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("batch_id="))
      .map(_.stripPrefix("batch_id=")).toSet
  }

  /** Delete every on-disk delta partition directory the ledger says is
    * folded — compaction's truncate (only the batches the fold covered:
    * a batch whose accept committed while the fold ran keeps its
    * partition and marker and folds next time) plus garbage collection
    * of partitions orphaned by a crash between marker retirement and
    * partition drop (invisible to probes — no live marker — but dead
    * bytes). */
  def dropFoldedPartitions(s: SparkSession, dataDir: String, store: String,
      tables: Seq[String]): Unit = {
    val folded = foldedBatches(s, dataDir, store)
    if (folded.nonEmpty) tables.foreach { t =>
      val dir = new Storage(s, root(s)).path(t)
      (presentBatchPartitions(s, t) intersect folded).foreach(id =>
        fs(s, dir).delete(new Path(dir, s"batch_id=$id"), true))
    }
  }

  // ---- the accept/compact protocol of the delta-store families ------
  //
  // Five families keep write-once bases plus mutable accept deltas:
  // sketch_accept, cosine_accept, cluster_accept, asof_accept and
  // merge_log (whose markers also govern merge_accept). Each delta
  // table is partitioned by `batch_id`, one partition per accepted
  // batch; probes read base ∪ the COMMITTED deltas, which
  // [[openDeltaTables]] opens by path. [[acceptBatch]] and
  // [[compactBatches]] are the only code that runs the protocol; a
  // family supplies its open, its id guard and writes, and its fold.

  /** A batch id names its partition directory (`batch_id=<id>`) and its
    * marker file (`<id>.ok`), and a delta read takes it back from the
    * directory name through Hive's partition-path unescaping. So it
    * must be non-empty and come through Hive's partition-path escaping
    * unchanged — which also excludes `/` (the marker would land in a
    * subdirectory [[committedBatches]] never lists, so the batch could
    * never commit). */
  private def requireSafeBatchId(store: String, batchId: String): Unit =
    require(batchId.nonEmpty &&
      ExternalCatalogUtils.escapePathName(batchId) == batchId,
      s"unsafe batch id '$batchId' for store '$store': a batch id must be " +
        "non-empty and name its own partition directory (no '/', quote, " +
        "'=', ':', '%' or other character Hive escapes in partition paths)")

  /** True when `batchId`'s accept is already fully visible — its commit
    * marker is present (every delta table holds the batch: the marker
    * writes LAST) or a compact folded it into the base (the folded
    * ledger lists it). A replay is then a NO-OP: batch ids identify
    * immutable content (the id guards forbid the same row id under two
    * batch ids), so re-running the body could only rewrite
    * byte-identical partitions — or, for a folded batch, double probe
    * rows and let a stale as-of-replay delta override the folded base.
    * Healing a crashed partial accept never takes this exit: a crash
    * before the marker leaves no marker, and the re-accept rewrites and
    * then commits. One marker-dir listing + one ledger read, no Spark
    * job. */
  private def alreadyAccepted(s: SparkSession, d: String, store: String,
      batchId: String): Boolean =
    committedBatches(s, d, store).contains(batchId) ||
      foldedBatches(s, d, store).contains(batchId)

  /** Enforce the lexicographic batch-id contract AT ACCEPT TIME: a NEW
    * batch id must sort after every id already committed or folded
    * into `store`. Every latest-batch-wins read orders deltas by
    * batch_id — "the daily-ingest id contract" — so an out-of-order id
    * would silently win or lose per-entity overrides instead of
    * failing. Replays never reach this check ([[alreadyAccepted]]
    * answers them first), so re-accepting a HISTORICAL batch followed
    * by every later one remains the legal log-replay path. The
    * ordering is per id lineage when the caller names one: an
    * unrelated lineage's ids (another stream's prefix, another gate's
    * batches) do not constrain this one. Cost: the marker-dir listing
    * the verb already pays, no Spark job. */
  private def requireMonotoneBatchId(s: SparkSession, d: String,
      store: String, batchId: String, lineage: Option[Set[String]]): Unit = {
    val accepted = committedBatches(s, d, store) ++ foldedBatches(s, d, store)
    val later = lineage.fold(accepted)(accepted.intersect).filter(_ > batchId)
    require(later.isEmpty,
      s"$store accept precondition violated: new batch id '$batchId' " +
        s"sorts before already-accepted ${later.toSeq.sorted.take(3)
          .mkString("'", "', '", "'")} — batch ids must be " +
        "lexicographically monotone in accept order (latest-batch-wins " +
        "reads order by batch_id); replaying an EXISTING id is legal, " +
        "minting an out-of-order new one is not")
  }

  /** Fail-fast id guard of an accept body: the batch's ids (`batchIds`,
    * one column) must be absent from the family's base and from every
    * OTHER committed delta batch (`committed`, rows with `batch_id`).
    * Once compact folds a batch into the write-once base its ids are
    * base ids, and the same id under two batch ids would double
    * probes' base ∪ delta rows just as silently — wrong jaccard,
    * cosine, as-of and snapshot-count answers, not an error.
    * Re-accepting an UNcommitted batch stays legal (partition-idempotent
    * crash healing): its own partition is not part of the universe.
    * Cost per accept: one pruned single-column scan of the base id
    * column against a batch-sized broadcast. */
  def requireFreshBatchIds(family: String, batchId: String, idCol: String,
      base: DataFrame, committed: DataFrame, batchIds: DataFrame): Unit = {
    val taken = base.select(col(idCol)).unionByName(
      committed.filter(col("batch_id") =!= batchId).select(col(idCol)))
    val ids = batchIds.toDF("id").distinct()
    val clash = taken
      .join(broadcast(ids), taken(idCol) === ids("id"), "left_semi")
      .limit(5).collect()
    require(clash.isEmpty,
      s"$family accept precondition violated: batch ids " +
        clash.map(_.get(0)).mkString(", ") +
        s" are already taken in the $family store (corpus ids, a " +
        "previously compacted batch, or another accepted batch) — " +
        "re-ingesting an existing doc is an upsert, not an accept; " +
        "rebuild the store (StoreAdmin refresh) instead")
  }

  /** Open (build-if-absent) a family's delta tables and return their
    * COMMITTED views. Each table is a path table hive-partitioned by
    * `batch_id`, whose recorded schema is its `rows`' schema plus a
    * `batch_id` string, built empty under the same fingerprint as the
    * family's base — so regenerated source data drops base AND deltas
    * together. `rows` is evaluated only when the tables are built. The
    * view reads the partition directories present on disk whose batch
    * has a commit marker in `markers`' store (the merge family's
    * tables both follow `merge_log`), listed when the view is opened;
    * with none, it is an empty relation of the recorded schema. A
    * crashed multi-table accept leaves its partitions mutually
    * inconsistent, and probing them would silently drop candidates at
    * the verification join, so they stay out until the marker lands. */
  def openDeltaTables(s: SparkSession, d: String, store: String,
      tables: Seq[String], params: String, migrate: Migration,
      markers: Option[String] = None)(
      rows: => Seq[DataFrame]): Seq[DataFrame] = {
    val metas = openOrBuild(s, d, store, tables, params, migrate) { st =>
      tables.zip(rows).map { case (t, df) =>
        fs(s, st.path(t)).mkdirs(new Path(st.path(t)))
        TableMeta.partitioned(t, Seq("batch_id"),
          df.schema.add("batch_id", StringType))
      }
    }
    val committed = committedBatches(s, d, markers.getOrElse(store))
    val st = new Storage(s, root(s))
    tables.map { t =>
      readPaths(s, metas.find(_.name == t).get,
        (presentBatchPartitions(s, t) intersect committed).toSeq.sorted
          .map(id => s"${st.path(t)}/batch_id=$id"))
    }
  }

  /** Committed delta rows (a view [[openDeltaTables]] returned) scoped
    * the way every replaying reader scopes them: to the batch ids of
    * `lineage` when one is named — a foreign accepted batch on the
    * shared store must not leak into an oracle-checked gate — then to
    * the ids sorting before `before` when one is named, the state an
    * accept of that batch computes against (lexicographically
    * monotone ids). */
  def scopedDelta(committed: DataFrame, lineage: Option[Set[String]],
      before: Option[String]): DataFrame = {
    val inLineage = lineage.fold(committed)(ls =>
      committed.filter(col("batch_id").isin(ls.toSeq: _*)))
    before.fold(inLineage)(b => inLineage.filter(col("batch_id") < b))
  }

  /** Write `rows` as `table`'s `batch_id=<batchId>` partition, the
    * writer behind [[acceptBatch]]'s `put`: the rows, cast by name to
    * the table's recorded schema (so a union that widened a timestamp
    * column is stored as the type the table declares), land in a
    * private staging dir under the store root, then replace the
    * partition directory with one delete and one rename. No marker is
    * written — until one is, the partition is invisible, which also
    * covers a crash between the delete and the rename. The table must
    * have been opened ([[openDeltaTables]]) under the current root. */
  private[graft] def writeBatchPartition(s: SparkSession, table: String,
      batchId: String, rows: DataFrame): Unit = {
    val r = root(s)
    val meta = synchronized {
      verified.iterator.collect { case ((`r`, _, _), ts) => ts }.flatten
        .find(_.name == table)
    }.getOrElse(sys.error(s"delta table $table is not open under $r"))
    replaceBatchPartition(s, meta, batchId, rows)
  }

  /** [[writeBatchPartition]] for a table named by its metadata — also
    * how a migration rewrites a derived delta table batch by batch. */
  private[graft] def replaceBatchPartition(s: SparkSession, meta: TableMeta,
      batchId: String, rows: DataFrame): Unit = {
    val r = root(s)
    val cols = StructType.fromDDL(meta.schemaDdl).filter(_.name != "batch_id")
      .map(f => col(f.name).cast(f.dataType))
    val staging = new Path(s"$r/_staging/${meta.name}_${java.util.UUID.randomUUID}")
    val dst = new Path(new Storage(s, r).path(meta.name), s"batch_id=$batchId")
    val f = fs(s, staging.toString)
    try {
      rows.select(cols: _*).write.parquet(staging.toString)
      f.delete(dst, true)
      f.mkdirs(dst.getParent)
      if (!f.rename(staging, dst))
        throw new java.io.IOException(s"could not move $staging to $dst")
    } finally f.delete(staging, true)
  }

  /** ACCEPT one batch into `store`'s delta tables. The protocol, in
    * order:
    *  - refuse an unsafe id before anything is written;
    *  - take the store's cross-process writer lease;
    *  - `open` the family's tables (its value is handed to `body`);
    *  - return on a replay of a committed or folded batch (a no-op —
    *    [[alreadyAccepted]]);
    *  - require a lexicographically monotone new id within `lineage`;
    *  - run the family's `body`: its id guard
    *    ([[requireFreshBatchIds]]) and its writes, each through
    *    `put(table, rows)`, which replaces this batch's partition
    *    directory and nothing else ([[writeBatchPartition]]) —
    *    re-accepting rewrites its own partition, and distinct batches
    *    accumulate as distinct partitions;
    *  - write the commit marker LAST: the batch becomes visible to
    *    probes only once every delta table holds it, and a crash
    *    before that leaves it invisible until a re-accept heals it. */
  def acceptBatch[A](s: SparkSession, d: String, store: String,
      batchId: String, lineage: Option[Set[String]])(open: => A)(
      body: (A, (String, DataFrame) => Unit) => Unit): Unit = {
    requireSafeBatchId(store, batchId)
    withWriterLease(s, d, store) {
      val opened = open
      if (!alreadyAccepted(s, d, store, batchId)) {
        requireMonotoneBatchId(s, d, store, batchId, lineage)
        body(opened, (table, rows) =>
          writeBatchPartition(s, table, batchId, rows))
        markBatchCommitted(s, d, store, batchId)
      }
    }
  }

  /** Scratch dir for a compact fold — one place for the tmp path of all
    * five accept families, so tmp-path and crash-cleanup policy can
    * never drift between them. */
  private def compactTmp(s: SparkSession, family: String): String =
    root(s) + s"/_compact/$family"

  /** Recursive delete of a directory (Hadoop FS API — works on
    * HDFS/S3A roots like every other store path). */
  def deleteDir(s: SparkSession, path: String): Unit = {
    val p = new Path(path)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** The dedup fold shared by the families whose deltas are plain rows:
    * `base` ∪ the `ids` batches of `delta`, deduplicated on the table's
    * natural `keys` (so re-running a fold that crashed after its base
    * rebuild cannot double rows), written to `dir` and read back. */
  def foldDelta(s: SparkSession, dir: String, base: DataFrame,
      delta: DataFrame, ids: Set[String], keys: Seq[String]): DataFrame = {
    base.unionByName(
        delta.filter(col("batch_id").isin(ids.toSeq: _*)).drop("batch_id"))
      .dropDuplicates(keys)
      .write.mode("overwrite").parquet(dir)
    s.read.parquet(dir)
  }

  /** COMPACT `store`: fold its committed delta batches into the family's
    * write-once base. Accept deltas accumulate one partition per batch
    * forever and probes read base ∪ N deltas; after a fold they read
    * one base again, with identical answers (StoreSpec). The protocol,
    * in order:
    *  - take the writer lease;
    *  - snapshot the committed batch ids, once, up front, and only
    *    then `open` the family's tables, so the committed views the
    *    fold reads hold every snapshot id (an id whose marker the open
    *    removed — a rebuild removes them all — leaves the snapshot); a
    *    batch whose accept commits while the fold runs is outside the
    *    snapshot, keeps its partition and marker, and folds next time,
    *    so a live ingest stream and an admin compact can overlap;
    *  - if nothing is committed (or `fold` reports nothing to fold),
    *    only garbage-collect partitions orphaned by an earlier crash
    *    and return false;
    *  - `fold(opened, ids, tmp)`: the family writes base ∪ the snapshot
    *    deltas into the scratch dir `tmp`, then [[drop]]s its base and
    *    rebuilds it from `tmp` under the same params;
    *  - retire the ids into the folded ledger, ledger FIRST, then their
    *    markers unless `deleteMarkers` is false (the merge family's
    *    permanent ingest log) — [[retireFoldedBatches]];
    *  - drop exactly the folded partitions of `deltaTables`
    *    ([[dropFoldedPartitions]]);
    *  - delete the scratch dir.
    * Crash safety: before the rebuild the pre-compact state is intact
    * (manifest-last); after the rebuild but before retirement the
    * snapshot batches live in both places and re-running compact heals
    * it (folds dedup on each table's natural key, or recompute); after
    * retirement but before the drop, the orphaned partitions are
    * invisible to probes (no live marker) and the next compact
    * collects them. The ledger lets each accept answer a replay of a
    * folded batch (a streaming checkpoint replay racing an admin
    * compact) with a no-op; a NEW id re-presenting folded row ids is
    * still refused by the id guards. Retiring markers keeps
    * [[committedBatches]] bounded by the traffic since the last
    * fold. */
  def compactBatches[A](s: SparkSession, d: String, store: String,
      deltaTables: Seq[String], scratch: String,
      deleteMarkers: Boolean = true)(open: => A)(
      fold: (A, Set[String], String) => Boolean): Boolean =
    withWriterLease(s, d, store) {
      val before = committedBatches(s, d, store)
      val opened = open
      val ids = committedBatches(s, d, store) intersect before
      val tmp = compactTmp(s, scratch)
      val folded = ids.nonEmpty && fold(opened, ids, tmp)
      if (folded) retireFoldedBatches(s, d, store, ids, deleteMarkers)
      dropFoldedPartitions(s, d, store, deltaTables)
      if (folded) deleteDir(s, tmp)
      folded
    }

}
