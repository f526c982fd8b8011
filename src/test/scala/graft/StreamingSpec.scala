package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStreams
import graft.streaming.EventStreams.EntityEvent

/** Streaming analytics: batch/stream parity of the windowed aggregate,
  * and incremental merge state across micro-batches. */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("streamed micro-batches are accepted into the durable sketch store per trigger") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.streaming.Trigger
    import graft.storage.DurableStores
    val sf = "/root/testdata/sf0.001"
    val dir = Files.createTempDirectory("graft_stream_accept").toString
    new java.io.File(s"$dir/in").mkdirs()
    val text1 = "streaming accept twin document alpha beta gamma delta epsilon zeta"
    val text2 = "another streamed body eta theta iota kappa lambda mu nu xi omicron"
    def writeBatch(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(s"$dir/in")
    // the q121 probe shape: base ∪ COMMITTED deltas
    def probe(text: String): Set[Long] = {
      val (sh, bands, chunks) = graft.queries.LlmOps.sketchStore(s, sf)
      val (ash, abands, achunks) = graft.queries.LlmOps.sketchAcceptStore(s, sf)
      def committed(df: org.apache.spark.sql.DataFrame) = df.drop("batch_id")
      val out = graft.operators.Dedup.incrementalMinhashPairsFromStore(
        sh.unionByName(committed(ash)), bands.unionByName(committed(abands)),
        chunks.unionByName(committed(achunks)),
        Seq((999999L, text)).toDF("doc_id", "text"),
        "doc_id", "text", k = 32, bands = 4, threshold = 0.8)
        .collect().map(_.getLong(1)).toSet
      graft.engine.CacheRegistry.releaseAll()
      out
    }
    try {
      writeBatch(Seq((950001L, text1)))
      val schema = s.read.parquet(s"$dir/in").schema
      val q = graft.streaming.StreamingIngest.startSketchAccept(
        s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(s"$dir/in"),
        sf, s"$dir/ckpt", trigger = Trigger.ProcessingTime(0L))
      q.processAllAvailable()
      // visible to a probe as soon as the trigger completes
      assert(probe(text1) === Set(950001L))
      writeBatch(Seq((950002L, text2)))
      q.processAllAvailable(); q.stop()
      assert(probe(text2) === Set(950002L))
      assert(probe(text1) === Set(950001L))
      // distinct commit-marked partitions, one per micro-batch
      val batches = graft.queries.LlmOps.sketchAcceptStore(s, sf)._1
        .select("batch_id").distinct().collect().map(_.getString(0)).toSet
      assert(batches.count(_.startsWith("stream_")) === 2, s"batches: $batches")
      assert(batches.forall(
        DurableStores.committedBatches(s, sf, "sketch_accept").contains))
    } finally {
      DurableStores.drop(s, sf, "sketch_accept")
      graft.engine.CacheRegistry.releaseAll()
    }
  }

  test("streaming cluster maintenance: labels stay current across micro-batches, bridges included") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.streaming.Trigger
    import graft.storage.DurableStores
    val sf = "/root/testdata/sf0.001"
    val dir = Files.createTempDirectory("graft_stream_clusters").toString
    new java.io.File(s"$dir/in").mkdirs()
    val shared = "a streamed near duplicate pair body unique to this cluster test"
    def writeBatch(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(s"$dir/in")
    def labels(ids: Long*): Map[Long, Long] = {
      val out = graft.queries.LlmOps.effectiveClusterLabels(s, sf)
        .filter(col("node").isin(ids.map(Long.box): _*))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      graft.engine.CacheRegistry.releaseAll()
      out
    }
    try {
      writeBatch(Seq((960001L, shared)))
      val schema = s.read.parquet(s"$dir/in").schema
      val q = graft.streaming.StreamingIngest.startClusterMaintenance(
        s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(s"$dir/in"),
        sf, s"$dir/ckpt", trigger = Trigger.ProcessingTime(0L))
      q.processAllAvailable()
      // batch 1's doc has no near-dup yet: like the base store, the
      // label table carries only CLUSTERED docs — no row yet
      assert(labels(960001L) === Map.empty[Long, Long])
      // batch 2 near-dups batch 1's doc: the cross-batch bridge rides
      // the accepted sketch delta, and the relabel lands both in one
      // cluster keyed by the component min
      writeBatch(Seq((960002L, shared)))
      q.processAllAvailable(); q.stop()
      assert(labels(960001L, 960002L)
        === Map(960001L -> 960001L, 960002L -> 960001L))
    } finally {
      DurableStores.drop(s, sf, "sketch_accept")
      DurableStores.drop(s, sf, "cluster_accept")
      graft.engine.CacheRegistry.releaseAll()
    }
  }

  test("streaming exact-dedup: one emission per distinct body, watermark-bounded state") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      ("2024-01-01 00:00:00", 1L, "Hello   world"),
      ("2024-01-01 00:01:00", 2L, "hello world"), // canonical dup of 1
      ("2024-01-01 00:02:00", 3L, "something else"),
      ("2024-01-01 00:03:00", 4L, "HELLO WORLD")) // dup again
    val dir = Files.createTempDirectory("graft_dedup_stream").toString
    rows.toDF("ts_s", "doc_id", "text")
      .select(to_timestamp($"ts_s").as("ts"), $"doc_id", $"text")
      .write.parquet(s"$dir/in")
    val schema = s.read.parquet(s"$dir/in").schema
    val q = EventStreams.dedupDocStream(
      s.readStream.schema(schema).parquet(s"$dir/in"))
      .writeStream.format("memory").queryName("dedup_docs")
      .outputMode("append").option("checkpointLocation", s"$dir/ckpt").start()
    q.processAllAvailable(); q.stop()
    val out = s.table("dedup_docs").select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(out.length === 2)
    assert(out.contains(3L)) // the distinct body survives
    assert(out.count(id => Set(1L, 2L, 4L).contains(id)) === 1) // dups collapse to one
  }

  test("windowed counts: streaming result equals batch result") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      ("2024-01-01 00:10:00", "click", 1.0),
      ("2024-01-01 00:40:00", "click", 2.0),
      ("2024-01-01 01:10:00", "view", 3.0),
      ("2024-01-01 01:20:00", "click", 4.0))
    val dir = Files.createTempDirectory("graft_stream").toString
    rows.toDF("ts_s", "event_type", "value")
      .select(to_timestamp($"ts_s").as("ts"), $"event_type", $"value")
      .write.parquet(s"$dir/in")
    val batchDf = s.read.parquet(s"$dir/in")
    val batchResult = EventStreams.windowedTypeCounts(batchDf)
      .orderBy("window_start", "event_type").collect().map(_.toString)

    val streamDf = s.readStream.schema(batchDf.schema).parquet(s"$dir/in")
    val q = EventStreams.windowedTypeCounts(streamDf)
      .writeStream.format("memory").queryName("win_counts")
      .outputMode("append").option("checkpointLocation", s"$dir/ckpt").start()
    q.processAllAvailable(); q.stop()
    // append mode only emits closed windows; compare the closed subset
    val streamed = s.table("win_counts")
      .orderBy("window_start", "event_type").collect().map(_.toString)
    assert(streamed.toSet.subsetOf(batchResult.toSet))
    assert(batchResult.length === 3)
  }

  test("streaming near-dup: LSH bucket state catches dups across micro-batches") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_neardup_stream").toString
    new java.io.File(s"$dir/in").mkdirs()
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    def writeBatch(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").write.mode("append").parquet(s"$dir/in")
    writeBatch(Seq(
      (1L, base),
      (2L, "completely different content about spark shuffles and parquet pruning")))
    val schema = s.read.parquet(s"$dir/in").schema
    val q = EventStreams.nearDupDocStream(
      s.readStream.schema(schema).parquet(s"$dir/in"), bands = 16)
      .writeStream.format("memory").queryName("near_dups")
      .outputMode("append").option("checkpointLocation", s"$dir/ckpt").start()
    q.processAllAvailable()
    // exact dup of doc 1 arrives in a LATER micro-batch: only bucket
    // STATE (not the batch itself) can link it back
    writeBatch(Seq((3L, base)))
    q.processAllAvailable(); q.stop()
    val hits = s.table("near_dups")
      .select("doc_id", "dup_of", "est_jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(hits.exists(h => h._1 == 3L && h._2 == 1L && h._3 == 1.0),
      s"cross-batch dup not caught: ${hits.toSeq}")
    assert(!hits.exists(h => Set(h._1, h._2).contains(2L))) // unrelated doc clean
  }

  test("near-dup stream: FIFO eviction from the lowest colliding band misses the pair; batch backstop recovers") {
    val s = spark
    import s.implicits._
    import graft.operators.Dedup
    val k = 32; val bands = 8; val threshold = 0.7
    // Adversarial construction for the DOCUMENTED eviction miss
    // (EventStreams.scala: only the LOWEST colliding band may emit a
    // pair; under FIFO eviction, if the older doc was evicted from
    // that band's bucket but survives in a higher band's, the pair is
    // missed). We need a triple:
    //   A: the old doc.  B: a near-dup of A (est >= threshold),
    //   colliding with A in >= 2 bands, lowest = j.
    //   F: filler that shares A's band-j BUCKET (evicting A there at
    //   maxPerBucket=1) but is below threshold vs both, and does NOT
    //   collide with A in some higher A-B band j' (so A survives
    //   there and the lowest-band suppression causes the miss).
    // Band hashes are opaque, so search perturbed texts using the
    // operator's own signature/banding functions (seeded: determinstic).
    val rnd = new scala.util.Random(99)
    val baseWords = (0 until 40).map(i => s"tok$i")
    val aText = baseWords.mkString(" ")
    val bCandidates = (0 until 12).map { i =>
      baseWords.updated(30 + i % 9, s"chg$i").mkString(" ") }
    val fCandidates = (0 until 400).map { i =>
      var w = baseWords
      val n = 8 + rnd.nextInt(12)
      (0 until n).foreach(_ =>
        w = w.updated(rnd.nextInt(40), s"f${i}x${rnd.nextInt(1000)}"))
      w.mkString(" ")
    }
    val all = (Seq(aText) ++ bCandidates ++ fCandidates).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val info = all.toDF("id", "text")
      .select($"id",
        Dedup.minhashSignature(Dedup.shingles($"text"), k).as("sig"))
      .select($"id", $"sig", Dedup.bandKeys($"sig", k, bands).as("bk"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getSeq[Long](1),
        r.getSeq[org.apache.spark.sql.Row](2).map(_.getLong(1)))))
      .toMap
    def est(x: Long, y: Long): Double =
      info(x)._1.zip(info(y)._1).count(p => p._1 == p._2).toDouble / k
    def collidingBands(x: Long, y: Long): Seq[Int] =
      (0 until bands).filter(j => info(x)._2(j) == info(y)._2(j))
    val aId = 0L
    val found = (for {
      bId <- (1L to bCandidates.length.toLong).iterator
      if est(aId, bId) >= threshold
      c = collidingBands(aId, bId)
      if c.length >= 2
      j = c.min
      fId <- (bCandidates.length + 1L until all.length.toLong).iterator
      if est(fId, aId) < threshold && est(fId, bId) < threshold
      if info(fId)._2(j) == info(aId)._2(j) // F lands in A's band-j bucket
      if c.exists(j2 => j2 > j && info(fId)._2(j2) != info(aId)._2(j2)) // A survives in j'
    } yield (bId, fId)).buffered.headOption
    assert(found.isDefined,
      "seeded search found no adversarial (B, F) triple — widen candidates")
    val (bId, fId) = found.get
    val texts = all.toMap
    // stream: A, then F (evicts A from the lowest band's bucket), then B
    val dir = Files.createTempDirectory("graft_evict_stream").toString
    new java.io.File(s"$dir/in").mkdirs()
    def writeBatch(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").write.mode("append").parquet(s"$dir/in")
    writeBatch(Seq((1L, texts(aId))))
    val schema = s.read.parquet(s"$dir/in").schema
    val q = EventStreams.nearDupDocStream(
      s.readStream.schema(schema).parquet(s"$dir/in"),
      k = k, bands = bands, threshold = threshold, maxPerBucket = 1)
      .writeStream.format("memory").queryName("evict_dups")
      .outputMode("append").option("checkpointLocation", s"$dir/ckpt").start()
    q.processAllAvailable()
    writeBatch(Seq((2L, texts(fId))))
    q.processAllAvailable()
    writeBatch(Seq((3L, texts(bId))))
    q.processAllAvailable(); q.stop()
    val hits = s.table("evict_dups")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // THE DOCUMENTED MISS: B vs A is above threshold and they still
    // share higher bands, but the lowest colliding band's bucket lost
    // A to FIFO eviction, and higher bands suppress by design
    assert(!hits.contains((3L, 1L)),
      s"expected the documented eviction miss, got $hits")
    // positive control: same triple WITHOUT eviction pressure emits the
    // pair — the miss above is caused by FIFO eviction, not similarity
    val dir2 = Files.createTempDirectory("graft_evict_ctrl").toString
    new java.io.File(s"$dir2/in").mkdirs()
    Seq((1L, texts(aId))).toDF("doc_id", "text")
      .write.mode("append").parquet(s"$dir2/in")
    val q2 = EventStreams.nearDupDocStream(
      s.readStream.schema(schema).parquet(s"$dir2/in"),
      k = k, bands = bands, threshold = threshold, maxPerBucket = 64)
      .writeStream.format("memory").queryName("evict_ctrl")
      .outputMode("append").option("checkpointLocation", s"$dir2/ckpt").start()
    q2.processAllAvailable()
    Seq((2L, texts(fId))).toDF("doc_id", "text")
      .write.mode("append").parquet(s"$dir2/in")
    q2.processAllAvailable()
    Seq((3L, texts(bId))).toDF("doc_id", "text")
      .write.mode("append").parquet(s"$dir2/in")
    q2.processAllAvailable(); q2.stop()
    val ctrlHits = s.table("evict_ctrl")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(ctrlHits.contains((3L, 1L)),
      s"control without eviction should emit the pair, got $ctrlHits")
    // and the batch LSH job is the backstop that recovers exactly it
    val batchPairs = Dedup.minhashLshPairs(
      Seq((1L, texts(aId)), (2L, texts(fId)), (3L, texts(bId)))
        .toDF("doc_id", "text"), "doc_id", "text", k, bands, threshold)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.engine.CacheRegistry.releaseAll()
    assert(batchPairs.contains((1L, 3L)),
      s"batch backstop must recover the evicted pair, got $batchPairs")
  }

  test("near-dup stream multi-sketch: a band-eviction miss is recovered in-stream by a chunk collision") {
    val s = spark
    import s.implicits._
    import graft.operators.Dedup
    val k = 32; val bands = 8; val threshold = 0.7
    val chunks = 8; val bits = 64 / chunks; val mask = (1L << bits) - 1
    // Same adversarial triple shape as the eviction test — (A, B) a
    // true near-dup pair, F filler that evicts A from their LOWEST
    // colliding band bucket at maxPerBucket=1 — plus two chunk-side
    // conditions: (A, B) share at least one simhash chunk, and F does
    // NOT occupy A's bucket at their lowest shared chunk (so the chunk
    // family retains A where the band family lost it).
    val rnd = new scala.util.Random(99)
    val baseWords = (0 until 40).map(i => s"tok$i")
    val aText = baseWords.mkString(" ")
    val bCandidates = (0 until 12).map { i =>
      baseWords.updated(30 + i % 9, s"chg$i").mkString(" ") }
    val fCandidates = (0 until 400).map { i =>
      var w = baseWords
      val n = 8 + rnd.nextInt(12)
      (0 until n).foreach(_ =>
        w = w.updated(rnd.nextInt(40), s"f${i}x${rnd.nextInt(1000)}"))
      w.mkString(" ")
    }
    val all = (Seq(aText) ++ bCandidates ++ fCandidates).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val info = all.toDF("id", "text")
      .select($"id",
        Dedup.minhashSignature(Dedup.shingles($"text"), k).as("sig"),
        Dedup.bandKeys(
          Dedup.minhashSignature(Dedup.shingles($"text"), k), k, bands)
          .as("bk"),
        Dedup.simhash($"text").as("sim"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getSeq[Long](1),
        r.getSeq[org.apache.spark.sql.Row](2).map(_.getLong(1)),
        r.getLong(3))))
      .toMap
    def est(x: Long, y: Long): Double =
      info(x)._1.zip(info(y)._1).count(p => p._1 == p._2).toDouble / k
    def collidingBands(x: Long, y: Long): Seq[Int] =
      (0 until bands).filter(j => info(x)._2(j) == info(y)._2(j))
    def chunkVal(x: Long, c: Int): Long = (info(x)._3 >>> (c * bits)) & mask
    def collidingChunks(x: Long, y: Long): Seq[Int] =
      (0 until chunks).filter(c => chunkVal(x, c) == chunkVal(y, c))
    val aId = 0L
    val found = (for {
      bId <- (1L to bCandidates.length.toLong).iterator
      if est(aId, bId) >= threshold
      cBands = collidingBands(aId, bId)
      if cBands.nonEmpty
      j = cBands.min
      cChunks = collidingChunks(aId, bId)
      if cChunks.nonEmpty
      cm = cChunks.min
      fId <- (bCandidates.length + 1L until all.length.toLong).iterator
      if est(fId, aId) < threshold && est(fId, bId) < threshold
      if info(fId)._2(j) == info(aId)._2(j) // F evicts A from band j
      if chunkVal(fId, cm) != chunkVal(aId, cm) // A survives in chunk cm
    } yield (bId, fId)).buffered.headOption
    assert(found.isDefined,
      "seeded search found no (B, F) triple with a chunk-recoverable band miss")
    val (bId, fId) = found.get
    val texts = all.toMap
    def runStream(chunksOn: Int, name: String): Seq[(Long, Long)] = {
      val dir = Files.createTempDirectory(s"graft_msk_$name").toString
      new java.io.File(s"$dir/in").mkdirs()
      def writeBatch(rows: Seq[(Long, String)]): Unit =
        rows.toDF("doc_id", "text").write.mode("append").parquet(s"$dir/in")
      writeBatch(Seq((1L, texts(aId))))
      val schema = s.read.parquet(s"$dir/in").schema
      val q = EventStreams.nearDupDocStream(
        s.readStream.schema(schema).parquet(s"$dir/in"),
        k = k, bands = bands, threshold = threshold, maxPerBucket = 1,
        chunks = chunksOn)
        .writeStream.format("memory").queryName(s"msk_$name")
        .outputMode("append").option("checkpointLocation", s"$dir/ckpt").start()
      q.processAllAvailable()
      writeBatch(Seq((2L, texts(fId))))
      q.processAllAvailable()
      writeBatch(Seq((3L, texts(bId))))
      q.processAllAvailable(); q.stop()
      s.table(s"msk_$name")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    // bands only: the documented eviction miss
    val bandHits = runStream(chunksOn = 0, "bandsonly")
    assert(!bandHits.contains((3L, 1L)),
      s"band family should miss under eviction, got $bandHits")
    // multi-sketch: the chunk family emits the SAME pair in-stream
    val unionHits = runStream(chunksOn = chunks, "union")
    assert(unionHits.contains((3L, 1L)),
      s"chunk family should recover the band eviction, got $unionHits")
    assert(!unionHits.exists(h => Set(h._1, h._2).contains(2L)),
      s"filler must stay clean, got $unionHits")
  }

  test("streaming merged-users maintenance: each micro-batch leaves the materialized table hash-equal to the full merge") {
    val s = spark
    import s.implicits._
    import java.sql.Timestamp
    import graft.engine.Merge
    import graft.engine.Model.UserSnapshotRow
    def ts(x: String) = Timestamp.valueOf(x)
    def snap(id: Long, user: String, scan: String, deleted: Boolean,
        name: Option[String], extra: Option[String]) =
      UserSnapshotRow(id, "fa", user, ts(scan), 1L, ts(scan), deleted, name, extra)
    val b1 = Seq(
      snap(1L, "u1", "2022-01-01 10:00:00", deleted = false, Some("One"), Some("""{"a":1}""")),
      snap(2L, "u2", "2022-01-02 10:00:00", deleted = false, None, None))
    // batch 2 touches u1 (new snapshot) and introduces u3; u2 untouched
    val b2 = Seq(
      snap(3L, "u1", "2022-02-01 10:00:00", deleted = true, None, Some("""{"b":2}""")),
      snap(4L, "u3", "2022-01-05 10:00:00", deleted = false, Some("Three"), None))
    val dir = Files.createTempDirectory("graft_merge_maint").toString
    new java.io.File(s"$dir/in").mkdirs()
    def writeBatch(rows: Seq[UserSnapshotRow]): Unit =
      rows.toDS().toDF().write.mode("append").parquet(s"$dir/in")
    writeBatch(b1)
    val storage = new graft.storage.Storage(s, s"$dir/store")
    val schema = s.read.parquet(s"$dir/in").schema
    val q = graft.streaming.StreamingIngest.startUserMergeMaintenance(
      s.readStream.schema(schema).parquet(s"$dir/in"), storage,
      s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
    q.processAllAvailable()
    def mergedNow() = storage.read("merged_users")
      .orderBy("site_user_id").toJSON.collect().toSeq
    def fullMerge(rows: Seq[UserSnapshotRow]) =
      Merge.mergeUsers(rows.toDS().toDF())
        .orderBy("site_user_id").toJSON.collect().toSeq
    assert(mergedNow() === fullMerge(b1))
    writeBatch(b2)
    q.processAllAvailable(); q.stop()
    // after the second micro-batch: u1 re-merged (latest snapshot wins,
    // M4 coalesce keeps the older display_name), u3 appears, u2's row
    // carried over untouched — and the whole table equals the full
    // merge-on-read of all snapshots
    assert(mergedNow() === fullMerge(b1 ++ b2))
    val u1 = storage.read("merged_users")
      .filter(col("site_user_id") === "u1").collect().head
    assert(u1.getAs[Long]("snapshot_count") === 2L)
    assert(u1.getAs[Boolean]("is_deleted") === true)
    assert(u1.getAs[String]("display_name") === "One")
  }

  test("streaming merged-submissions maintenance over nested snapshots matches full merge-on-read") {
    val s = spark
    import s.implicits._
    import graft.engine.{Fixtures, Merge}
    val nested = Merge.nestedSubmissionSnapshots(
      Fixtures.submissionSnapshots(s), Fixtures.keywords(s),
      Fixtures.files(s), Fixtures.fileHashes(s), Fixtures.contributors(s))
      .persist()
    // batch split chosen so batch 2 REVISITS an entity batch 1 merged
    val ids = nested.select("submission_snapshot_id")
      .collect().map(_.getLong(0)).sorted
    assert(ids.length >= 3)
    val cut = ids(ids.length / 2)
    val b1 = nested.filter(col("submission_snapshot_id") <= cut)
    val b2 = nested.filter(col("submission_snapshot_id") > cut)
    val dir = Files.createTempDirectory("graft_sub_maint").toString
    new java.io.File(s"$dir/in").mkdirs()
    b1.write.mode("append").parquet(s"$dir/in")
    val storage = new graft.storage.Storage(s, s"$dir/store")
    val schema = s.read.parquet(s"$dir/in").schema
    val q = graft.streaming.StreamingIngest.startSubmissionMergeMaintenance(
      s.readStream.schema(schema).parquet(s"$dir/in"), storage,
      s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
    q.processAllAvailable()
    def mergedNow() = storage.read("merged_submissions")
      .orderBy("website_id", "site_submission_id")
      .drop("files").toJSON.collect().toSeq
    def full(df: org.apache.spark.sql.DataFrame) = Merge.mergeSubmissions(df)
      .orderBy("website_id", "site_submission_id")
      .drop("files").toJSON.collect().toSeq
    assert(mergedNow() === full(b1))
    b2.write.mode("append").parquet(s"$dir/in")
    q.processAllAvailable(); q.stop()
    assert(mergedNow() === full(nested))
    // M7 file-fold survives the maintained table too (key-set check)
    val nFiles = storage.read("merged_submissions")
      .select(sum(size(col("files")))).collect().head.getLong(0)
    val nFilesFull = Merge.mergeSubmissions(nested)
      .select(sum(size(col("files")))).collect().head.getLong(0)
    assert(nFiles === nFilesFull)
    nested.unpersist()
  }

  test("incremental latest-entity state across micro-batches (mapGroupsWithState)") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_stream2").toString
    new java.io.File(s"$dir/in").mkdirs()
    def writeBatch(name: String, rows: Seq[EntityEvent]): Unit =
      rows.toDS().write.mode("append").parquet(s"$dir/in")
    writeBatch("b1", Seq(
      EntityEvent(1L, 100L, "click", 1.0),
      EntityEvent(1L, 200L, "purchase", 9.0),
      EntityEvent(2L, 50L, "view", 0.5)))
    val src = s.readStream.schema(Seq.empty[EntityEvent].toDS().schema)
      .parquet(s"$dir/in").as[EntityEvent]
    val q = EventStreams.latestEntityState(src)
      .writeStream.format("memory").queryName("entity_state")
      .outputMode(EventStreams.latestEntityOutputMode)
      .option("checkpointLocation", s"$dir/ckpt").start()
    q.processAllAvailable()
    // late row (ts 150 < 200) + new user in a second micro-batch
    writeBatch("b2", Seq(
      EntityEvent(1L, 150L, "view", 2.0),
      EntityEvent(3L, 10L, "signup", 0.0)))
    q.processAllAvailable(); q.stop()
    val state = s.table("entity_state")
      .groupBy($"user_id")
      .agg(max(struct($"n_events", $"last_ts", $"last_type")).as("st"))
      .select($"user_id", $"st.last_ts", $"st.last_type", $"st.n_events")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getLong(3)))).toMap
    assert(state(1L) === ((200L, "purchase", 3L))) // late row counted, not promoted
    assert(state(2L) === ((50L, "view", 1L)))
    assert(state(3L) === ((10L, "signup", 1L)))
  }

  test("streamed micro-batches are accepted into the as-of dimension store per trigger") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.streaming.Trigger
    import graft.storage.DurableStores
    val sf = "/root/testdata/sf0.001"
    s.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    // isolated store root: accepts must not leak into the shared
    // warehouse other suites read
    val root = Files.createTempDirectory("graft_asof_stream_root")
    val prevRoot = s.conf.getOption("spark.graft.store.root")
    s.conf.set("spark.graft.store.root", root.toString)
    val dir = Files.createTempDirectory("graft_asof_stream_acc").toString
    new java.io.File(s"$dir/in").mkdirs()
    def writeBatch(rows: Seq[(Long, Long, Long, Double)]): Unit =
      rows.toDF("user_id", "event_id", "ts", "value").coalesce(1)
        .write.mode("append").parquet(s"$dir/in")
    // probe: a synthetic user unknown to the base — only streamed
    // state can answer it
    val probe = Seq((77770L, 123L, 1000L)).toDF("user_id", "event_id", "ts")
    def answer(): Option[Long] =
      graft.queries.EventsMerge.asofJoinEffective(s, sf, probe)
        .selectExpr("asof_eff.event_id AS pid")
        .collect().map(r => Option(r.get(0)).map(_.asInstanceOf[Long])).head
    try {
      writeBatch(Seq((77770L, 990000501L, 500L, 1.5)))
      val schema = s.read.parquet(s"$dir/in").schema
      val q = graft.streaming.StreamingIngest.startAsofDimAccept(
        s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(s"$dir/in"),
        sf, s"$dir/ckpt", trigger = Trigger.ProcessingTime(0L))
      q.processAllAvailable()
      // visible to the effective probe as soon as the trigger commits
      assert(answer() === Some(990000501L))
      // a later state row for the same user wins the struct max
      writeBatch(Seq((77770L, 990000502L, 800L, 2.5)))
      q.processAllAvailable(); q.stop()
      assert(answer() === Some(990000502L))
      // two distinct commit-marked stream partitions
      val batches = DurableStores.committedBatches(s, sf, "asof_accept")
      assert(batches.size === 2 && batches.forall(_.startsWith("stream_")),
        s"batches: $batches")
    } finally {
      prevRoot match {
        case Some(r) => s.conf.set("spark.graft.store.root", r)
        case None => s.conf.unset("spark.graft.store.root")
      }
      DurableStores.resetVerifiedForTest()
      Seq("graft_asof_dim", "graft_asofacc").foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS `${graft.storage.Storage.tableNameFor(t, sf)}`")
      }
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(root)) {
        _.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(f => Files.deleteIfExists(f))
      }
    }
  }

  test("streaming as-of enrichment equals the batch operator across micro-batches") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_asof_stream").toString
    new java.io.File(s"$dir/in").mkdirs()
    // static temporal dimension: per-key state history with a tie at
    // t=20 for key 1 (tieBreak must pick rid=913)
    val dim = Seq(
      (1L, 910L, 10L, "a10"), (1L, 912L, 20L, "a20-lo"),
      (1L, 913L, 20L, "a20-hi"), (1L, 911L, 40L, "a40"),
      (2L, 920L, 15L, "b15")).toDF("k", "rid", "t", "v")
    def writeBatch(name: String, rows: Seq[(Long, Long, Long)]): Unit =
      rows.toDF("k", "lid", "t").coalesce(1)
        .write.mode("append").parquet(s"$dir/in")
    writeBatch("b1", Seq((1L, 100L, 5L), (1L, 101L, 20L), (2L, 102L, 14L)))
    val schema = s.read.parquet(s"$dir/in").schema
    val q = EventStreams.enrichAsof(
      s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$dir/in"),
      dim, Seq("k"), "t", "t", "rid")
      .selectExpr("lid", "asof.rid AS rid", "asof.v AS v")
      .writeStream.format("memory").queryName("asof_enriched")
      .outputMode("append").option("checkpointLocation", s"$dir/ckpt").start()
    q.processAllAvailable()
    def got() = s.table("asof_enriched").collect()
      .map(r => r.getLong(0) ->
        ((Option(r.get(1)).map(_.asInstanceOf[Long]), Option(r.getString(2)))))
      .toMap
    assert(got() === Map(
      100L -> ((None, None)),               // before any dim row for k=1
      101L -> ((Some(913L), Some("a20-hi"))), // tie at t=20 -> max tieBreak
      102L -> ((None, None))))              // k=2 first state is at t=15
    // second micro-batch: enrichment continues statelessly
    writeBatch("b2", Seq((1L, 103L, 45L), (2L, 104L, 15L), (3L, 105L, 99L)))
    q.processAllAvailable(); q.stop()
    assert(got() === Map(
      100L -> ((None, None)),
      101L -> ((Some(913L), Some("a20-hi"))),
      102L -> ((None, None)),
      103L -> ((Some(911L), Some("a40"))),
      104L -> ((Some(920L), Some("b15"))),
      105L -> ((None, None))))              // unseen key: left-outer null
    // parity: the same rows through the BATCH operator
    val allEvents = s.read.parquet(s"$dir/in")
    val batchOut = graft.operators.AsofJoin.asofJoinNative(
      allEvents, dim, Seq("k"), "t", "t", "rid", broadcast = Some(true))
      .selectExpr("lid", "asof.rid AS rid", "asof.v AS v")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)).map(_.asInstanceOf[Long]), Option(r.getString(2)))))
      .toMap
    assert(got() === batchOut)
  }

  test("streaming as-of: skew-split routing and staleness bound match the batch operator") {
    // the round-13 gap: EventStreams.enrichAsof reached only the plain
    // native operator — neither the spark.graft.asof.skewSplits conf
    // (a stream CANNOT run the split's min/max bounds job; the bounds
    // now come from the static dimension alone) nor the staleness
    // bound had a streaming path. Both must give batch == stream.
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_asof_stream_split").toString
    new java.io.File(s"$dir/in").mkdirs()
    // hot key 1 dominates both sides (the skew shape the split serves);
    // ties at repeated dim times exercise the tieBreak through the carry
    val dim = (0L until 40L)
      .map(i => (if (i % 5 == 0) 2L else 1L, 900L + i, i * 7, s"v$i"))
      .toDF("k", "rid", "t", "v")
    def writeBatch(rows: Seq[(Long, Long, Long)]): Unit =
      rows.toDF("k", "lid", "t").coalesce(1)
        .write.mode("append").parquet(s"$dir/in")
    writeBatch((0L until 30L).map(i => (1L, i, (i * 13) % 250)))
    val schema = s.read.parquet(s"$dir/in").schema
    val stale = 3L
    try {
      s.conf.set("spark.graft.asof.skewSplits", "4")
      val q = EventStreams.enrichAsof(
        s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(s"$dir/in"),
        dim, Seq("k"), "t", "t", "rid",
        broadcast = Some(false), // merge path: the conf reroutes it through the split
        maxStale = Some(lit(stale)))
        .selectExpr("lid", "asof.rid AS rid")
        .writeStream.format("memory").queryName("asof_split_enriched")
        .outputMode("append")
        .option("checkpointLocation", s"$dir/ckpt").start()
      q.processAllAvailable()
      // a second micro-batch crosses bucket boundaries statelessly
      writeBatch((30L until 60L).map(i =>
        (if (i % 6 == 0) 2L else 1L, i, (i * 19) % 250)))
      q.processAllAvailable(); q.stop()
      def canon(rows: Array[org.apache.spark.sql.Row]) = rows
        .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long]))
        .sortBy(_._1).toSeq
      val streamOut = canon(s.table("asof_split_enriched").collect())
      // batch twins: the tolerance operator through the UNSPLIT native
      // kernel, and through the composed window — three paths, one answer
      val allEvents = s.read.parquet(s"$dir/in")
      s.conf.unset("spark.graft.asof.skewSplits")
      val batchNative = canon(graft.operators.AsofJoin.asofJoinNative(
        allEvents, dim, Seq("k"), "t", "t", "rid", broadcast = Some(false),
        maxStale = Some(lit(stale)))
        .selectExpr("lid", "asof.rid AS rid").collect())
      val batchComposed = canon(graft.operators.AsofJoin.asofJoin(
        allEvents, dim, Seq("k"), "t", "t", "rid")
        .withColumn("asof", when(
          col("asof").getField("t") >= col("t") - lit(stale), col("asof")))
        .selectExpr("lid", "asof.rid AS rid").collect())
      assert(streamOut === batchNative,
        "stream through conf-split + kernel bound must equal unsplit batch")
      assert(streamOut === batchComposed)
      // the bound actually bit (some winners nulled vs the unbounded join)
      val unbounded = canon(graft.operators.AsofJoin.asofJoinNative(
        allEvents, dim, Seq("k"), "t", "t", "rid", broadcast = Some(true))
        .selectExpr("lid", "asof.rid AS rid").collect())
      assert(streamOut !== unbounded,
        "fixture must exercise the staleness bound")
    } finally s.conf.unset("spark.graft.asof.skewSplits")
  }
}
