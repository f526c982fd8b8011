package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Fixtures, Merge}
import graft.engine.Model._
import graft.functions.JsonMergeObjects
import graft.functions.LongToBigEndianBinary

/** Merge-family unit specs (SURVEY §5 plan): null columns, all-null
  * coalesce chains, clash vs non-clash file folds, ordinal-less
  * keywords, arrival-order insensitivity. */
class MergeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def ts(s: String) = Timestamp.valueOf(s)

  private def mergedSubs() = {
    val s = spark
    Merge.mergeSubmissions(Merge.nestedSubmissionSnapshots(
      Fixtures.submissionSnapshots(s), Fixtures.keywords(s),
      Fixtures.files(s), Fixtures.fileHashes(s), Fixtures.contributors(s)))
  }

  test("submission merge: latest/coalesce/count semantics (M1–M4, M8)") {
    val row = mergedSubs().filter(col("site_submission_id") === "s1")
      .collect().head
    assert(row.getAs[Long]("snapshot_count") === 3L)
    assert(row.getAs[Boolean]("is_deleted") === true)
    assert(row.getAs[String]("uploader_site_user_id") === "u9")
    assert(row.getAs[String]("title") === "Final Title")
    assert(row.getAs[String]("description") === "A description")
    assert(row.getAs[Timestamp]("first_scanned") === ts("2022-01-01 10:00:00"))
    assert(row.getAs[Timestamp]("latest_update") === ts("2022-03-01 10:00:00"))
    assert(row.getAs[Timestamp]("datetime_posted") === ts("2021-12-25 00:00:00"))
  }

  test("submission merge: ordered JSON overlay is newest-wins and canonical (M5)") {
    val row = mergedSubs().filter(col("site_submission_id") === "s1")
      .collect().head
    assert(row.getAs[String]("extra_data") ===
      """{"fav_count":3,"rating":"general","views":25}""")
  }

  test("keyword resolution: newest recorded snapshot wins; nulls-last sort (M6, A9)") {
    val kws = mergedSubs().filter(col("site_submission_id") === "s1")
      .select(expr("transform(keywords, k -> k.keyword)"))
      .collect().head.getSeq[String](0)
    assert(kws === Seq("art", "beta", "wolf"))
    // s2 has no recorded snapshot → empty list, not null
    val kw2 = mergedSubs().filter(col("site_submission_id") === "s2")
      .select(size(col("keywords"))).collect().head.getInt(0)
    assert(kw2 === 0)
  }

  test("file merge: non-clash merges extra+hashes, clash replaces wholesale (M7)") {
    val files = mergedSubs().filter(col("site_submission_id") === "s1")
      .select(expr(
        "transform(files, f -> struct(f.site_file_id, f.file_url, f.file_size, f.extra_data, transform(f.hashes, h -> h.algo_id)))"))
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
    assert(files.length === 2)
    val main = files.head
    // f3 replaced the merged f1+f2 state on url clash
    assert(main.getString(0) === "f-main")
    assert(main.getString(1) === "https://cdn.fa/1-new.png")
    assert(main.getLong(2) === 2000L)
    assert(main.getString(3) === null)
    assert(main.getSeq[Long](4) === Seq(1L))
  }

  test("merge is arrival-order insensitive (snapshot rows shuffled)") {
    val s = spark
    import s.implicits._
    val reversed = Fixtures.submissionSnapshots(s).orderBy($"submission_snapshot_id".desc)
      .repartition(3)
    // toJSON: binary columns render as base64, so equality is by value
    val a = Merge.mergeSubmissions(Merge.nestedSubmissionSnapshots(
      reversed, Fixtures.keywords(s), Fixtures.files(s),
      Fixtures.fileHashes(s), Fixtures.contributors(s)))
      .orderBy("site_submission_id").toJSON.collect().toSeq
    val b = mergedSubs().orderBy("site_submission_id").toJSON.collect().toSeq
    assert(a === b)
  }

  test("user merge: display_name from sorted order (A1 fix), all-null extra → null") {
    val s = spark
    val users = Merge.mergeUsers(Fixtures.userSnapshots(s))
      .orderBy("site_user_id").collect()
    val u1 = users(0); val u9 = users(1)
    assert(u9.getAs[String]("display_name") === "Niner")
    assert(u9.getAs[Boolean]("is_deleted") === true)
    assert(u9.getAs[String]("extra_data") === """{"age":5,"country":"US"}""")
    assert(u1.getAs[String]("extra_data") === null)
  }

  test("file merge: size clash and hash clash also replace") {
    val s = spark
    import s.implicits._
    val snaps = Seq(
      SubmissionSnapshotRow(1L, "fa", "x", ts("2022-01-01 00:00:00"), 1L,
        ts("2022-01-01 00:00:00"), None, is_deleted = false, None, None, None,
        keywords_recorded = false, None),
      SubmissionSnapshotRow(2L, "fa", "x", ts("2022-01-02 00:00:00"), 1L,
        ts("2022-01-02 00:00:00"), None, is_deleted = false, None, None, None,
        keywords_recorded = false, None)).toDF()
    // size clash: 100 vs 200 (urls null → no url clash)
    val files = Seq(
      FileRow(1L, 1L, Some("a"), None, Some(100L), Some("""{"k":1}""")),
      FileRow(2L, 2L, Some("a"), None, Some(200L), None),
      // hash clash on algo 7
      FileRow(3L, 1L, Some("b"), None, None, None),
      FileRow(4L, 2L, Some("b"), None, None, None)).toDF()
    val hashes = Seq(
      FileHashRow(1L, 3L, 7L, Array[Byte](1)),
      FileHashRow(2L, 4L, 7L, Array[Byte](2))).toDF()
    val merged = Merge.mergeSubmissions(Merge.nestedSubmissionSnapshots(
      snaps, Fixtures.keywords(s).limit(0), files, hashes, Fixtures.contributors(s)))
    val out = merged.select(expr(
      "transform(files, f -> struct(f.site_file_id, f.file_size, f.extra_data, transform(f.hashes, h -> h.hash_value)))"))
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
    val a = out.find(_.getString(0) == "a").get
    assert(a.getLong(1) === 200L) // replaced on size clash
    assert(a.getString(2) === null) // extra_data wiped by replacement
    val b = out.find(_.getString(0) == "b").get
    assert(b.getSeq[Array[Byte]](3).map(_.toSeq) === Seq(Seq(2.toByte))) // replaced on hash clash
  }

  test("incremental merge refreshes only touched entities, equals full re-merge") {
    val s = spark
    import s.implicits._
    val nested0 = Merge.nestedSubmissionSnapshots(
      Fixtures.submissionSnapshots(s), Fixtures.keywords(s),
      Fixtures.files(s), Fixtures.fileHashes(s), Fixtures.contributors(s))
    val merged0 = Merge.mergeSubmissions(nested0)
    // new snapshot arrives for s2 only
    val newSnap = Seq(SubmissionSnapshotRow(105L, "fa", "s2",
      ts("2022-04-01 10:00:00"), 2L, ts("2022-06-10 00:00:00"),
      None, is_deleted = false, Some("Solo v2"), None, None,
      keywords_recorded = false, None)).toDF()
    val allSnaps = Fixtures.submissionSnapshots(s).union(newSnap)
    val allNested = Merge.nestedSubmissionSnapshots(
      allSnaps, Fixtures.keywords(s), Fixtures.files(s),
      Fixtures.fileHashes(s), Fixtures.contributors(s))
    val incremental = Merge.incrementalMergeSubmissions(
      merged0, allNested, newSnap)
      .orderBy("site_submission_id").toJSON.collect().toSeq
    val full = Merge.mergeSubmissions(allNested)
      .orderBy("site_submission_id").toJSON.collect().toSeq
    assert(incremental === full)
    // and s2 picked up the new title
    assert(incremental.exists(_.contains("\"title\":\"Solo v2\"")))
  }

  test("jsonMergePair/canonical helpers") {
    assert(JsonMergeObjects.mergePair("""{"b":1,"a":{"z":1,"y":2}}""", """{"b":2}""") ===
      """{"a":{"y":2,"z":1},"b":2}""")
    assert(JsonMergeObjects.canonicalJson("""{"b":[{"d":1,"c":2}],"a":null}""") ===
      """{"a":null,"b":[{"c":2,"d":1}]}""")
  }

  test("q55-scale merge over a bucketed nested store is shuffle-free (SURVEY §4.4)") {
    val s = spark
    // the exact q83 path: materialize-once bucketed store + catalog read
    val nested = graft.queries.MergeScaleQ.nestedAtScale(s, "/root/testdata/sf0.001")
    val merged = Merge.mergeSubmissions(
      graft.queries.MergeScaleQ.bucketedNested(s, "/root/testdata/sf0.001"))
    val plan = PlanShape.render(merged)
    assert(!plan.contains("Exchange"),
      s"merge over the bucketed nested store should not shuffle:\n$plan")
    // identical results to the direct (shuffling) path
    val viaBuckets = merged.orderBy("site_submission_id")
      .drop("files").toJSON.collect().toSeq
    val direct = Merge.mergeSubmissions(nested).orderBy("site_submission_id")
      .drop("files").toJSON.collect().toSeq
    assert(viaBuckets === direct)
    // file merge survives the bucketed path too (key-set check)
    val nFiles = merged.select(sum(size(col("files")))).collect().head.getLong(0)
    val nFilesDirect = Merge.mergeSubmissions(nested)
      .select(sum(size(col("files")))).collect().head.getLong(0)
    assert(nFiles === nFilesDirect)
  }

  test("q117: incremental merge over PERSISTED base+history is batch-proportional (no full-corpus shuffle)") {
    val s = spark
    val sf = "/root/testdata/sf0.001"
    val q117 = graft.queries.MergeScaleQ
      .queries("q117_incremental_merge_stored")(s, sf)
    val plan = PlanShape.render(q117)
    // the stored base and the bucketed history are both laid out on
    // the entity key, so NOTHING in the maintenance query shuffles on
    // it: touched-entity distinct, left_semi re-merge, left_anti
    // carve-out, and the merge aggregation all run bucket-local (a
    // BroadcastExchange of the batch-sized touched set is fine — that
    // IS the batch-proportional design)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"persisted-base incremental merge shuffled on the entity key:\n$plan")
    assert(plan.toLowerCase.contains("leftsemi"),
      s"re-merge is not entity-pruned via left_semi:\n$plan")
    // maintenance never changes the answer: identical to the full
    // merge-on-read (q55's shape — the shared DuckDB oracle)
    val viaStore = q117.orderBy("site_submission_id").toJSON.collect().toSeq
    val full = graft.queries.MergeScaleQ.queries("q55_merge_scale")(s, sf)
      .orderBy("site_submission_id").toJSON.collect().toSeq
    assert(viaStore === full)
  }

  test("bucketedTableName: distinct dirs get distinct tables, even on hashCode collision") {
    import graft.queries.MergeScaleQ.bucketedTableName
    // "Aa" and "BB" have identical Java hashCodes — the old hashCode
    // key would have served one dir's bucketed store for the other
    assert("/data/Aa".hashCode === "/data/BB".hashCode)
    assert(bucketedTableName("/data/Aa") !== bucketedTableName("/data/BB"))
    // names must be valid catalog identifiers
    val n = bucketedTableName("/root/testdata/sf0.1")
    assert(n.matches("[A-Za-z0-9_]+"), n)
    // deterministic per path
    assert(n === bucketedTableName("/root/testdata/sf0.1"))
  }

  test("longToBigEndianBinary matches struct.pack('>q') semantics (F9)") {
    val s = spark
    import s.implicits._
    val out = Seq(1L, -1L, 0x0102030405060708L).toDF("v")
      .select(LongToBigEndianBinary.longToBigEndianBinary($"v").as("b"))
      .collect().map(_.getAs[Array[Byte]]("b").toSeq)
    assert(out(0) === Seq[Byte](0, 0, 0, 0, 0, 0, 0, 1))
    assert(out(1) === Seq.fill[Byte](8)(-1))
    assert(out(2) === Seq[Byte](1, 2, 3, 4, 5, 6, 7, 8))
  }
}
