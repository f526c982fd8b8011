package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.t

/** Similarity-search operators over the `embeddings` table (builder
  * brief: ANN over an Array[Float] column). This module holds the
  * oracle-checkable baseline — exact brute-force cosine top-k — and the
  * norm computation; the LSH-bucketed scale path lives in
  * [[graft.operators.Similarity]].
  *
  * All arithmetic is promoted to double *before* multiplication and
  * folded in index order on both engines, so cosines agree bit-for-bit
  * and ranks are stable; only ids/ranks are emitted (tie-break on
  * neighbor id).
  *
  * Scale: queries are broadcast (small side), candidates stream —
  * brute force is O(Q·N) but shuffle-free; the 100 TB path swaps the
  * candidate set for LSH buckets with the same scoring code.
  */
object EmbeddingsQ {

  type Q = (SparkSession, String) => DataFrame

  private def dot(a: Column, b: Column): Column =
    graft.operators.Similarity.dot(a, b)

  private val q24KnnBrute: Q = (s, d) => {
    import s.implicits._
    val emb = t(s, d, "embeddings")
    val qs = emb.filter($"vec_id" < 20)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val cands = emb.select($"vec_id".as("nid"), $"embedding".as("nv"))
    val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"nid".asc)
    cands.crossJoin(broadcast(qs))
      .filter($"nid" =!= $"qid")
      .withColumn("cos",
        dot($"qv", $"nv") / (sqrt(dot($"qv", $"qv")) * sqrt(dot($"nv", $"nv"))))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select($"qid", $"rank".cast("long").as("rank"), $"nid")
  }

  private val q25Norms: Q = (s, d) => {
    import s.implicits._
    t(s, d, "embeddings").select(
      $"vec_id",
      round(sqrt(dot($"embedding", $"embedding")), 4).as("l2_norm"),
      $"label")
  }

  /** Int8-quantized brute-force top-k: the 4×-smaller ANN path under
    * the hard gate. Quantized dots are exact integer math, so DuckDB
    * replays quantization, scoring, and ranking identically — the
    * approximate answer itself is hash-checked. */
  private val q74QuantizedKnn: Q = (s, d) => {
    import s.implicits._
    // spread BEFORE quantization: the per-row int8 quantize plus the
    // sample × corpus integer dots are map-side CPU a single-split
    // scan serializes onto one task (one 1.5 s task carried ~74% of
    // q74's warm task time; see its record in Bench's `query_metrics`);
    // no-op at real scale
    val z = graft.operators.Quantize.quantizeInt8(
      graft.Tables.spread(t(s, d, "embeddings")), "embedding", "qv")
    // int8 values are exact in float32 and every product/partial sum
    // stays below 2^24, so the native float DotProductExpr computes
    // the same exact integers as a double fold (and stays codegen'd —
    // the interpreted zip_with/aggregate formulation was 10× slower)
    val qf = $"qv".cast("array<float>")
    // zero vectors quantize to null and have no cosine — excluded on
    // both sides (the oracle's z CTE applies the same max|x| > 0 cut)
    val qs = z.filter($"vec_id" < 20 && $"qv".isNotNull)
      .select($"vec_id".as("qid"), qf.as("qq"))
    val cands = z.filter($"qv".isNotNull).select($"vec_id".as("nid"), qf.as("nv"))
    val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"nid".asc)
    cands.crossJoin(broadcast(qs))
      .filter($"nid" =!= $"qid")
      .withColumn("cos",
        dot($"qq", $"nv") / (sqrt(dot($"qq", $"qq")) * sqrt(dot($"nv", $"nv"))))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select($"qid", $"rank".cast("long").as("rank"), $"nid",
        round($"cos", 6).as("qcos"))
  }

  /** Random-projection reduction under the hard gate: 64-dim → 16-dim
    * with the engine-portable plane family, every projected value
    * hash-checked (DuckDB replays planes and the index-order fold). */
  private val q79RandomProjection: Q = (s, d) => {
    import s.implicits._
    t(s, d, "embeddings")
      .select($"vec_id", posexplode(
        graft.operators.Similarity.randomProjection(
          $"embedding", 16, portablePlanes = true)).as(Seq("pos", "f")))
      .select($"vec_id", $"pos".cast("long").as("pos"),
        round($"f", 6).as("f"))
  }

  val queries: Map[String, Q] = Map(
    "q24_knn_brute" -> q24KnnBrute,
    "q25_vector_norms" -> q25Norms,
    "q74_quantized_knn" -> q74QuantizedKnn,
    "q79_random_projection" -> q79RandomProjection)

  val oracles: Map[String, String] = Map(
    "q79_random_projection" ->
      """SELECT vec_id, p AS pos, round(f, 6) AS f FROM (
        |  SELECT e.vec_id, r.range AS p,
        |    list_sum(list_transform(
        |      list_zip(e.embedding, range(0, length(e.embedding))),
        |      z -> CAST(z[1] AS DOUBLE) *
        |        (CASE WHEN (r.range*379 + z[2]*607 + r.range*z[2]*131) % 1009 < 504
        |         THEN 1.0 ELSE -1.0 END))) AS f
        |  FROM embeddings e CROSS JOIN range(0, 16) r)""".stripMargin,
    "q74_quantized_knn" ->
      """WITH z AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE)
        |      * (127.0 / list_max(list_transform(embedding,
        |           y -> abs(CAST(y AS DOUBLE))))))) AS qv
        |  FROM embeddings
        |  WHERE list_max(list_transform(embedding,
        |    y -> abs(CAST(y AS DOUBLE)))) > 0),
        |qs AS (SELECT vec_id AS qid, qv AS qq FROM z WHERE vec_id < 20),
        |pairs AS (
        |  SELECT qs.qid, z.vec_id AS nid,
        |    list_sum(list_transform(list_zip(qs.qq, z.qv), p -> p[1] * p[2]))
        |    / (sqrt(list_sum(list_transform(qs.qq, x -> x * x)))
        |       * sqrt(list_sum(list_transform(z.qv, x -> x * x)))) AS cos
        |  FROM z CROSS JOIN qs WHERE z.vec_id <> qs.qid)
        |SELECT qid, rank, nid, round(cos, 6) AS qcos FROM (
        |  SELECT qid, nid, cos, row_number() OVER (
        |    PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
        |  FROM pairs)
        |WHERE rank <= 3""".stripMargin,
    "q24_knn_brute" ->
      """WITH qs AS (
        |  SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 20),
        |pairs AS (
        |  SELECT qs.qid, e.vec_id AS nid,
        |    list_sum(list_transform(list_zip(qs.qv, e.embedding),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(qs.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
        |    AS cos
        |  FROM embeddings e CROSS JOIN qs WHERE e.vec_id <> qs.qid)
        |SELECT qid, rank, nid FROM (
        |  SELECT qid, nid, row_number() OVER (
        |    PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
        |  FROM pairs)
        |WHERE rank <= 3""".stripMargin,
    "q25_vector_norms" ->
      """SELECT vec_id,
        | round(sqrt(list_sum(list_transform(embedding,
        |   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm,
        | label
        |FROM embeddings""".stripMargin)
}
