package graft.ops

import graft.{Tables => T}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Kernels the LLM family modules ([[LlmDedup]], [[LlmText]],
  * [[LlmVectors]]) share: the cosine-similarity fold with its DuckDB
  * twin, and the nearest-seed k-means assignment with its oracle CTE.
  *
  * Float parity: cosine similarity is computed as an explicit sequential
  * left-fold over the vector in DOUBLE on BOTH engines (Spark
  * aggregate/zip_with vs DuckDB list_reduce/list_transform), which makes
  * the results bit-identical and needs no rounding.
  */
object LlmOps {

  /** Sequential double dot-product fold, Spark side. */
  private[graft] def dot(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
      "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"

  private[graft] def sim(a: String, b: String): String =
    s"${dot(a, b)} / sqrt(${dot(a, a)} * ${dot(b, b)})"

  /** The codegen'd Catalyst expression form — bit-identical to [[sim]]
    * (same accumulation order; pinned by a test) but stays inside
    * whole-stage codegen with no per-row allocation.
    */
  private[ops] def simCol(a: String, b: String) = expr(s"cosine_sim($a, $b)")

  /** Same fold, DuckDB side (list_reduce is a sequential left-fold). */
  private def oDot(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(range(1, len($a) + 1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), " +
      "(acc, v) -> acc + v)"

  private[ops] def oSim(a: String, b: String): String =
    s"${oDot(a, b)} / sqrt(${oDot(a, a)} * ${oDot(b, b)})"

  /** Nearest-of-10-seed-centroids assignment (shared by llm_kmeans_step
    * and llm_semdedup): bounded seed set broadcast against the vector
    * stream, squared-L2 as a sequential fold, argmin via window with
    * c_id tiebreak. Returns (vec_id, embedding, c_id).
    */
  private[ops] def kmeansAssign(s: org.apache.spark.sql.SparkSession, d: String) = {
    val emb = T.t(s, d, "embeddings")
    val seeds = emb.where("vec_id < 10")
      .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val d2 = "aggregate(zip_with(embedding, c_vec, (x, c) -> " +
      "(CAST(x AS DOUBLE) - CAST(c AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(c AS DOUBLE))), " +
      "CAST(0 AS DOUBLE), (a, v) -> a + v)"
    emb.crossJoin(broadcast(seeds))
      .withColumn("d2", expr(d2))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("d2"), col("c_id"))))
      .where("rn = 1")
      .select("vec_id", "embedding", "c_id")
  }

  /** The kmeans-assignment CTE prefix shared by the kmeans/semdedup
    * oracles (must stay textually in sync with [[kmeansAssign]]).
    */
  private[ops] val oKmeansAssign: String =
    "WITH seeds AS (SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings WHERE vec_id < 10), " +
      "a AS (SELECT e.vec_id, e.embedding, s.c_id, " +
      "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      "list_transform(range(1, len(e.embedding) + 1), i -> " +
      "(CAST(e.embedding[i] AS DOUBLE) - CAST(s.c_vec[i] AS DOUBLE)) * " +
      "(CAST(e.embedding[i] AS DOUBLE) - CAST(s.c_vec[i] AS DOUBLE)))), " +
      "(x, y) -> x + y) AS d2 FROM embeddings e, seeds s), " +
      "b AS (SELECT vec_id, embedding, c_id, " +
      "row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_id) AS rn FROM a), " +
      "m AS (SELECT vec_id, embedding, c_id FROM b WHERE rn = 1)"
}
