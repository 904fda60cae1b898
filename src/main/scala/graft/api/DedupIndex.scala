package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent corpus-dedup index — the state a production ingestion
  * pipeline keeps between runs so each new batch is deduped against
  * everything ever accepted WITHOUT rescanning the corpus.
  *
  * Two parquet lookup tables, one row per distinct key:
  *  - exact: sha2 of the normalized (lowered, trimmed) text
  *  - near:  the sorted-distinct word-set signature
  * each mapping to the smallest doc_id that owns it. `update` unions the
  * accepted batch in and re-minimizes — an idempotent merge, so re-runs
  * of the same batch don't corrupt the index. All operations are
  * distributed joins/aggregations; nothing is collected.
  *
  * Layout: the table IS `dir`, one generation replaced by the StoreIO
  * swap ([[StoreIO.swapIn]]: staged write, then rename); during the
  * swap's crash window the previous generation is complete at
  * `dir-old`, which [[read]] falls back to ([[StoreIO.genPath]]).
  */
object DedupIndex {

  /** The two dedup keys per doc: exact normalized-text hash + word-set
    * signature. THE single definition — the llm_dedup_incremental
    * operator and the persistent index both go through here, so the
    * normalization can never drift between them.
    */
  def keyed(docs: DataFrame): DataFrame = docs.select(
    col("doc_id"),
    sha2(lower(trim(col("text"))), 256).as("eh"),
    expr("array_join(array_sort(array_distinct(split(lower(text), ' '))), ' ')").as("sig"))

  private def minimize(k: DataFrame): DataFrame =
    k.groupBy("eh", "sig").agg(min("doc_id").as("doc_id"))

  /** Verdict per batch doc against any keyed index frame (persisted or
    * freshly keyed): `exact` beats `near` beats `keep`, with the owning
    * corpus doc_id.
    */
  def verdicts(batch: DataFrame, index: DataFrame): DataFrame = {
    val exact = index.groupBy("eh").agg(min("doc_id").as("exact_match"))
    val near = index.groupBy("sig").agg(min("doc_id").as("near_match"))
    keyed(batch)
      .join(exact, Seq("eh"), "left")
      .join(near, Seq("sig"), "left")
      .select(col("doc_id"),
        when(col("exact_match").isNotNull, "exact")
          .when(col("near_match").isNotNull, "near")
          .otherwise("keep").as("verdict"),
        coalesce(col("exact_match"), col("near_match")).as("match_id"))
  }

  /** Create the index at `dir` from an initial corpus. */
  def build(docs: DataFrame, dir: String): Unit =
    StoreIO.swapIn(minimize(keyed(docs)), docs.sparkSession, dir)

  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(StoreIO.genPath(spark, dir))

  /** Verdict per batch doc against the stored index: `exact` (normalized
    * text already present), `near` (word-set signature present), or
    * `keep`, with the owning corpus doc_id. Exact beats near.
    */
  def check(batch: DataFrame, dir: String): DataFrame =
    verdicts(batch, read(batch.sparkSession, dir))

  /** Fold an accepted batch into the index (idempotent min-merge). The
    * rewrite touches only the index — never the corpus — and the index
    * is smaller than the corpus by the duplicate factor; at larger scale
    * the same merge partitions by key range and rewrites only changed
    * partitions.
    *
    * Durability: the merge is FULLY WRITTEN to a staged sibling
    * directory before anything existing moves ([[StoreIO.swapIn]]), so a
    * failure at any point leaves a complete generation on disk.
    */
  def update(docs: DataFrame, dir: String): Unit =
    StoreIO.swapIn(minimize(read(docs.sparkSession, dir).unionByName(keyed(docs))),
      docs.sparkSession, dir)
}
