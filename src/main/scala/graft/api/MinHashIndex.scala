package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent MinHash-LSH near-dup index — the signature half of the
  * state a production ingestion pipeline keeps between runs, the way
  * [[DedupIndex]] keeps the exact/word-set half. A nightly batch is
  * near-dup-checked against EVERYTHING ever accepted by joining the
  * batch's banded signatures against the stored ones: the corpus never
  * re-tokenizes, never re-hashes, and never self-joins, so the
  * incremental cost is proportional to the batch — the only shape that
  * survives a corpus that has grown to 100 TB while the nightly batch
  * stays at GBs.
  *
  * Layout under `dir`: a ledgered generation (StoreIO.commitGen), one
  * directory `gen/` swapped with one rename:
  *   - `gen/sigs`       — one row per accepted doc: (doc_id, sig ARRAY<BIGINT>[16])
  *   - `gen/state.json` — the batch-id ledger + the sigs schema.
  *     Signature rows are immutable and doc_id-keyed, so the merge
  *     dedups by doc_id and is idempotent anyway; the ledger
  *     additionally makes a REPLAYED update a metadata no-op (no
  *     rewrite, no Spark job).
  *
  * A crash in any window leaves a complete previous generation
  * readable. The pre-generation layout (`sigs` + a parquet `applied`
  * ledger directly under `dir`) stays readable and is folded into
  * `gen/` by the next update.
  */
object MinHashIndex {

  /** MinHash(k=16) signatures over 3-gram shingles — THE single
    * definition (the native codegen pair minhash_sig ∘ shingle_hashes
    * from graft.functions), shared by the one-shot operators, the
    * incremental operator, and this persistent index, so signatures in
    * the store can never drift from signatures computed fresh.
    */
  def signatures(docs: DataFrame): DataFrame = {
    graft.GraftExtensions.install(docs.sparkSession)
    docs.where("size(split(lower(text), ' ')) >= 3")
      .select(col("doc_id"), expr("minhash_sig(shingle_hashes(text))").as("sig"))
  }

  /** LSH banding (4 bands of 4 rows): (doc_id, band, band_sig). */
  def banded(sigs: DataFrame): DataFrame = sigs
    .select(col("doc_id"), explode(expr("sequence(0, 3)")).as("band"), col("sig"))
    .withColumn("band_sig",
      expr("array_join(transform(slice(sig, band * 4 + 1, 4), x -> CAST(x AS STRING)), ',')"))
    .select("doc_id", "band", "band_sig")

  /** Near-dup matches of a batch signature set against an index
    * signature set: band-bucket equi-join (batch side vs index side —
    * never index self-join), distinct candidates, then the 16-row
    * signature-agreement estimate, thresholded. Returns
    * (batch_id, corpus_id, est_jaccard).
    */
  def matches(batchSigs: DataFrame, indexSigs: DataFrame,
      minEst: Double = 0.5): DataFrame = {
    val cand = banded(batchSigs).as("x").join(banded(indexSigs).as("y"),
        col("x.band") === col("y.band") && col("x.band_sig") === col("y.band_sig"))
      .select(col("x.doc_id").as("batch_id"), col("y.doc_id").as("corpus_id"))
      .distinct()
    cand
      .join(batchSigs.select(col("doc_id").as("batch_id"), col("sig").as("s1")),
        "batch_id")
      .join(indexSigs.select(col("doc_id").as("corpus_id"), col("sig").as("s2")),
        "corpus_id")
      .withColumn("est_jaccard", expr(
        "CAST(size(filter(sequence(1, 16), i -> element_at(s1, i) = element_at(s2, i))) AS DOUBLE) / 16"))
      .where(s"est_jaccard >= $minEst")
      .select("batch_id", "corpus_id", "est_jaccard")
  }

  // ------------------------------------------------- store (via StoreIO)

  /** Create the index at `dir` from an initial corpus. */
  def build(docs: DataFrame, dir: String): Unit =
    StoreIO.commitGen(docs.sparkSession, dir, Seq.empty, Some("sigs" -> signatures(docs)))

  /** Stored signatures, with the crash-window fallback. */
  def read(spark: SparkSession, dir: String): DataFrame =
    StoreIO.readTable(spark, dir, "sigs")

  /** Fold an accepted batch's signatures in. Dedup by doc_id keeps the
    * merge idempotent even without the ledger; with a `batchId` already
    * in the ledger the call is a full no-op (no rewrite, no Spark job).
    * An absent store bootstraps from the batch (so a streaming sink's
    * FIRST micro-batch needs no separate build step).
    *
    * @return true if the batch was applied, false if the ledger
    *         recognized it as already merged.
    */
  def update(docs: DataFrame, dir: String, batchId: Option[String] = None): Boolean = {
    val spark = docs.sparkSession
    if (!StoreIO.hasTable(spark, dir, "sigs")) {
      StoreIO.commitGen(spark, dir, batchId.toSeq, Some("sigs" -> signatures(docs)))
      return true
    }
    val led = StoreIO.ledgerOf(spark, dir)
    if (batchId.exists(led.contains)) return false
    val merged = read(spark, dir).unionByName(signatures(docs))
      .groupBy("doc_id").agg(first("sig").as("sig"))
    StoreIO.commitGen(spark, dir, led ++ batchId, Some("sigs" -> merged))
    true
  }

  /** Near-dup check of a new batch against the stored corpus. */
  def check(batch: DataFrame, dir: String, minEst: Double = 0.5): DataFrame =
    matches(signatures(batch), read(batch.sparkSession, dir), minEst)
}
