package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent sessionization state — incremental view maintenance for
  * the gap-based session table. A nightly event batch extends the
  * stored sessions WITHOUT recomputing history: per user, only the
  * session that was open at the previous batch boundary can be touched
  * (a new event either lands within the gap of the stored tail —
  * merging into it — or opens a new session), so the incremental cost
  * is proportional to the batch, never to the years of history behind
  * it. Session semantics are the engine-wide single definition
  * (StreamingOps.sessionizeBatch, pinned equal to Structured Streaming's
  * session_window), and the contract `incremental == full recompute` is
  * oracle-checked by rel_sessionize_incremental, whose DuckDB oracle IS
  * the full recompute.
  *
  * Layout under `dir`: a ledgered generation (StoreIO.commitGen) — ONE
  * directory `gen/` holding the table AND its metadata, swapped with
  * one rename:
  *   - `gen/sessions`   — (user_id, session_seq, n_events, start_us, end_us)
  *   - `gen/state.json` — the newest UpsertStore.ledgerWindow batch ids
  *     + the recorded table schema; a replayed update is a no-op. The
  *     replay check and the ledger append cost zero Spark jobs, and
  *     reads pass the recorded schema instead of a footer-inference
  *     job. A legacy store whose ledger is the parquet `gen/applied`
  *     has it folded into the next generation's state.json.
  * The single-rename commit matters here more than in MinHashIndex:
  * the session merge is NOT naturally idempotent (a doc_id-keyed
  * signature merge dedups itself; re-adding a batch's event counts
  * would double them), so the ledger and the data it guards must never
  * be separable by a crash window. They commit in one rename.
  *
  * Ingestion contract: batches are time-ordered — every batch event's
  * ts is >= its user's stored tail end (the shape any log/CDC ingestion
  * guarantees). Out-of-order history would need a session REBUILD for
  * the affected users, which is exactly what a production pipeline does
  * on late backfill.
  *
  * Scale note: the swap rewrites the sessions parquet, like every store
  * here; at 100 TB the `sessions` table is partitioned by a user-id
  * bucket and the merge overwrites only buckets containing batch users
  * (dynamic partition overwrite — the primitive
  * snk_dynamic_partition_overwrite demonstrates). The MERGE itself is
  * already bucket-local: every touched row keys on a batch user.
  */
object SessionStore {

  private def gapSql: String =
    s"${graft.ops.EventOps.sessionGapUs / 3600000000L} HOUR"

  /** Per-session aggregate of a (user_id, event_id, ts) frame using the
    * engine-wide session definition: (user_id, session_seq, n_events,
    * start_us, end_us).
    */
  /** Normalize to (user_id, event_id, ts TIMESTAMP_NTZ) — streaming
    * sources deliver LTZ timestamps; the session tz is UTC everywhere in
    * this engine, so the cast is value-preserving and keeps the
    * tail-pseudo-event union type-stable.
    */
  private def norm(ev: DataFrame): DataFrame =
    ev.select(col("user_id"), col("event_id"),
      expr("CAST(ts AS TIMESTAMP_NTZ)").as("ts"))

  def sessionAgg(ev: DataFrame): DataFrame =
    graft.ops.StreamingOps.sessionizeBatch(norm(ev), gapSql)
      .withColumnRenamed("session_id", "session_seq")
      .withColumn("us", expr("unix_micros(CAST(ts AS TIMESTAMP))"))
      .groupBy("user_id", "session_seq")
      .agg(count(lit(1)).as("n_events"),
        min("us").as("start_us"), max("us").as("end_us"))

  private def writeGen(sessions: DataFrame, applied: Seq[String], dir: String): Unit =
    StoreIO.commitGen(sessions.sparkSession, dir, applied, Some("sessions" -> sessions))

  /** Create the store at `dir` from the initial event history. */
  def build(events: DataFrame, dir: String): Unit =
    writeGen(sessionAgg(events), Seq.empty, dir)

  /** The stored session table (crash-window fallback via StoreIO). */
  def read(spark: SparkSession, dir: String): DataFrame =
    StoreIO.readTable(spark, dir, "sessions")

  /** Fold a time-ordered event batch in. The stored per-user tail
    * (max session_seq row) joins the batch as a pseudo-event at its
    * end timestamp, so the shared sessionizer itself decides whether
    * the batch's first events continue the open session or start a new
    * one; local ordinals then shift by the tail's ordinal. Only tails
    * of users PRESENT in the batch participate (left-semi prune), so
    * the sessionize pass is batch-sized.
    *
    * @return true if applied, false if the ledger recognized `batchId`
    *         as already merged (replay no-op).
    */
  def update(batch: DataFrame, dir: String, batchId: Option[String] = None): Boolean = {
    val spark = batch.sparkSession
    if (!StoreIO.hasTable(spark, dir, "sessions")) {
      writeGen(sessionAgg(batch), batchId.toSeq, dir)
      return true
    }
    val led = StoreIO.ledgerOf(spark, dir)
    if (batchId.exists(led.contains)) return false

    val ev = norm(batch)
    val stored = read(spark, dir)
    // per-user open tail, pruned to users the batch touches
    val tails = stored
      .join(ev.select("user_id").distinct(), Seq("user_id"), "left_semi")
      .groupBy("user_id")
      .agg(max(struct(col("session_seq"), col("end_us"))).as("t"))
      .select(col("user_id"), col("t.session_seq").as("tail_seq"),
        col("t.end_us").as("tail_end_us"))
    // the tail enters the sessionizer as a pseudo-event at its end ts;
    // event_id = Long.MinValue sorts it before any real event at a tied ts
    val pseudo = tails.select(col("user_id"),
      lit(Long.MinValue).as("event_id"),
      expr("CAST(timestamp_micros(tail_end_us) AS TIMESTAMP_NTZ)").as("ts"))
    val local = graft.ops.StreamingOps
      .sessionizeBatch(ev.unionByName(pseudo), gapSql)
      .withColumn("us", expr("unix_micros(CAST(ts AS TIMESTAMP))"))
      .groupBy(col("user_id"), col("session_id").as("local_seq"))
      .agg(sum(when(col("event_id") =!= Long.MinValue, 1L).otherwise(0L)).as("n_real"),
        min(when(col("event_id") =!= Long.MinValue, col("us"))).as("b_start_us"),
        max(when(col("event_id") =!= Long.MinValue, col("us"))).as("b_end_us"))
      .where("n_real > 0") // a pseudo-only session is just an untouched tail
    val globalSeq = local.join(tails.select("user_id", "tail_seq"), Seq("user_id"), "left")
      .select(col("user_id"),
        (col("local_seq") + coalesce(col("tail_seq") - 1L, lit(0L))).as("session_seq"),
        col("n_real"), col("b_start_us"), col("b_end_us"))
    val merged = stored.as("s")
      .join(globalSeq.as("b"), Seq("user_id", "session_seq"), "full_outer")
      .select(col("user_id"), col("session_seq"),
        (coalesce(col("s.n_events"), lit(0L)) + coalesce(col("b.n_real"), lit(0L)))
          .as("n_events"),
        least(col("s.start_us"), col("b.b_start_us")).as("start_us"),
        greatest(col("s.end_us"), col("b.b_end_us")).as("end_us"))
    // data + ledger commit in ONE rename — no window can separate them
    writeGen(merged, led ++ batchId.toSeq, dir)
    true
  }
}
