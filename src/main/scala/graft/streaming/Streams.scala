package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, ListState, OutputMode, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}

/** True Structured Streaming forms of the §2-E operators (the batch
  * equivalents used by the t2 oracle live in graft.ops.StreamingOps; the
  * test suite pins these equal to those on the same input).
  *
  * Snapflow mapping: a DataBlockStream is a streaming DataFrame; node-level
  * incremental consumption accounting (DataBlockLog) is the checkpoint;
  * stream ops latest/merge/accumulate become stateful or append queries.
  */
object Streams {

  /** events-per-hour tumbling window with a 10-minute watermark. */
  def tumbling(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("bucket"), col("n_events"))

  /** 1-hour window sliding every 15 minutes. */
  def sliding(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("w_start"), col("n_events"))

  /** per-user sessions closed by a 30-minute gap. */
  def sessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"), col("n_events"))

  /** streaming dedupe: first-seen per (user_id, event_type). */
  def dedupFirstSeen(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("user_id", "event_type")

  /** stream-stream interval join: each click joined to purchases by the
    * same user within the preceding hour. Watermarks bound the state the
    * join keeps on both sides.
    */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "10 minutes")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", "10 minutes")
      .select(col("event_id").as("buy_id"), col("user_id").as("b_user"), col("ts").as("buy_ts"))
    c.join(p,
      col("user_id") === col("b_user") &&
        col("buy_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR") &&
        col("buy_ts") <= col("click_ts"))
      .select("click_id", "user_id", "click_ts", "buy_id", "buy_ts")
  }

  /** stream-static enrichment join: a purchase stream decorated with the
    * (bounded, broadcastable) customer dimension. The static side is
    * re-resolved per micro-batch, so a slowly-changing dim picks up new
    * snapshots without restarting the query; no watermark is needed
    * because the static side holds no streaming state.
    */
  def enrichPurchases(purchases: DataFrame, customer: DataFrame): DataFrame =
    purchases
      .join(broadcast(customer), col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("c_name"), col("c_mktsegment"))

  /** Anomaly alert gate, the train-batch / serve-stream shape: rows whose
    * 1e-6 fixed-point value deviates from the offline-trained per-type
    * median by more than 5 MADs, rolled up per hour x event type.
    * `thresholds(event_type, med, mad)` is the OFFLINE frame (the batch
    * op's madThresholds output), broadcast like any static dim — no
    * streaming state beyond the windowed count. Works identically on a
    * batch frame and a readStream; the batch op `strm_anomaly_alerts`
    * and StreamingParitySpec pin the two equal, so the live monitor and
    * the offline analysis share one definition of "anomaly". On a
    * STREAMING input a watermark (`watermarkDelay` behind max event
    * time) bounds the window state and makes the query legal in append
    * mode — without it the windowed groupBy accumulates state forever
    * and append-mode sinks reject the plan; on a batch frame the
    * watermark is skipped (it would be a no-op).
    */
  def anomalyAlerts(events: DataFrame, thresholds: DataFrame,
      watermarkDelay: String = "1 hour"): DataFrame =
    (if (events.isStreaming) events.withWatermark("ts", watermarkDelay) else events)
      .withColumn("v", expr("CAST(floor(value * 1000000) AS BIGINT)"))
      .join(broadcast(thresholds), "event_type")
      .where("abs(v - med) > 5 * mad")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_alerts"))
      .select(col("window.start").as("bucket"), col("event_type"), col("n_alerts"))

  case class UserEvent(user_id: Long, event_id: Long, value: Double)
  case class UserRunning(user_id: Long, n_events: Long, sum_value: Double)

  /** snapflow-style accumulating custom state: per-user running totals via
    * mapGroupsWithState (the Python accumulating-function analogue).
    */
  def runningTotals(events: Dataset[UserEvent]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserRunning, UserRunning](GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[UserEvent], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
          val next = batch.foldLeft(prev)((acc, e) =>
            UserRunning(uid, acc.n_events + 1, acc.sum_value + e.value))
          state.update(next)
          next
      }
  }

  case class BucketEvent(bucket_ms: Long, user_id: Long, ts: java.sql.Timestamp)
  case class TopkRow(bucket_ms: Long, user_id: Long, n_ev: Long, rn: Int)

  /** True-streaming twin of strm_topk_windowed: top-k most active users
    * per event-time hour, maintained incrementally. Chained aggregation
    * (count then rank) is not expressible as stacked streaming aggs, so
    * the per-bucket counts live in flatMapGroupsWithState state (one map
    * per in-flight hour) and each micro-batch re-emits that bucket's
    * current top-k — exactly what a dashboard stream consumes. State IS
    * bounded: each bucket arms an event-time timer one hour past its
    * close and is evicted when the watermark passes it, so a
    * continuously running stream holds only the in-flight hours.
    */
  def topkWindowed(events: DataFrame, k: Int = 3): Dataset[TopkRow] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .select(
        unix_millis(date_trunc("hour", col("ts"))).as("bucket_ms"),
        col("user_id"),
        // the watermarked event-time column must survive the projection
        // for EventTimeTimeout to be legal
        col("ts"))
      .as[BucketEvent]
      .groupByKey(_.bucket_ms)
      .flatMapGroupsWithState[Map[Long, Long], TopkRow](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout) {
        (bucket: Long, rows: Iterator[BucketEvent], state: GroupState[Map[Long, Long]]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val counts = rows.foldLeft(state.getOption.getOrElse(Map.empty[Long, Long])) {
              (m, e) => m.updated(e.user_id, m.getOrElse(e.user_id, 0L) + 1L)
            }
            state.update(counts)
            // evict once the watermark passes bucket close + 1h grace
            // (never set a timeout at-or-before the current watermark)
            state.setTimeoutTimestamp(math.max(
              bucket + 2L * 3600 * 1000,
              state.getCurrentWatermarkMs() + 60000L))
            counts.toSeq.sortBy { case (u, n) => (-n, u) }.take(k).zipWithIndex.iterator
              .map { case ((u, n), i) => TopkRow(bucket, u, n, i + 1) }
          }
      }
  }

  /** True-streaming twin of core_freshness_report's stateful core: the
    * per-type high watermark and event count as a Complete-mode
    * aggregation. The lag-vs-global projection is a stateless decoration
    * computed on the output table (it needs the global max, which is a
    * cross-type fold of this aggregate).
    */
  def freshnessWatermarks(events: DataFrame): DataFrame =
    events.groupBy("event_type")
      .agg(max("ts").as("max_ts"), count(lit(1)).as("n_events"))

  /** transformWithState form of [[runningTotals]] — the Spark 4
    * successor API: explicit typed state handles (ValueState here;
    * List/Map state and timers on the same handle) backed by the RocksDB
    * state store. Same semantics as the mapGroupsWithState version,
    * pinned equal by a parity test.
    */
  class RunningTotalProcessor
      extends StatefulProcessor[Long, UserEvent, UserRunning] {
    @transient private var state: ValueState[UserRunning] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState(
        "running", Encoders.product[UserRunning], TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[UserEvent],
        timerValues: TimerValues): Iterator[UserRunning] = {
      val prev = if (state.exists()) state.get() else UserRunning(key, 0L, 0.0)
      val next = rows.foldLeft(prev)((acc, e) =>
        UserRunning(key, acc.n_events + 1, acc.sum_value + e.value))
      state.update(next)
      Iterator.single(next)
    }
  }

  /** Requires the RocksDB state store provider (transformWithState does
    * not run on the default HDFS-backed store).
    */
  def runningTotalsTws(events: Dataset[UserEvent]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(
        new RunningTotalProcessor, TimeMode.None(), OutputMode.Update())
  }

  case class TimedEvent(user_id: Long, event_id: Long, ts: java.sql.Timestamp)
  case class OpenSession(start_ms: Long, end_ms: Long, n: Long)
  case class ClosedSession(user_id: Long, session_start: java.sql.Timestamp, n_events: Long)

  /** Event-time sessionization with explicit timers — the full
    * transformWithState surface: ListState holding the OPEN sessions
    * (plural: out-of-order events within the watermark can keep several
    * alive and later bridge them), an event-time timer armed at the
    * earliest (end + gap), and handleExpiredTimer emitting every session
    * the watermark has passed. Semantics equal `session_window(ts, gap)`
    * (pinned by a parity test): an event at exactly `end + gap` still
    * joins; a session closes only once the watermark passes `end + gap`,
    * at which point no admissible event can extend it.
    */
  class SessionTimerProcessor(gapMs: Long)
      extends StatefulProcessor[Long, TimedEvent, ClosedSession] {
    @transient private var open: ListState[OpenSession] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getListState(
        "open_sessions", Encoders.product[OpenSession], TTLConfig.NONE)

    /** Sort by start and merge sessions within gap of each other. */
    private def compact(ss: Seq[OpenSession]): Seq[OpenSession] =
      ss.sortBy(_.start_ms).foldLeft(List.empty[OpenSession]) {
        case (acc @ (prev :: rest), s) if s.start_ms <= prev.end_ms + gapMs =>
          OpenSession(prev.start_ms, math.max(prev.end_ms, s.end_ms), prev.n + s.n) :: rest
        case (acc, s) => s :: acc
      }.reverse

    private def rearm(sessions: Seq[OpenSession]): Unit = {
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      if (sessions.nonEmpty)
        getHandle.registerTimer(sessions.map(_.end_ms).min + gapMs)
    }

    override def handleInputRows(
        key: Long,
        rows: Iterator[TimedEvent],
        timerValues: TimerValues): Iterator[ClosedSession] = {
      val merged = compact(
        (if (open.exists()) open.get().toSeq else Nil) ++
          rows.map(e => OpenSession(e.ts.getTime, e.ts.getTime, 1L)))
      open.put(merged.toArray)
      rearm(merged)
      Iterator.empty
    }

    override def handleExpiredTimer(
        key: Long,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[ClosedSession] = {
      val wm = timerValues.getCurrentWatermarkInMs()
      val all = if (open.exists()) open.get().toSeq else Nil
      val (closed, stillOpen) = all.partition(_.end_ms + gapMs <= wm)
      if (stillOpen.isEmpty) open.clear() else open.put(stillOpen.toArray)
      rearm(stillOpen)
      closed.sortBy(_.start_ms).iterator
        .map(s => ClosedSession(key, new java.sql.Timestamp(s.start_ms), s.n))
    }
  }

  /** 30-minute-gap sessions per user, closed by event-time timers.
    * Requires the RocksDB state store and a watermark on `ts`.
    */
  def sessionsTws(events: Dataset[TimedEvent], gapMs: Long = 1800000L): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .as[TimedEvent]
      .groupByKey(_.user_id)
      .transformWithState(
        new SessionTimerProcessor(gapMs), TimeMode.EventTime(), OutputMode.Append())
  }

  case class SessionOut(user_id: Long, n_events: Long, closed: Boolean)

  /** flatMapGroupsWithState form: emit a running session row per user per
    * batch and close it on event-time timeout — the general
    * multiple-outputs-per-group stateful API (mapGroupsWithState emits
    * exactly one).
    */
  def sessionCounts(events: Dataset[UserEvent]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserRunning, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[UserEvent], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
          val next = batch.foldLeft(prev)((acc, e) =>
            UserRunning(uid, acc.n_events + 1, acc.sum_value + e.value))
          state.update(next)
          Iterator(SessionOut(uid, next.n_events, closed = false))
      }
  }

  /** The skeleton of every micro-batch sink here: append mode, the
    * checkpoint at `checkpointDir`, `trigger` (one AvailableNow drain by
    * default), and `perBatch(batch, batchId)` per micro-batch.
    */
  private def sink(
      stream: DataFrame,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow())(
      perBatch: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        perBatch(batch, batchId)
      }
      .start()

  /** Writes one micro-batch's `out` to `dir` partitioned by (run_key,
    * batch_id) with dynamic partition overwrite: foreachBatch is
    * at-least-once, and a replayed batch replaces its own partition
    * instead of appending a duplicate.
    */
  private def writeBatchPartition(
      out: DataFrame, dir: String, runKey: String, batchId: Long): Unit =
    out.withColumn("run_key", lit(runKey))
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("run_key", "batch_id")
      .parquet(dir)

  /** Retry `body` while the store writer lease is held elsewhere,
    * bounded in time. A LeaseHeldException must neither escape
    * foreachBatch (an uncaught exception TERMINATES the query, and
    * under Trigger.AvailableNow there is no next trigger to retry on —
    * a restart within a crashed predecessor's lease TTL would fail
    * repeatedly) nor be swallowed (returning normally marks the batch
    * committed and silently loses its rows). So the retry lives here,
    * inside the batch: sleep-and-retry until the lease frees or goes
    * stale enough to break, and past the deadline propagate — a loud
    * query failure, replayed on restart. The wait outlasts the lease's
    * stale TTL `leaseStaleMs` by 30 s, and is at least 90 s.
    */
  private def retryLease[A](leaseStaleMs: Long)(body: => A): A = {
    val deadline = System.currentTimeMillis() + math.max(90000L, leaseStaleMs + 30000L)
    @annotation.tailrec
    def loop(): A = {
      val r =
        try Some(body)
        catch {
          case _: graft.api.StoreIO.LeaseHeldException
              if System.currentTimeMillis() < deadline =>
            Thread.sleep(1000L); None
        }
      r match { case Some(a) => a; case None => loop() }
    }
    loop()
  }

  /** Lease posture shared by the three store sinks: the default 60 s
    * stale-TTL assumes the sink is the store dir's SOLE writer, so a
    * lease found at batch time is almost certainly a crashed
    * predecessor of THIS query — break it after 60 s instead of
    * stalling micro-batch retries for the cross-job default of 10 min.
    * Running MORE THAN ONE sink against one tableDir (e.g. a mergeSink
    * plus a deleteSink applying an erasure queue) voids that
    * assumption: a batch holding the lease longer than the TTL would
    * be broken MID-WRITE by the peer and both writers would race. For
    * multi-sink stores pass `leaseStaleMs` comfortably above the
    * worst-case batch duration of EVERY sink sharing the dir, so only
    * a genuinely crashed holder is ever broken. `retryLease` keeps the
    * batch alive while a live peer holds the lease.
    */
  private val soleWriterLeaseMs = 60000L

  /** Streaming CDC upsert sink via foreachBatch: each micro-batch merges
    * into the key-bucketed [[graft.api.UpsertStore]] — latest record per
    * key wins (batch rows override stored rows; within a batch the
    * greatest `versionCol` wins) under a (run_key, batch_id) ledger
    * entry, so an at-least-once foreachBatch redelivery is a full
    * no-op. Per-batch work is O(batch + touched-bucket data), never
    * O(table), and every bucket promotion is the staged-write +
    * atomic-rename swap (Hadoop FS throughout — HDFS/S3 stateDirs
    * work); the store is the parquet-native stand-in for a MERGE INTO
    * target (Delta/Iceberg) on a cluster. Read the table back with
    * `UpsertStore.read`.
    */
  def upsertSink(
      stream: DataFrame,
      key: String,
      versionCol: String,
      tableDir: String,
      checkpointDir: String,
      leaseStaleMs: Long = soleWriterLeaseMs): StreamingQuery = {
    val runKey = runKeyOf(checkpointDir)
    sink(stream, checkpointDir) { (batch, batchId) =>
      retryLease(leaseStaleMs) {
        graft.api.UpsertStore.update(
          batch, tableDir, key, versionCol,
          batchId = Some(s"$runKey-$batchId"), leaseStaleMs = leaseStaleMs)
      }: Unit
    }
  }

  /** Streaming MERGE-SQL sink: each micro-batch registers as the MERGE
    * statement's source view and applies via [[graft.api.MergeSql]] —
    * the SQL-text twin of [[upsertSink]] (same UpsertStore semantics,
    * lease, ledger and retry posture; the statement's USING clause
    * must name a plain view, which this sink re-binds to the current
    * batch each trigger). One sink per view name per session — the
    * view is session-global.
    */
  def mergeSink(
      stream: DataFrame,
      mergeSql: String,
      checkpointDir: String,
      nBuckets: Int = 32,
      leaseStaleMs: Long = soleWriterLeaseMs): StreamingQuery = {
    val stmt = graft.api.MergeSql.parse(mergeSql) // fail fast, not per batch
    require(!stmt.source.startsWith("'"),
      "mergeSink needs a view-name USING source (the sink binds each batch to it)")
    val runKey = runKeyOf(checkpointDir)
    sink(stream, checkpointDir) { (batch, batchId) =>
      batch.createOrReplaceTempView(stmt.source)
      retryLease(leaseStaleMs) {
        graft.api.MergeSql.run(batch.sparkSession, mergeSql,
          nBuckets = nBuckets, batchId = Some(s"$runKey-$batchId"),
          leaseStaleMs = leaseStaleMs)
      }: Unit
    }
  }

  /** Streaming erasure sink — a GDPR deletion queue applied to the
    * upsert store: each micro-batch of subject keys anti-joins out of
    * ONLY the buckets those keys hash into ([[graft.api.UpsertStore
    * .deleteKeys]]), under the writer lease, ledger and the same
    * in-batch lease retry as the other store sinks. Replayed batches
    * are no-ops; per-batch work is O(batch + touched buckets).
    */
  def deleteSink(
      keyStream: DataFrame,
      key: String,
      tableDir: String,
      checkpointDir: String,
      leaseStaleMs: Long = soleWriterLeaseMs): StreamingQuery = {
    val runKey = runKeyOf(checkpointDir)
    sink(keyStream, checkpointDir) { (batch, batchId) =>
      retryLease(leaseStaleMs) {
        graft.api.UpsertStore.deleteKeys(
          batch, tableDir, key,
          batchId = Some(s"$runKey-$batchId"), leaseStaleMs = leaseStaleMs)
      }: Unit
    }
  }

  /** Dead-letter-queue split sink: every micro-batch is validated once,
    * good rows append to `goodDir`, rejected rows append to `badDir`
    * with the rule name that rejected them — the quarantine pattern of
    * core_validate_quarantine as a STREAMING sink. The batch is split
    * by one filter each way (no second scan of the source), and parquet
    * appends keep both sides replay-idempotent per epoch directory.
    */
  def dlqSink(
      stream: DataFrame,
      reasonsCol: Column,
      goodDir: String,
      badDir: String,
      checkpointDir: String): StreamingQuery =
    sink(stream, checkpointDir) { (batch, _) =>
      val tagged = batch.withColumn("__reasons", reasonsCol).cache()
      tagged.where("__reasons = ''").drop("__reasons")
        .write.mode("append").parquet(goodDir)
      tagged.where("__reasons <> ''")
        .withColumnRenamed("__reasons", "reject_reasons")
        .write.mode("append").parquet(badDir)
      tagged.unpersist(): Unit
    }

  /** Streaming DQ monitoring — each micro-batch's expectation panel
    * (caller-supplied `panel`: batch -> (expectation, metric_ppm,
    * threshold_ppm, ok) rows, typically the same conditional-aggregate
    * panel the batch `core_dq_expectations` computes) appends to the
    * persistent [[graft.api.DqHistory]] under run_seq = batch id and a
    * (run_key, batch_id) ledger entry, so an at-least-once foreachBatch
    * replay is a full no-op and `DqHistory.trend` sees a live
    * latest-vs-previous regression readout — the Deequ
    * metrics-repository loop closed in streaming. The panel is a
    * handful of rows per batch however large the batch; the store
    * grows by one panel per micro-batch.
    */
  def dqSink(
      stream: DataFrame,
      historyDir: String,
      checkpointDir: String)(
      panel: DataFrame => DataFrame): StreamingQuery = {
    val runKey = runKeyOf(checkpointDir)
    sink(stream, checkpointDir) { (batch, batchId) =>
      // same single-writer lease posture as upsertSink: short TTL,
      // in-batch retry across a crashed predecessor's lease window
      retryLease(soleWriterLeaseMs) {
        graft.api.DqHistory.append(
          panel(batch), historyDir, runSeq = batchId,
          batchId = Some(s"$runKey-$batchId"), leaseStaleMs = soleWriterLeaseMs)
      }: Unit
    }
  }

  /** Streaming ingestion dedup — the [[graft.api.DedupIndex]]
    * check/update loop as a foreachBatch sink, the true ingestion shape
    * of the one-shot `llm_dedup_incremental` operator: each
    * micro-batch's verdicts against the persistent index append to
    * `verdictDir`, then the batch's accepted (`keep`) docs fold into
    * the index before the next batch arrives — so every batch dedups
    * against the corpus PLUS everything accepted so far, and the
    * corpus itself is never rescanned. Check and update both go through
    * DedupIndex, so the streaming path can never drift from the batch
    * operator (StreamingParitySpec pins them equal on a one-batch
    * stream, and pins the accumulation across batches).
    *
    * foreachBatch is at-least-once, and this sink is the worst case
    * for a replay: if a crash lands between the index update and the
    * checkpoint commit, the re-driven batch re-checks against the
    * ALREADY-UPDATED index and its verdicts flip ('keep' → 'exact').
    * A plain append would then leave BOTH verdict sets side by side —
    * duplicate and mutually contradictory rows per doc_id. So verdicts
    * land partitioned by (run_key, batch_id) with dynamic partition
    * overwrite, exactly like [[checksumSink]]/[[scoringSink]]: a
    * replayed batch REPLACES its own partition and downstream readers
    * always see one self-consistent verdict set per batch (the last
    * replay wins — and the index update itself is idempotent, since
    * re-accepted docs hash to the same signatures).
    */
  def dedupIngestSink(
      docs: DataFrame,
      indexDir: String,
      verdictDir: String,
      checkpointDir: String): StreamingQuery = {
    val runKey = runKeyOf(checkpointDir)
    sink(docs, checkpointDir) { (batch, batchId) =>
      // pin the verdicts before update() swaps index generations, so
      // nothing downstream re-reads files the swap retires
      val verdicts = graft.api.DedupIndex.check(batch, indexDir).localCheckpoint()
      writeBatchPartition(verdicts, verdictDir, runKey, batchId)
      val accepted = batch.join(
        verdicts.where("verdict = 'keep'").select("doc_id"), "doc_id")
      graft.api.DedupIndex.update(accepted, indexDir): Unit
    }
  }

  /** Stable key for one logical stream run: the checkpoint IS the
    * run's identity (a crash-restart resumes the same checkpoint and
    * must land on the same partitions; a new checkpoint is a new run).
    */
  private def runKeyOf(checkpointDir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(checkpointDir.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)

  /** Streaming corpus checksum — the streaming twin of
    * `core_row_checksum`: each micro-batch's per-lang digest (computed
    * by the SAME shared helper as the batch op, so the two can never
    * drift) lands in `digestDir` partitioned by (run_key, batch_id)
    * with dynamic partition overwrite — foreachBatch is at-least-once,
    * and a replayed batch OVERWRITES its own partition instead of
    * appending a duplicate digest (which would double-count sums and
    * xor-cancel that batch's contribution). Both digests are
    * commutative and associative, so [[corpusChecksum]] folds the
    * batch digests into exactly the digest the batch op computes over
    * the full corpus — regardless of batch boundaries or arrival
    * order, with no read-modify-write state anywhere.
    */
  def checksumSink(
      docs: DataFrame,
      digestDir: String,
      checkpointDir: String): StreamingQuery = {
    val runKey = runKeyOf(checkpointDir)
    sink(docs, checkpointDir) { (batch, batchId) =>
      writeBatchPartition(graft.ops.CoreOps.rowDigest(batch), digestDir, runKey, batchId)
    }
  }

  /** Fold the digests [[checksumSink]] wrote into the corpus digest
    * (per-lang rows in the `core_row_checksum` schema).
    */
  def corpusChecksum(spark: SparkSession, digestDir: String): DataFrame =
    graft.ops.CoreOps.foldDigests(
      spark.read.parquet(digestDir).drop("run_key", "batch_id"))

  /** Streaming twin of the count-min counter build (the production
    * artifact behind `llm_heavy_hitters_cms`): each micro-batch's
    * 4×1024 counter table — computed by the SAME shared helper as the
    * batch op — lands in `cmsDir` partitioned by (run_key, batch_id)
    * with dynamic partition overwrite, so an at-least-once replay
    * overwrites its own partition instead of double-counting. CMS
    * cells are plain sums, hence additive over disjoint batches:
    * [[corpusCms]]'s cell-wise fold equals the batch-built sketch of
    * the full corpus whatever the batch boundaries. Total state is
    * 4096 rows per batch — the sketch never grows with vocabulary.
    */
  def cmsSink(
      docs: DataFrame,
      cmsDir: String,
      checkpointDir: String): StreamingQuery = {
    val runKey = runKeyOf(checkpointDir)
    sink(docs, checkpointDir) { (batch, batchId) =>
      writeBatchPartition(graft.ops.LlmText.cmsCounters(batch), cmsDir, runKey, batchId)
    }
  }

  /** Fold the per-batch counter tables [[cmsSink]] wrote into the
    * corpus CMS (cell-wise sum, the sketch's merge operation).
    */
  def corpusCms(spark: SparkSession, cmsDir: String): DataFrame =
    spark.read.parquet(cmsDir).drop("run_key", "batch_id")
      .groupBy("row_i", "bucket").agg(sum("c").as("c"))

  /** Streaming KMV profile ingestion: each micro-batch union-merges
    * into the persistent [[graft.api.SketchStore]] KMV generation.
    * Unlike the CMS counters, KMV union is IDEMPOTENT — a replayed
    * batch collapses into the sketch it already joined — so
    * at-least-once foreachBatch needs no partition bookkeeping here;
    * the store's staged-rename swap keeps crash windows safe.
    */
  def kmvSink(
      docs: DataFrame,
      storeDir: String,
      checkpointDir: String): StreamingQuery =
    sink(docs, checkpointDir) { (batch, _) =>
      graft.api.SketchStore.updateKmv(batch, storeDir): Unit
    }

  /** Streaming near-dup signature ingestion — the streaming twin of the
    * nightly `llm_minhash_incremental` gate: each micro-batch folds its
    * docs' MinHash signatures into the persistent
    * [[graft.api.MinHashIndex]] under a (run_key, batch_id) ledger
    * entry, so an at-least-once foreachBatch replay is a full no-op
    * (the doc_id-keyed merge would dedup the rows anyway; the ledger
    * skips the rewrite entirely). The first micro-batch bootstraps an
    * absent store.
    */
  def minhashSink(
      docs: DataFrame,
      storeDir: String,
      checkpointDir: String): StreamingQuery = {
    val runKey = runKeyOf(checkpointDir)
    sink(docs, checkpointDir) { (batch, batchId) =>
      graft.api.MinHashIndex.update(batch, storeDir, Some(s"$runKey-$batchId")): Unit
    }
  }

  /** Streaming ANN-index ingestion — the streaming twin of the batch
    * `AnnIndex.update` path: each micro-batch of vectors (vec_id,
    * embedding) is assigned against the index's FIXED centroids and
    * lands under its own (batch_key = run_key-batch_id) assignment
    * partitions with dynamic overwrite, under the same applied-batch
    * ledger as minhashSink — so an at-least-once foreachBatch replay
    * is a full no-op and a crash mid-write is healed by the replay
    * overwriting exactly its own partitions. The index must already
    * exist (`AnnIndex.build` is the bootstrap/periodic-retrain path: a
    * similarity service trains offline, then ingests continuously).
    * Searches via `AnnIndex.searchIndex` see every ingested batch with
    * the usual probe-cell partition pruning.
    */
  def annSink(
      vectors: DataFrame,
      indexDir: String,
      checkpointDir: String): StreamingQuery = {
    val runKey = runKeyOf(checkpointDir)
    sink(vectors, checkpointDir) { (batch, batchId) =>
      graft.api.AnnIndex.update(batch, indexDir, Some(s"$runKey-$batchId")): Unit
    }
  }

  /** Streaming session-table maintenance — the streaming twin of the
    * batch `rel_sessionize_incremental`: each micro-batch of events
    * folds into the persistent [[graft.api.SessionStore]] under a
    * (run_key, batch_id) ledger entry, so an at-least-once foreachBatch
    * replay is a full no-op. The first micro-batch bootstraps an absent
    * store. Micro-batches satisfy the store's time-ordered ingestion
    * contract by construction: streaming sources deliver in arrival
    * order, and the stored tail only ever moves forward.
    */
  def sessionSink(
      events: DataFrame,
      storeDir: String,
      checkpointDir: String): StreamingQuery = {
    val runKey = runKeyOf(checkpointDir)
    sink(events, checkpointDir) { (batch, batchId) =>
      graft.api.SessionStore.update(batch, storeDir, Some(s"$runKey-$batchId")): Unit
    }
  }

  /** Streaming twin of the classifier gate: score arriving vectors
    * with OFFLINE-trained weights (the "train once, score the stream"
    * deployment shape). Scoring goes through the same shared
    * expression as training/batch apply (`Models.sigmoidFp` with the
    * weights as codegen literals — a pure map stage, nothing to join
    * or broadcast), so streamed scores can never drift from the batch
    * gate; each micro-batch writes (input columns + s_fp) to
    * `scoreDir` partitioned by (run_key, batch_id) with dynamic
    * overwrite, so an at-least-once replay lands on its own partition
    * instead of double-counting vectors downstream.
    */
  def scoringSink(
      vectors: DataFrame,
      weights: Array[Double],
      scoreDir: String,
      checkpointDir: String): StreamingQuery = {
    val runKey = runKeyOf(checkpointDir)
    sink(vectors, checkpointDir) { (batch, batchId) =>
      val scored = batch
        .withColumn("xq", graft.api.Models.xq)
        .withColumn("s_fp", graft.api.Models.sigmoidFp(weights))
        .drop("xq")
      writeBatchPartition(scored, scoreDir, runKey, batchId)
    }
  }

  /** Incremental consumption of a parquet directory (snapflow's "process
    * only unconsumed blocks"): each call processes exactly the files added
    * since the last run, tracked by the checkpoint — then returns.
    * `transform` shapes each micro-batch; results append to `outDir`.
    */
  def consumeIncrement(
      spark: SparkSession,
      inDir: String,
      schema: org.apache.spark.sql.types.StructType,
      checkpointDir: String,
      outDir: String)(transform: DataFrame => DataFrame): Unit = {
    val q = transform(spark.readStream.schema(schema).parquet(inDir))
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .option("path", outDir)
      .start()
    q.awaitTermination()
  }

  /** Drain the [[graft.api.UpsertStore]] changefeed ONCE into `outDir`
    * — the changesSince / commitCursor consumer loop packaged as an
    * idempotent micro-batch, and the unit of work
    * [[changefeedStream]] repeats per trigger. Effectively-once to the
    * parquet sink by construction: the window's rows land partitioned
    * by the consumed head seq (`to_seq`) with dynamic partition
    * overwrite BEFORE the cursor commits, so a crash between the two
    * redelivers the SAME window into the SAME partition — an
    * overwrite, not a duplicate. A consumer with no cursor gets the
    * initial load (the full snapshot as inserts). Returns the head
    * seq the cursor advanced to, or -1 when there was nothing new.
    */
  def changefeedRelayOnce(
      spark: SparkSession,
      dir: String,
      key: String,
      cursorPath: String,
      outDir: String): Long = {
    val before = graft.api.StoreIO.readSmall(spark, cursorPath)
    val (changes, head) =
      graft.api.UpsertStore.changesSince(spark, dir, key, cursorPath)
    val last = before.map(
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(_).get("last_seq").asLong())
    if (last.contains(head)) -1L
    else {
      // drop ORPHAN output partitions first: a crash between the
      // parquet write and commitCursor leaves a to_seq=H1 partition
      // with no cursor behind it; if new store commits arrive before
      // redelivery, the rerun's window lands at to_seq=H2 and the
      // orphan's (F, H1] rows would otherwise appear TWICE to a
      // consumer reading outDir. Any partition above the COMMITTED
      // cursor is by definition such an orphan — remove it before
      // writing, restoring effectively-once whatever interleaving the
      // crash produced.
      val f = graft.api.StoreIO.fs(spark, outDir)
      val op = new org.apache.hadoop.fs.Path(outDir)
      if (f.exists(op)) f.listStatus(op).foreach { st =>
        val nm = st.getPath.getName
        if (st.isDirectory && nm.startsWith("to_seq=") &&
            nm.drop(7).forall(_.isDigit) &&
            nm.drop(7).toLong > last.getOrElse(-1L))
          f.delete(st.getPath, true)
      }
      changes.withColumn("to_seq", lit(head))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("to_seq")
        .parquet(outDir)
      graft.api.UpsertStore.commitCursor(spark, cursorPath, head)
      head
    }
  }

  /** The store changefeed as a LIVE STREAMING SOURCE (the Delta CDF
    * streaming-read analog): a rate ticker drives
    * [[changefeedRelayOnce]] every `pollIntervalMs`, relaying each new
    * commit window into `outDir` and advancing the durable cursor.
    * The CURSOR — not Spark's offset checkpoint — is the source of
    * truth for what was consumed (the ticker's offsets are just a
    * clock), so the query can be stopped, restarted, even pointed at a
    * fresh checkpoint, and consumption resumes exactly where the
    * cursor says; a crash mid-window redelivers identically (spec- and
    * parity-pinned against the batch consumer).
    */
  def changefeedStream(
      spark: SparkSession,
      dir: String,
      key: String,
      cursorPath: String,
      outDir: String,
      checkpointDir: String,
      pollIntervalMs: Long = 1000L): StreamingQuery =
    sink(spark.readStream.format("rate").option("rowsPerSecond", 1).load(),
        checkpointDir, Trigger.ProcessingTime(pollIntervalMs)) { (_, _) =>
      changefeedRelayOnce(spark, dir, key, cursorPath, outDir): Unit
    }

  /** CONTINUOUS incremental view maintenance: a rate ticker drives
    * [[graft.api.MatView.refresh]] per trigger, so the materialized
    * aggregate follows the store live — each tick folds exactly the
    * new commit window (O(changed buckets), never the fact table) and
    * the view's own atomic state+cursor swap makes a crash anywhere
    * redeliver the identical window. Like [[changefeedStream]], the
    * view's cursor — not Spark's offset checkpoint — is the source of
    * truth: stop, restart, or re-checkpoint freely.
    */
  def matviewStream(
      spark: SparkSession,
      storeDir: String,
      key: String,
      viewDir: String,
      groupCols: Seq[(String, Column)],
      sumCols: Seq[String],
      checkpointDir: String,
      pollIntervalMs: Long = 1000L): StreamingQuery =
    sink(spark.readStream.format("rate").option("rowsPerSecond", 1).load(),
        checkpointDir, Trigger.ProcessingTime(pollIntervalMs)) { (_, _) =>
      graft.api.MatView.refresh(
        spark, storeDir, key, viewDir, groupCols, sumCols): Unit
    }
}
