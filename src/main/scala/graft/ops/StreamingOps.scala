package graft.ops

import graft.{Op, Tables => T}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** SURVEY.md §2-E — snapflow's incremental/stream semantics as
  * batch-equivalent DataFrame queries (the t2 oracle cannot run streams).
  * The true Structured Streaming forms live in graft.streaming and are
  * pinned equal to these in the test suite.
  */
object StreamingOps {

  /** The sessionization window-trick on any (user_id, ts, event_id) frame.
    * A row at exactly prev_ts + gap still JOINS the session (strictly
    * greater starts a new one) — Spark's session_window merges windows
    * that touch at the boundary; pinned equal by a property test.
    */
  def sessionizeBatch(events: org.apache.spark.sql.DataFrame, gap: String = "30 MINUTE"): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .withColumn("new_s",
        when(col("prev_ts").isNull || expr(s"ts > prev_ts + INTERVAL $gap"), 1).otherwise(0))
      .withColumn("session_id", sum("new_s").over(cum))
  }

  private val dec = org.apache.spark.sql.types.DecimalType(18, 4)

  /** File-stream a testdata table, handling both the flat-file layout
    * (driver-generated parquet) and the directory layout (Spark-written
    * fixtures) — the file source itself accepts only directories.
    */
  private def streamTable(
      s: org.apache.spark.sql.SparkSession, d: String, name: String) = {
    val sch = T.t(s, d, name).schema
    val isDir = graft.api.StoreIO.fs(s, d).getFileStatus(
      new org.apache.hadoop.fs.Path(s"$d/$name.parquet")).isDirectory
    if (isDir) s.readStream.schema(sch).parquet(s"$d/$name.parquet")
    else s.readStream.schema(sch)
      .option("pathGlobFilter", s"$name.parquet").parquet(d)
  }

  val ops: Seq[Op] = Seq(

    Op("strm_tumbling_window",
      (s, d) => T.events(s, d)
        .groupBy(expr("CAST(date_trunc('hour', ts) AS TIMESTAMP_NTZ)").as("bucket"))
        .agg(count(lit(1)).as("n_events"), T.dsum(col("value")).as("sum_value"))
        .orderBy("bucket"),
      Some("SELECT date_trunc('hour', ts) AS bucket, count(*) AS n_events, " +
        s"${T.oSum("value")} AS sum_value " +
        "FROM events GROUP BY date_trunc('hour', ts) ORDER BY bucket")),

    // 1-hour window sliding every 15 min: each event lands in exactly 4
    // windows (batch equivalent of window(ts, '1 hour', '15 minutes')).
    Op("strm_sliding_window",
      (s, d) => T.events(s, d)
        .select(col("ts"), col("value"), explode(expr("array(0, 1, 2, 3)")).as("k"))
        .withColumn("w_start", expr(
          "CAST(date_trunc('hour', ts) + make_interval(0, 0, 0, 0, 0, (minute(ts) div 15) * 15 - k * 15, 0) AS TIMESTAMP_NTZ)"))
        .groupBy("w_start")
        .agg(count(lit(1)).as("n_events"), T.dsum(col("value")).as("sum_value"))
        .withColumn("w_end", expr("w_start + INTERVAL 1 HOUR"))
        .orderBy("w_start"),
      Some("SELECT w_start, count(*) AS n_events, " +
        s"${T.oSum("value")} AS sum_value, " +
        "w_start + INTERVAL 1 HOUR AS w_end FROM (" +
        "SELECT date_trunc('hour', ts) + ((minute(ts) // 15) * 15 - k.k * 15) * INTERVAL 1 MINUTE AS w_start, value " +
        "FROM events, (VALUES (0), (1), (2), (3)) k(k)) " +
        "GROUP BY w_start ORDER BY w_start")),

    // sessionization with a 30-minute gap: lag + cumulative-sum-of-flags
    // window trick (same event at exactly lag+30min starts a new session,
    // matching session_window's half-open [start, last+gap) semantics).
    Op("strm_session_window",
      (s, d) => {
        sessionizeBatch(T.events(s, d))
          .groupBy("user_id", "session_id")
          .agg(
            min("ts").as("session_start"), max("ts").as("session_end"),
            count(lit(1)).as("n_events"), T.dsum(col("value")).as("sum_value"))
          .orderBy("user_id", "session_start")
      },
      Some("SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end, " +
        s"count(*) AS n_events, ${T.oSum("value")} AS sum_value FROM (" +
        "SELECT user_id, ts, event_id, value, " +
        "CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM (" +
        "SELECT user_id, ts, event_id, value, " +
        "CASE WHEN lag(ts) OVER w IS NULL OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE " +
        "THEN 1 ELSE 0 END AS new_s FROM events " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))) " +
        "GROUP BY user_id, session_id ORDER BY user_id, session_start")),

    // watermark: keep only events within 24h of the observed max event time
    // (batch analogue of withWatermark + late-row drop).
    Op("strm_watermark_late",
      (s, d) => {
        val e = T.events(s, d)
        val wm = e.agg(max("ts").as("max_ts"))
        e.crossJoin(broadcast(wm))
          .where(expr("ts >= max_ts - INTERVAL 24 HOUR"))
          .select("event_id", "user_id", "ts", "event_type")
          .orderBy("event_id")
      },
      Some("SELECT event_id, user_id, ts, event_type FROM events " +
        "WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL 24 HOUR " +
        "ORDER BY event_id")),

    // streaming dedupe: first-seen row per (user_id, event_type) with a
    // deterministic order, not bare dropDuplicates (§2-E).
    Op("strm_dedup_stateful",
      (s, d) => {
        T.topK(T.events(s, d), Seq("user_id", "event_type"), Seq(col("ts"), col("event_id")), 1)
          .select("user_id", "event_type", "event_id", "ts")
          .orderBy("user_id", "event_type")
      },
      Some("SELECT user_id, event_type, event_id, ts FROM (" +
        "SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn " +
        "FROM events) WHERE rn = 1 ORDER BY user_id, event_type")),

    // incremental node state: process only blocks past the stored
    // high-watermark (snapflow's DataBlockLog consumption accounting).
    Op("strm_incremental_state",
      (s, d) => T.events(s, d)
        .where(expr("ts > TIMESTAMP_NTZ '2024-01-15 00:00:00'"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_new"), max("ts").as("latest_ts"))
        .orderBy("event_type"),
      Some("SELECT event_type, count(*) AS n_new, max(ts) AS latest_ts FROM events " +
        "WHERE ts > TIMESTAMP '2024-01-15 00:00:00' " +
        "GROUP BY event_type ORDER BY event_type")),

    // stream-stream interval join (view -> purchase attribution within
    // 1 hour, per user). Batch equivalent of the watermarked streaming
    // join in graft.streaming.Streams.clickPurchaseJoin, which is
    // parity-pinned to this in the test suite. Equi key (user_id) plus a
    // range residual — Spark plans a hash/merge join on user_id, never a
    // nested loop; in streaming both sides carry watermarks so state for
    // expired intervals is dropped.
    Op("strm_interval_join",
      (s, d) => {
        val ev = T.events(s, d)
        val views = ev.where("event_type = 'view'")
          .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
        val buys = ev.where("event_type = 'purchase'")
          .select(col("user_id"), col("event_id").as("buy_id"),
            col("ts").as("buy_ts"), col("value"))
        views.join(buys, Seq("user_id"))
          .where("buy_ts >= view_ts AND buy_ts <= view_ts + INTERVAL 1 HOUR")
          .select("user_id", "view_id", "buy_id", "view_ts", "buy_ts", "value")
          .orderBy("user_id", "view_id", "buy_id")
      },
      Some("SELECT v.user_id, v.event_id AS view_id, b.event_id AS buy_id, " +
        "v.ts AS view_ts, b.ts AS buy_ts, b.value " +
        "FROM (SELECT * FROM events WHERE event_type = 'view') v " +
        "JOIN (SELECT * FROM events WHERE event_type = 'purchase') b " +
        "ON v.user_id = b.user_id AND b.ts >= v.ts AND b.ts <= v.ts + INTERVAL 1 HOUR " +
        "ORDER BY v.user_id, view_id, buy_id")),

    // stream-static join: the purchase stream enriched with the customer
    // dimension (batch equivalent of Streams.enrichPurchases, parity-
    // pinned in the test suite). The dim side broadcasts — the stream
    // never shuffles, which is the only shape that works when the stream
    // is unbounded and the dim is a bounded snapshot.
    Op("strm_join_stream_static",
      (s, d) => {
        val buys = T.events(s, d).where("event_type = 'purchase'")
        graft.streaming.Streams.enrichPurchases(buys, T.t(s, d, "customer"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_buys"), T.dsum(col("value")).as("sum_value"))
          .orderBy("c_mktsegment")
      },
      Some("SELECT c_mktsegment, count(*) AS n_buys, " +
        s"${T.oSum("value")} AS sum_value " +
        "FROM events JOIN customer ON user_id = c_custkey " +
        "WHERE event_type = 'purchase' " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment")),

    // Per-key running totals — the batch equivalent of a streaming
    // transformWithState counter (exercised in scalatest): cumulative
    // count and DECIMAL-exact cumulative sum per event_type in event-time
    // order.
    Op("strm_running_totals",
      (s, d) => {
        val w = Window.partitionBy("event_type").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        T.events(s, d)
          .withColumn("run_cnt", count(lit(1)).over(w))
          .withColumn("run_val",
            round(sum(col("value").cast(dec)).over(w), 2).cast(DoubleType))
          .select("event_id", "event_type", "run_cnt", "run_val")
          .orderBy("event_id")
      },
      Some("SELECT event_id, event_type, " +
        "count(*) OVER w AS run_cnt, " +
        "CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))) OVER w, 2) AS DOUBLE) AS run_val " +
        "FROM events " +
        "WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) ORDER BY event_id")),

    // Windowed top-k: the 3 most active users per event-time hour — the
    // batch form of a per-window ranked aggregation a dashboard stream
    // would maintain.
    Op("strm_topk_windowed",
      (s, d) => {
        val cnt = T.events(s, d)
          .withColumn("bucket", expr("CAST(date_trunc('hour', ts) AS TIMESTAMP_NTZ)"))
          .groupBy("bucket", "user_id").agg(count(lit(1)).as("n_ev"))
        T.topK(cnt, Seq("bucket"), Seq(desc("n_ev"), col("user_id")), 3)
          .select(col("bucket"), col("user_id"), col("n_ev"), col("rn").cast(IntegerType).as("rn"))
          .orderBy("bucket", "rn")
      },
      Some("SELECT bucket, user_id, n_ev, CAST(rn AS INTEGER) AS rn FROM " +
        "(SELECT bucket, user_id, n_ev, row_number() OVER " +
        "(PARTITION BY bucket ORDER BY n_ev DESC, user_id) AS rn FROM " +
        "(SELECT date_trunc('hour', ts) AS bucket, user_id, count(*) AS n_ev " +
        "FROM events GROUP BY 1, 2)) WHERE rn <= 3 ORDER BY bucket, rn")),

    // Dynamic-gap session windows (Spark 4 session_window with a
    // per-event gap expression): views close after 5 idle minutes,
    // everything else after 15 — the realistic sessionization where the
    // gap depends on the event. The oracle emulates Spark's merge rule
    // (an event joins the session iff its ts <= the running max of
    // previous window ends, computed per user) with a running-max
    // window; equal-boundary events merge, matching Spark's inclusive
    // comparison — the fixed-gap op's oracle pins the same convention.
    Op("strm_session_dynamic_gap",
      (s, d) => T.events(s, d)
        .groupBy(col("user_id"), expr(
          "session_window(ts, CASE WHEN event_type = 'view' " +
            "THEN '5 minutes' ELSE '15 minutes' END)").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          expr("CAST(w.start AS TIMESTAMP_NTZ)").as("session_start"),
          expr("CAST(w.end AS TIMESTAMP_NTZ)").as("session_end"),
          col("n_events"))
        .orderBy("user_id", "session_start"),
      Some("WITH e AS (SELECT user_id, event_id, ts, " +
        "ts + CASE WHEN event_type = 'view' THEN INTERVAL 5 MINUTE ELSE INTERVAL 15 MINUTE END AS wend " +
        "FROM events), " +
        "m AS (SELECT user_id, event_id, ts, wend, " +
        "max(wend) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end FROM e), " +
        "f AS (SELECT *, CASE WHEN prev_end IS NULL OR ts > prev_end THEN 1 ELSE 0 END AS new_s FROM m), " +
        "g AS (SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid FROM f) " +
        "SELECT user_id, min(ts) AS session_start, max(wend) AS session_end, count(*) AS n_events " +
        "FROM g GROUP BY user_id, sid ORDER BY user_id, session_start")),

    // Train-batch / serve-stream anomaly gating, batch-equivalent form:
    // the SAME madThresholds frame the batch report computes becomes
    // the broadcast static side of an alert gate, and alerts roll up
    // per hour x type — the dashboard a production monitor tails. The
    // Structured Streaming twin (Streams.anomalyAlerts) applies one
    // shared gate helper to a live stream with these offline-trained
    // thresholds; parity is pinned in StreamingParitySpec, so the
    // monitor and the offline analysis cannot disagree on what an
    // anomaly is.
    Op("strm_anomaly_alerts",
      (s, d) => graft.streaming.Streams.anomalyAlerts(
        T.events(s, d).select("event_type", "ts", "value"),
        Analytics.madThresholds(s, d).select("event_type", "med", "mad"))
        .withColumn("bucket", expr("CAST(bucket AS TIMESTAMP_NTZ)"))
        .orderBy("bucket", "event_type"),
      Some(s"WITH ${Analytics.oMadCtes} " +
        "SELECT date_trunc('hour', e.ts) AS bucket, e.event_type, count(*) AS n_alerts " +
        "FROM events e JOIN md ON e.event_type = md.event_type " +
        "JOIN mad ON e.event_type = mad.event_type " +
        "WHERE abs(CAST(floor(e.value * 1000000) AS BIGINT) - md.med) > 5 * mad.mad " +
        "GROUP BY 1, 2 ORDER BY 1, 2")),

    // The MERGE SQL surface as a STREAMING sink, driven end-to-end by a
    // REAL Structured Streaming query: a parquet file source over the
    // orders table feeds Streams.mergeSink (each micro-batch binds to
    // the statement's USING view and applies under lease + ledger +
    // in-batch lease retry), and the store read-back sits under the
    // oracle. Single input file + AvailableNow = one deterministic
    // batch, so the merged table is the latest order per customer.
    Op("strm_merge_sink",
      (s, d) => {
        val base = s"target/tmp/strm_merge_${java.util.UUID.randomUUID().toString.take(8)}"
        val src = streamTable(s, d, "orders")
          .select("o_custkey", "o_orderkey", "o_totalprice")
        val q = graft.streaming.Streams.mergeSink(src,
          s"MERGE INTO '$base/table' USING graft_strm_merge_src " +
            "ON t.o_custkey = s.o_custkey LATEST BY o_orderkey " +
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
          s"$base/ckpt", nBuckets = 8)
        q.awaitTermination()
        // a source with zero FILES fires zero batches and never bootstraps
        // the store — surface that as the empty table, not a read error
        val got =
          if (graft.api.UpsertStore.exists(s, s"$base/table"))
            graft.api.MergeSql.readTarget(s, s"$base/table").localCheckpoint()
          else T.t(s, d, "orders")
            .select("o_custkey", "o_orderkey", "o_totalprice").limit(0)
        graft.api.StoreIO.delete(s, base)
        got.orderBy("o_custkey")
      },
      Some("WITH f AS (SELECT o_custkey, o_orderkey, o_totalprice, " +
        "row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn " +
        "FROM orders) " +
        "SELECT o_custkey, o_orderkey, o_totalprice FROM f WHERE rn = 1 " +
        "ORDER BY o_custkey")),

    // Streaming ERASURE QUEUE: a stream of subject keys applied to the
    // upsert store through Streams.deleteSink — each micro-batch
    // anti-joins out of only the buckets its keys hash into
    // (UpsertStore.deleteKeys: key-set routing via the store's own
    // bucket hash), under lease + ledger + in-batch lease retry. The
    // end state must equal the batch DELETE verb's semantics — the
    // streaming and SQL paths cross-check each other on the same
    // declarative oracle.
    Op("strm_delete_sink",
      (s, d) => {
        val base = s"target/tmp/strm_del_${java.util.UUID.randomUUID().toString.take(8)}"
        T.t(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
          .createOrReplaceTempView("graft_strm_del_seed")
        graft.api.MergeSql.run(s,
          s"MERGE INTO '$base/table' USING graft_strm_del_seed " +
            "ON t.o_custkey = s.o_custkey LATEST BY o_orderkey " +
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
          nBuckets = 8, batchId = Some("seed")): Unit
        val q = graft.streaming.Streams.deleteSink(
          streamTable(s, d, "customer")
            .where("c_custkey % 10 = 3")
            .select(col("c_custkey").as("o_custkey")),
          key = "o_custkey", tableDir = s"$base/table",
          checkpointDir = s"$base/ckpt")
        q.awaitTermination()
        val got = graft.api.UpsertStore.read(s, s"$base/table").localCheckpoint()
        graft.api.StoreIO.delete(s, base)
        got.orderBy("o_custkey")
      },
      // every order custkey exists in customer (FK), so the erased set is
      // exactly the %10=3 slice — the same truth core_delete_sql pins
      Some("WITH f AS (SELECT o_custkey, o_orderkey, o_totalprice, " +
        "row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn " +
        "FROM orders) " +
        "SELECT o_custkey, o_orderkey, o_totalprice FROM f " +
        "WHERE rn = 1 AND o_custkey % 10 <> 3 ORDER BY o_custkey")),

    // The store changefeed as a LIVE STREAMING SOURCE (Delta CDF
    // streaming-read analog): a rate-ticker-driven relay polls
    // changesSince per trigger, lands each commit window into the
    // output partitioned by its head seq (dynamic overwrite — crash
    // redelivery overwrites, never duplicates), and advances the
    // durable cursor. Window 1 (the initial load, every row an insert)
    // drains through the RUNNING STREAM; window 2 (a batch + a delete
    // sweep) through the identical per-trigger relay unit. Parity: the
    // oracle is core_store_incremental_consume's — the streaming path
    // must equal the batch consumer exactly.
    Op("strm_changefeed_source",
      (s, d) => {
        val base = s"target/tmp/cfsrc_${java.util.UUID.randomUUID().toString.take(8)}"
        val dir = s"$base/table"
        val cursor = s"$base/cursor.json"
        val out = s"$base/out"
        val t = T.t(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
          .withColumn("b", pmod(col("o_orderkey"), lit(3)))
        def batch(b: Int): Unit = graft.api.UpsertStore.update(
          t.where(col("b") === b).drop("b"), dir, "o_custkey", "o_orderkey",
          nBuckets = 8, batchId = Some(s"b$b")): Unit
        batch(0); batch(1)
        def cursorAt(): Long = graft.api.StoreIO.readSmall(s, cursor)
          .map(new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(_).get("last_seq").asLong()).getOrElse(-1L)
        val q = graft.streaming.Streams.changefeedStream(
          s, dir, "o_custkey", cursor, out, s"$base/ckpt", pollIntervalMs = 200L)
        try {
          val deadline = System.currentTimeMillis() + 120000L
          while (cursorAt() < 2L && System.currentTimeMillis() < deadline)
            Thread.sleep(25) // cursor check is a driver-side file read;
                             // a tight poll shaves dead time after the
                             // relay's first trigger has already drained
          require(cursorAt() == 2L,
            s"stream must drain the 2-commit window, cursor at ${cursorAt()}")
        } finally q.stop()
        batch(2)
        graft.api.UpsertStore.delete(s, dir, expr("o_custkey % 10 = 3"),
          batchId = Some("sweep")): Unit
        graft.streaming.Streams.changefeedRelayOnce(
          s, dir, "o_custkey", cursor, out): Unit
        require(cursorAt() == 4L, s"relay must advance to head 4, at ${cursorAt()}")
        // an all-empty-window run writes no parquet files at all
        val raw = if (graft.api.StoreIO.hasParquet(s, out)) s.read.parquet(out) else
          s.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
            StructType(Seq(
              StructField("change", StringType), StructField("o_custkey", LongType),
              StructField("o_orderkey", LongType),
              StructField("o_totalprice", DoubleType),
              StructField("to_seq", IntegerType))))
        val got = raw
          .withColumn("run", when(col("to_seq") === 2, lit("r1")).otherwise(lit("r2")))
          .drop("to_seq").localCheckpoint()
        graft.api.StoreIO.delete(s, base)
        got.orderBy("run", "o_custkey")
      },
      Some("WITH t AS (SELECT o_custkey, o_orderkey, o_totalprice, o_orderkey % 3 AS b FROM orders), " +
        "m2 AS (SELECT o_custkey, max(b) AS mb FROM t WHERE b <= 1 GROUP BY 1), " +
        "s2 AS (SELECT o_custkey, o_orderkey, o_totalprice FROM " +
        "(SELECT t.o_custkey, t.o_orderkey, t.o_totalprice, " +
        "row_number() OVER (PARTITION BY t.o_custkey ORDER BY t.o_orderkey DESC) AS rn " +
        "FROM t JOIN m2 ON t.o_custkey = m2.o_custkey AND t.b = m2.mb) WHERE rn = 1), " +
        "m4 AS (SELECT o_custkey, max(b) AS mb FROM t GROUP BY 1), " +
        "s4 AS (SELECT o_custkey, o_orderkey, o_totalprice FROM " +
        "(SELECT t.o_custkey, t.o_orderkey, t.o_totalprice, " +
        "row_number() OVER (PARTITION BY t.o_custkey ORDER BY t.o_orderkey DESC) AS rn " +
        "FROM t JOIN m4 ON t.o_custkey = m4.o_custkey AND t.b = m4.mb) " +
        "WHERE rn = 1 AND o_custkey % 10 <> 3) " +
        "SELECT 'insert' AS change, o_custkey, o_orderkey, o_totalprice, 'r1' AS run FROM s2 " +
        "UNION ALL " +
        "SELECT CASE WHEN s2.o_custkey IS NULL THEN 'insert' " +
        "WHEN s4.o_custkey IS NULL THEN 'delete' ELSE 'update' END AS change, " +
        "coalesce(s4.o_custkey, s2.o_custkey) AS o_custkey, " +
        "coalesce(s4.o_orderkey, s2.o_orderkey) AS o_orderkey, " +
        "coalesce(s4.o_totalprice, s2.o_totalprice) AS o_totalprice, 'r2' AS run " +
        "FROM s2 FULL OUTER JOIN s4 ON s2.o_custkey = s4.o_custkey " +
        "WHERE s2.o_custkey IS NULL OR s4.o_custkey IS NULL " +
        "OR s2.o_orderkey IS DISTINCT FROM s4.o_orderkey " +
        "OR s2.o_totalprice IS DISTINCT FROM s4.o_totalprice " +
        "ORDER BY run, o_custkey")),

    // CONTINUOUS IVM — the materialized view maintained by a LIVE
    // streaming query (rate ticker -> MatView.refresh per trigger):
    // the stream drains the 2-batch seed window, stops; batch 3 and a
    // delete sweep land; a second live run folds exactly the delta.
    // Oracle = the from-scratch recompute over the final store — the
    // streaming-maintained view must equal it exactly, same contract
    // as the batch refresh op (the per-trigger unit IS the same).
    Op("strm_matview_sink",
      (s, d) => {
        val base = s"target/tmp/mv_strm_${java.util.UUID.randomUUID().toString.take(8)}"
        val dir = s"$base/fact"
        val view = s"$base/view"
        val t = T.t(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
          .withColumn("b", pmod(col("o_orderkey"), lit(3)))
        def batch(b: Int): Unit = graft.api.UpsertStore.update(
          t.where(col("b") === b).drop("b"), dir, "o_custkey", "o_orderkey",
          nBuckets = 8, batchId = Some(s"b$b")): Unit
        val gcols = Seq("grp" -> pmod(col("o_orderkey"), lit(10)))
        def drainTo(untilSeq: Long): Unit = {
          val deadline = System.currentTimeMillis() + 120000L
          while (graft.api.MatView.cursor(s, view) < untilSeq &&
              System.currentTimeMillis() < deadline)
            Thread.sleep(25)
          require(graft.api.MatView.cursor(s, view) == untilSeq,
            s"live view must reach seq $untilSeq, at ${graft.api.MatView.cursor(s, view)}")
        }
        batch(0); batch(1)
        // ONE long-lived stream follows the store across BOTH commit
        // windows — the production shape (a live view is not restarted
        // per upstream batch), and one stream start/stop lifecycle
        // instead of two. The view cursor stays the source of truth
        // per trigger; the fresh-checkpoint restart semantics this op
        // used to re-demonstrate in its second window is pinned by
        // StreamingParitySpec ("matviewStream: fresh checkpoint
        // resumes from the view cursor").
        val q = graft.streaming.Streams.matviewStream(s, dir, "o_custkey", view,
          gcols, Seq("cents"), s"$base/ckpt1", pollIntervalMs = 200L)
        try {
          drainTo(2L)
          batch(2)
          graft.api.UpsertStore.delete(s, dir, expr("o_custkey % 10 = 3"),
            batchId = Some("sweep")): Unit
          drainTo(4L)
        } finally q.stop()
        val got = graft.api.MatView.read(s, view).localCheckpoint()
        graft.api.StoreIO.delete(s, base)
        got.orderBy("grp")
      },
      Some("WITH t AS (SELECT o_custkey, o_orderkey, " +
        "CAST(floor(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey % 3 AS b FROM orders), " +
        StoreOps.oStoreAfter("", Seq("t.cents")) + ", " +
        "cur AS (SELECT o_custkey, o_orderkey, cents FROM f " +
        "WHERE rn = 1 AND o_custkey % 10 <> 3) " +
        "SELECT o_orderkey % 10 AS grp, count(*) AS n_rows, " +
        "CAST(sum(cents) AS BIGINT) AS sum_cents " +
        "FROM cur GROUP BY 1 ORDER BY grp"))
  )
}
