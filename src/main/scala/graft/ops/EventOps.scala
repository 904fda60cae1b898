package graft.ops

import graft.{Op, Tables => T}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Event-analytics family over the `events` stream: batch sessionization,
  * funnel conversion, cohort retention, and path analysis — the four
  * queries every product-analytics engine ships and this registry lacked
  * (the streaming session window exists at StreamingOps.scala:62; this is
  * the BATCH shape run over historical data).
  *
  * 100-TB design note, shared by the whole family: every op's heavy
  * phase is keyed by `user_id` and nothing else. The session assignment
  * (lag + running sum), the per-session row numbering, and the
  * session-level aggregation all declare window/grouping keys whose
  * prefix is `user_id`, so Catalyst satisfies them from ONE hash
  * exchange on `user_id` — `HashPartitioning(user_id)` clusters every
  * `(user_id, session_seq)` requirement, and EnsureRequirements inserts
  * no second shuffle (pinned in EventSpec). Per-user state is bounded
  * (a user's events sort in one partition — the same assumption every
  * production sessionizer makes; a user with billions of events is a
  * bot to quarantine upstream, not a partition to support). The final
  * funnel/retention/path outputs are per-stage / per-cohort-week /
  * top-20 aggregates: tiny regardless of input scale.
  */
object EventOps {

  /** Session gap: a new session starts after >8 idle hours (the synthetic
    * corpus' median inter-event gap is ~7.3 h, so this yields real
    * multi-event sessions with plenty of boundaries to exercise).
    */
  private[graft] val sessionGapUs = 28800000000L
  private val sessionGapSql = s"${sessionGapUs / 3600000000L} HOUR"

  /** Gap-based session assignment over any frame carrying
    * (user_id, event_id, event_type, ts). ONE definition engine-wide:
    * delegates to StreamingOps.sessionizeBatch (lag + running-sum window
    * trick, strictly-greater-than-gap starts a session), which the
    * streaming parity suite pins equal to Structured Streaming's
    * session_window — so batch analytics and the live pipeline can never
    * disagree on what a session is.
    */
  private[graft] def assignSessions(ev: DataFrame): DataFrame =
    StreamingOps.sessionizeBatch(ev, gap = sessionGapSql)
      .withColumnRenamed("session_id", "session_seq")
      .drop("prev_ts", "new_s")

  /** The events table sessionized, timestamps as epoch microseconds
    * (the Spark/DuckDB-portable integer form).
    */
  private def sessionEvents(s: SparkSession, d: String): DataFrame =
    assignSessions(T.events(s, d).select("user_id", "event_id", "event_type", "ts"))
      .withColumn("us", expr("unix_micros(CAST(ts AS TIMESTAMP))"))

  /** DuckDB twin of sessionEvents: CTEs ending in `ss(user_id, event_id,
    * event_type, us, session_seq)`. Same lag/running-sum structure; the
    * running sum is cast to BIGINT to match Spark's sum-of-long.
    */
  private val oSessions: String =
    "se AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events), " +
      "sm AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > " +
      s"$sessionGapUs THEN 1 ELSE 0 END AS is_new FROM se " +
      "WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)), " +
      "ss AS (SELECT user_id, event_id, event_type, us, " +
      "CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id " +
      "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq FROM sm)"

  /** Funnel SQL, identical text on both engines modulo the epoch-micros
    * spelling and the integer-division operator. Stage semantics are the
    * strict ORDERED funnel: a click only counts if it happens AFTER the
    * user's first view, a purchase only AFTER that qualifying click —
    * min-ts joins, not mere presence (a user who purchases before ever
    * clicking does not convert). Each stage is a groupBy-user aggregate
    * joined to the previous stage on user_id: three shuffles on the same
    * key, each strictly shrinking, final output exactly 3 rows.
    */
  private[graft] def funnelSql(spark: Boolean): String = {
    val us = if (spark) "unix_micros(CAST(ts AS TIMESTAMP))" else "epoch_us(ts)"
    val idiv = if (spark) "div" else "//"
    s"WITH ev AS (SELECT user_id, event_type, $us AS us FROM events), " +
      "s1 AS (SELECT user_id, min(us) AS us1 FROM ev WHERE event_type = 'view' GROUP BY user_id), " +
      "s2 AS (SELECT ev.user_id, min(ev.us) AS us2 FROM ev JOIN s1 ON ev.user_id = s1.user_id " +
      "WHERE ev.event_type = 'click' AND ev.us > s1.us1 GROUP BY ev.user_id), " +
      "s3 AS (SELECT ev.user_id, min(ev.us) AS us3 FROM ev JOIN s2 ON ev.user_id = s2.user_id " +
      "WHERE ev.event_type = 'purchase' AND ev.us > s2.us2 GROUP BY ev.user_id), " +
      "c AS (SELECT 1 AS stage, 'view' AS step, count(*) AS n_users FROM s1 " +
      "UNION ALL SELECT 2, 'click_after_view', count(*) FROM s2 " +
      "UNION ALL SELECT 3, 'purchase_after_click', count(*) FROM s3) " +
      // greatest(1, ...) so an empty corpus (all stages 0) degrades to
      // 0 ppm instead of an ANSI divide-by-zero
      s"SELECT stage, step, n_users, CAST(n_users * 1000000 $idiv greatest(1, max(n_users) OVER ()) " +
      "AS BIGINT) AS conv_ppm FROM c ORDER BY stage"
  }

  /** Cohort retention SQL: cohort = week (vs the fixed 2024-01-01 anchor,
    * NOT ISO weeks — engines disagree on week-of-year edges, day counts
    * from a literal anchor they cannot) of the user's first event;
    * retention = distinct users active k weeks later, as ppm of the
    * cohort's week-0 size (every cohort has a week-0 row by
    * construction: the first event itself is active at offset 0).
    */
  private[graft] def cohortSql(spark: Boolean): String = {
    val wk =
      if (spark) "CAST(datediff(CAST(ts AS DATE), DATE '2024-01-01') AS BIGINT) div 7"
      else "datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7"
    val idiv = if (spark) "div" else "//"
    s"WITH ev AS (SELECT user_id, $wk AS wk FROM events), " +
      "f AS (SELECT user_id, min(wk) AS cohort_week FROM ev GROUP BY user_id), " +
      "act AS (SELECT DISTINCT ev.user_id, f.cohort_week, ev.wk - f.cohort_week AS week_offset " +
      "FROM ev JOIN f ON ev.user_id = f.user_id WHERE ev.wk - f.cohort_week <= 4), " +
      "r AS (SELECT cohort_week, week_offset, count(*) AS n_active FROM act GROUP BY 1, 2) " +
      "SELECT cohort_week, week_offset, n_active, " +
      s"CAST(n_active * 1000000 $idiv max(CASE WHEN week_offset = 0 THEN n_active END) " +
      "OVER (PARTITION BY cohort_week) AS BIGINT) AS retention_ppm " +
      "FROM r ORDER BY cohort_week, week_offset"
  }

  /** The sessionize oracle — shared verbatim by `rel_sessionize` and
    * `rel_sessionize_incremental`: incremental maintenance must equal
    * the full recompute, so they are oracle-checked against the SAME
    * full-recompute SQL.
    */
  private val oSessionize: String =
    s"WITH $oSessions SELECT user_id, session_seq, count(*) AS n_events, " +
      "min(us) AS start_us, (max(us) - min(us)) // 1000000 AS duration_sec " +
      "FROM ss GROUP BY 1, 2 ORDER BY user_id, session_seq"

  val ops: Seq[Op] = Seq(

    // Gap-based batch sessionization: the inverse of the streaming
    // session window — run over historical data, it recovers every
    // session with exact boundaries (no watermark approximation).
    Op("rel_sessionize",
      (s, d) => sessionEvents(s, d)
        .groupBy("user_id", "session_seq")
        .agg(count(lit(1)).as("n_events"),
          min("us").as("start_us"), max("us").as("end_us"))
        .withColumn("duration_sec", expr("(end_us - start_us) div 1000000"))
        .select("user_id", "session_seq", "n_events", "start_us", "duration_sec")
        .orderBy("user_id", "session_seq"),
      Some(oSessionize),
      doc = "Gap-based sessionization (8h idle): lag + running-sum session " +
        "ordinal, per-session count/start/duration; one user_id shuffle " +
        "serves both window passes and the aggregate."),

    // Incremental view maintenance for the session table: build on the
    // first ten days, fold in two time-ordered batches via the
    // persistent SessionStore (tail-seeded sessionize, batch-sized
    // work), read the store back. The oracle is the FULL recompute over
    // all events — the incremental path must be indistinguishable from
    // it, including sessions that span a batch boundary.
    Op("rel_sessionize_incremental",
      (s, d) => {
        val dir = s"target/tmp/sessstore_${d.replaceAll("[^A-Za-z0-9]", "_")}"
        graft.api.StoreIO.delete(s, dir)
        val ev = T.events(s, d).select("user_id", "event_id", "ts")
        val c1 = "TIMESTAMP_NTZ '2024-01-11 00:00:00'"
        val c2 = "TIMESTAMP_NTZ '2024-01-21 00:00:00'"
        graft.api.SessionStore.build(ev.where(s"ts < $c1"), dir)
        graft.api.SessionStore.update(ev.where(s"ts >= $c1 AND ts < $c2"), dir, Some("w2"))
        graft.api.SessionStore.update(ev.where(s"ts >= $c2"), dir, Some("w3"))
        graft.api.SessionStore.read(s, dir)
          .withColumn("duration_sec", expr("(end_us - start_us) div 1000000"))
          .select("user_id", "session_seq", "n_events", "start_us", "duration_sec")
          .orderBy("user_id", "session_seq")
      },
      Some(oSessionize),
      doc = "SessionStore incremental maintenance: stored per-user tails " +
        "seed the sessionizer as pseudo-events, so a nightly batch " +
        "extends or opens sessions in batch-proportional work; " +
        "oracle = full recompute."),

    // The 100-TB layout answer for event analytics: bucket events by
    // user_id once at write time and sessionization becomes
    // SHUFFLE-FREE — the bucketed scan's HashPartitioning(user_id)
    // satisfies the window and the (user_id, session_seq) aggregate, so
    // the plan has ZERO hash exchanges (pinned in EventSpec; the only
    // exchange left is the output sort's range partitioning). 8 buckets
    // here; production sizes bucket count to executor fan-out. Same
    // full-recompute oracle as rel_sessionize: layout must not change
    // answers.
    Op("snk_sessionize_bucketed",
      (s, d) => {
        val tbl = s"events_bucketed_${d.replaceAll("[^A-Za-z0-9]", "_")}"
        if (!s.catalog.tableExists(tbl)) {
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) f.listFiles().foreach(rm)
            f.delete(): Unit
          }
          val wh = new java.io.File(
            new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath, tbl)
          if (wh.exists()) rm(wh)
          T.events(s, d).select("user_id", "event_id", "ts")
            .write.mode("overwrite")
            .bucketBy(8, "user_id").sortBy("user_id", "ts", "event_id")
            .format("parquet").saveAsTable(tbl)
        }
        graft.api.SessionStore.sessionAgg(s.table(tbl))
          .withColumn("duration_sec", expr("(end_us - start_us) div 1000000"))
          .select("user_id", "session_seq", "n_events", "start_us", "duration_sec")
          .orderBy("user_id", "session_seq")
      },
      Some(oSessionize),
      doc = "Sessionization over a user_id-bucketed table: zero hash " +
        "exchanges (bucketed scan partitioning feeds window + aggregate " +
        "directly); the write-once layout that makes event analytics " +
        "shuffle-free at 100 TB."),

    // Strict ordered funnel view -> click -> purchase. Single SQL text
    // on both engines (the asof technique, Relational.scala:125).
    Op("rel_funnel_conversion",
      (s, d) => {
        T.events(s, d).createOrReplaceTempView("events")
        s.sql(funnelSql(spark = true))
      },
      Some(funnelSql(spark = false)),
      doc = "Ordered funnel: first view, first click AFTER it, first " +
        "purchase AFTER that; per-stage user counts + conversion ppm. " +
        "Three shrinking user_id aggregates, 3-row output."),

    // Weekly cohort retention triangle, capped at 4 offsets.
    Op("rel_cohort_retention",
      (s, d) => {
        T.events(s, d).createOrReplaceTempView("events")
        s.sql(cohortSql(spark = true))
      },
      Some(cohortSql(spark = false)),
      doc = "Weekly cohort retention: cohort = week of first event " +
        "(anchored day-count, not ISO weeks), retention_ppm vs the " +
        "cohort's week-0 size via a per-cohort window max."),

    // Top event-type paths: the ordered first-5 event types per session,
    // counted across all sessions. The collect_list is made
    // order-deterministic by sorting on the embedded row number (Spark
    // guarantees no collect order; the struct sort imposes one) — the
    // DuckDB twin is string_agg(... ORDER BY rn).
    Op("rel_event_path",
      (s, d) => {
        val w = Window.partitionBy("user_id", "session_seq").orderBy("us", "event_id")
        sessionEvents(s, d)
          .withColumn("rn", row_number().over(w)).where("rn <= 5")
          .groupBy("user_id", "session_seq")
          .agg(expr("array_join(transform(array_sort(collect_list(struct(rn, event_type))), " +
            "x -> x.event_type), '>')").as("path"))
          .groupBy("path").agg(count(lit(1)).as("n_sessions"))
          .orderBy(desc("n_sessions"), col("path")).limit(20)
      },
      Some(s"WITH $oSessions, " +
        "rn AS (SELECT user_id, session_seq, event_type, row_number() OVER " +
        "(PARTITION BY user_id, session_seq ORDER BY us, event_id) AS rn FROM ss), " +
        "p AS (SELECT user_id, session_seq, string_agg(event_type, '>' ORDER BY rn) AS path " +
        "FROM rn WHERE rn <= 5 GROUP BY 1, 2) " +
        "SELECT path, count(*) AS n_sessions FROM p GROUP BY path " +
        "ORDER BY n_sessions DESC, path LIMIT 20"),
      doc = "Top-20 session paths (first 5 event types, '>'-joined): " +
        "session assignment + row_number + sorted collect, all on the " +
        "one user_id exchange; path histogram is a tiny final aggregate."),

    // Linear multi-touch attribution: every touch in a purchase's
    // 7-day lookback shares the credit equally, in integer ppm with
    // the division remainder assigned to the earliest touches — so
    // credit is conserved EXACTLY (sum over channels == purchases x
    // 1e6, spec-pinned as an invariant). The touch join is keyed
    // user_id with a bounded per-user quadratic (the funnel-family
    // discipline: a user's own history, never a global pair space);
    // untouched purchases roll up under 'none'.
    Op("rel_attribution_linear",
      (s, d) => {
        val ev = T.eventsFp(s, d)
        // alias both self-join sides: p/t descend from one frame, and an
        // unaliased p("user_id") === t("user_id") resolves to the same
        // attribute (Spark's trivially-true-predicate warning)
        val p = ev.where("event_type = 'purchase'")
          .select(col("user_id"), col("event_id").as("pid"), col("us").as("pus"))
          .alias("p")
        val t = ev.where("event_type <> 'purchase'")
          .select(col("user_id"), col("event_id").as("tid"),
            col("event_type").as("channel"), col("us").as("tus"))
          .alias("t")
        val j = p.join(t, expr("p.user_id = t.user_id") &&
            col("tus") < col("pus") && col("pus") - col("tus") <= 604800000000L)
          .select("pid", "channel", "tus", "tid")
          .localCheckpoint()
        val wK = Window.partitionBy("pid")
        val wR = Window.partitionBy("pid").orderBy("tus", "tid")
        val ch = j.withColumn("k", count(lit(1)).over(wK))
          .withColumn("rnk", row_number().over(wR))
          .withColumn("credit", expr(
            "CAST(1000000 div k + CASE WHEN rnk <= 1000000 % k THEN 1 ELSE 0 END AS BIGINT)"))
          .groupBy("channel").agg(
            expr("CAST(SUM(credit) AS BIGINT)").as("credit_total"),
            count(lit(1)).as("n_touches"))
        val none = p.join(j.select("pid"), Seq("pid"), "left_anti")
          .agg(expr("CAST(count(*) * 1000000 AS BIGINT)").as("credit_total"),
            count(lit(1)).as("n_touches"))
          .where("n_touches > 0")
          .select(lit("none").as("channel"), col("credit_total"), col("n_touches"))
        ch.unionByName(none).orderBy("channel")
      },
      Some("WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events), " +
        "p AS (SELECT user_id, event_id AS pid, us AS pus FROM ev WHERE event_type = 'purchase'), " +
        "t AS (SELECT user_id, event_id AS tid, event_type AS channel, us AS tus FROM ev " +
        "WHERE event_type <> 'purchase'), " +
        "j AS (SELECT p.pid, t.channel, t.tus, t.tid FROM p JOIN t ON p.user_id = t.user_id " +
        "AND t.tus < p.pus AND p.pus - t.tus <= 604800000000), " +
        "r AS (SELECT pid, channel, count(*) OVER (PARTITION BY pid) AS k, " +
        "row_number() OVER (PARTITION BY pid ORDER BY tus, tid) AS rnk FROM j), " +
        "c AS (SELECT pid, channel, CAST(1000000 // k + CASE WHEN rnk <= 1000000 % k " +
        "THEN 1 ELSE 0 END AS BIGINT) AS credit FROM r), " +
        "nt AS (SELECT 'none' AS channel, CAST(count(*) * 1000000 AS BIGINT) AS credit_total, " +
        "CAST(count(*) AS BIGINT) AS n_touches FROM p " +
        "WHERE NOT EXISTS (SELECT 1 FROM j WHERE j.pid = p.pid)), " +
        "ch AS (SELECT channel, CAST(SUM(credit) AS BIGINT) AS credit_total, " +
        "count(*) AS n_touches FROM c GROUP BY 1) " +
        "SELECT * FROM (SELECT * FROM ch UNION ALL SELECT * FROM nt WHERE n_touches > 0) " +
        "ORDER BY channel")),

    // Last-touch attribution: each purchase credits the user's most
    // recent non-purchase event within a 7-day lookback (else 'none').
    // One IGNORE NULLS window pass on the user_id exchange — the same
    // single-shuffle discipline as the rest of the event family; the
    // channel rollup is a tiny final aggregate.
    Op("rel_attribution_last_touch",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("us", "event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        val attributed = T.eventsFp(s, d)
          .withColumn("src_type",
            last(when(col("event_type") =!= "purchase", col("event_type")), ignoreNulls = true).over(w))
          .withColumn("src_us",
            last(when(col("event_type") =!= "purchase", col("us")), ignoreNulls = true).over(w))
          .where("event_type = 'purchase'")
          .withColumn("channel", expr(
            "CASE WHEN src_us IS NOT NULL AND us - src_us <= 604800000000 " +
              "THEN src_type ELSE 'none' END"))
        val total = attributed.agg(count(lit(1)).as("total"))
        attributed.groupBy("channel").agg(count(lit(1)).as("n_purchases"))
          .crossJoin(broadcast(total))
          .select(col("channel"), col("n_purchases"),
            expr("CAST(n_purchases * 1000000 div greatest(1, total) AS BIGINT)").as("share_ppm"))
          .orderBy("channel")
      },
      Some("WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events), " +
        "lt AS (SELECT *, " +
        "last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS) " +
        "OVER w AS src_type, " +
        "last_value(CASE WHEN event_type <> 'purchase' THEN us END IGNORE NULLS) " +
        "OVER w AS src_us FROM ev " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), " +
        "at AS (SELECT CASE WHEN src_us IS NOT NULL AND us - src_us <= 604800000000 " +
        "THEN src_type ELSE 'none' END AS channel FROM lt WHERE event_type = 'purchase'), " +
        "tot AS (SELECT count(*) AS total FROM at) " +
        "SELECT channel, count(*) AS n_purchases, " +
        "CAST(count(*) * 1000000 // greatest(1, tot.total) AS BIGINT) AS share_ppm " +
        "FROM at, tot GROUP BY channel, tot.total ORDER BY channel")),

    // First-order Markov transition matrix of the event stream: per
    // (from_type, to_type), the count of consecutive-pair transitions
    // within a user's timeline and the row-normalized probability in
    // ppm — the base table for Markov attribution / next-event
    // prediction. One lead() on the user_id exchange, a tiny
    // type-pair aggregate, and a broadcast row-total join; nothing
    // after the window touches more than |types|^2 rows.
    Op("rel_markov_transitions",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        val tr = T.eventsFp(s, d)
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .where("next_type IS NOT NULL")
          .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
          .agg(count(lit(1)).as("n"))
          // |types|^2 rows; pinned so the row-total rollup reuses them
          // instead of re-scanning and re-shuffling the event stream
          .localCheckpoint()
        val tot = tr.groupBy("from_type").agg(sum("n").as("n_from"))
        tr.join(broadcast(tot), "from_type")
          .select(col("from_type"), col("to_type"), col("n"),
            expr("CAST(n * 1000000 div n_from AS BIGINT)").as("p_ppm"))
          .orderBy("from_type", "to_type")
      },
      Some("WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events), " +
        "tr AS (SELECT event_type AS from_type, " +
        "lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) AS to_type " +
        "FROM ev), " +
        "cnt AS (SELECT from_type, to_type, count(*) AS n FROM tr " +
        "WHERE to_type IS NOT NULL GROUP BY 1, 2), " +
        "tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from FROM cnt GROUP BY 1) " +
        "SELECT cnt.from_type, cnt.to_type, cnt.n, " +
        "CAST(cnt.n * 1000000 // tot.n_from AS BIGINT) AS p_ppm " +
        "FROM cnt JOIN tot USING (from_type) ORDER BY from_type, to_type")),

    // Click-to-purchase conversion-lag distribution: per user, the
    // first click and the first purchase at-or-after it; lag buckets
    // to whole hours with user counts and a cumulative ppm curve (the
    // "X% convert within N hours" readout). One user_id aggregate
    // produces one row per converting user; the histogram and its
    // cumulative window touch only lag-bucket rows.
    Op("rel_conversion_lag",
      (s, d) => {
        val ev = T.eventsFp(s, d)
        val u = ev.groupBy("user_id").agg(
          min(when(col("event_type") === "click", col("us"))).as("c_us"))
        val conv = ev.where("event_type = 'purchase'")
          .join(u, "user_id")
          .where("c_us IS NOT NULL AND us >= c_us")
          .groupBy("user_id").agg(min("us").as("p_us"), min("c_us").as("c0"))
          .select(expr("(p_us - c0) div 3600000000").as("lag_hours"))
        val h = conv.groupBy("lag_hours").agg(count(lit(1)).as("n_users"))
          // lag-bucket rows; pinned so the total and the cumulative
          // window don't each re-aggregate the event stream
          .localCheckpoint()
        val tot = h.agg(expr("CAST(SUM(n_users) AS BIGINT)").as("t"))
        val wCum = Window.orderBy("lag_hours")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        h.crossJoin(broadcast(tot))
          .withColumn("cum", sum("n_users").over(wCum))
          .select(col("lag_hours"), col("n_users"),
            expr("CAST(cum * 1000000 div t AS BIGINT)").as("cum_ppm"))
          .orderBy("lag_hours")
      },
      Some("WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events), " +
        "u AS (SELECT user_id, min(CASE WHEN event_type = 'click' THEN us END) AS c_us " +
        "FROM ev GROUP BY 1), " +
        "conv AS (SELECT (min(ev.us) - min(u.c_us)) // 3600000000 AS lag_hours " +
        "FROM ev JOIN u USING (user_id) " +
        "WHERE ev.event_type = 'purchase' AND u.c_us IS NOT NULL AND ev.us >= u.c_us " +
        "GROUP BY ev.user_id), " +
        "h AS (SELECT lag_hours, CAST(count(*) AS BIGINT) AS n_users FROM conv GROUP BY 1), " +
        "tot AS (SELECT CAST(SUM(n_users) AS BIGINT) AS t FROM h) " +
        "SELECT h.lag_hours, h.n_users, " +
        "CAST(SUM(h.n_users) OVER (ORDER BY h.lag_hours ROWS UNBOUNDED PRECEDING) " +
        "* 1000000 // tot.t AS BIGINT) AS cum_ppm FROM h, tot ORDER BY h.lag_hours")),

    // Time-weighted average value per event type over irregular
    // per-user series (piecewise-constant hold between consecutive
    // events of the same (user, type) stream) — the correct mean for
    // unevenly sampled gauges, where the plain avg over-weights chatty
    // periods. One (user_id, type) exchange carries the lead() window
    // AND the first aggregate; the pooled per-type TWA divides
    // DECIMAL(38) sums (v*dur reaches ~1e22 per segment — int64 is
    // gone long before 100 TB). Streams with <2 events carry no
    // duration and drop out, exactly as on the oracle side.
    Op("rel_time_weighted_avg",
      (s, d) => {
        val w = Window.partitionBy("user_id", "event_type").orderBy("us", "event_id")
        T.eventsFp(s, d)
          .withColumn("nxt", lead("us", 1).over(w))
          .where("nxt IS NOT NULL")
          .withColumn("dur", expr("nxt - us"))
          .groupBy("user_id", "event_type").agg(
            expr("CAST(coalesce(sum(CAST(v AS DECIMAL(38,0)) * dur), 0) AS DECIMAL(38,0))").as("num"),
            expr("CAST(coalesce(sum(CAST(dur AS DECIMAL(38,0))), 0) AS DECIMAL(38,0))").as("den"),
            count(lit(1)).as("n_seg"))
          .groupBy("event_type").agg(
            count(lit(1)).as("n_streams"),
            sum("n_seg").as("n_segments"),
            expr("CAST(sum(num) div greatest(CAST(1 AS DECIMAL(38,0)), sum(den)) AS BIGINT)")
              .as("twa_micro"))
          .orderBy("event_type")
      },
      Some(s"WITH ${T.oEv}, " +
        "seg AS (SELECT event_type, user_id, v, " +
        "lead(us) OVER (PARTITION BY user_id, event_type ORDER BY us, event_id) - us AS dur " +
        "FROM ev), " +
        "st AS (SELECT user_id, event_type, " +
        "CAST(coalesce(sum(CAST(v AS HUGEINT) * dur), 0) AS HUGEINT) AS num, " +
        "CAST(coalesce(sum(CAST(dur AS HUGEINT)), 0) AS HUGEINT) AS den, " +
        "count(*) AS n_seg FROM seg WHERE dur IS NOT NULL GROUP BY 1, 2) " +
        "SELECT event_type, count(*) AS n_streams, " +
        "CAST(sum(n_seg) AS BIGINT) AS n_segments, " +
        "CAST(sum(num) // greatest(CAST(1 AS HUGEINT), sum(den)) AS BIGINT) AS twa_micro " +
        "FROM st GROUP BY 1 ORDER BY 1")),

    // User-growth curve: per active day, DAU, newly-seen users and the
    // cumulative user count — the growth dashboard base table. Day ids
    // are integer epoch-day math (no calendar/timezone dependency);
    // everything flows from ONE distinct (user, day) projection — the
    // DAU aggregate, the per-user first-day, and the new-user rollup;
    // the cumulative sum is a window over the |days|-sized result.
    Op("rel_user_growth",
      (s, d) => {
        val ud = T.events(s, d).select(col("user_id"),
            expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000").as("day_id"))
          .distinct().localCheckpoint()
        val dau = ud.groupBy("day_id").agg(count(lit(1)).as("dau"))
        val nu = ud.groupBy("user_id").agg(min("day_id").as("day_id"))
          .groupBy("day_id").agg(count(lit(1)).as("new_users"))
        dau.join(nu, Seq("day_id"), "left")
          .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
          .withColumn("cum_users", sum("new_users").over(
            Window.orderBy("day_id")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select("day_id", "dau", "new_users", "cum_users")
          .orderBy("day_id")
      },
      Some("WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day_id FROM events), " +
        "dau AS (SELECT day_id, count(*) AS dau FROM ud GROUP BY 1), " +
        "nu AS (SELECT day_id, count(*) AS new_users FROM " +
        "(SELECT user_id, min(day_id) AS day_id FROM ud GROUP BY 1) GROUP BY 1) " +
        "SELECT day_id, dau, coalesce(new_users, 0) AS new_users, " +
        "CAST(sum(coalesce(new_users, 0)) OVER (ORDER BY day_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users " +
        "FROM dau LEFT JOIN nu USING (day_id) ORDER BY day_id")),

    // DAU/MAU stickiness: per active day, the 28-day trailing distinct
    // actives (MAU) and the DAU/MAU ratio in ppm. ADAPTIVE plan on the
    // distinct (user, day) cardinality (one count off the checkpointed
    // frame): below the threshold, EXACT rolling distinct via coverage
    // expansion (each pair marks the 28 days it keeps the user
    // "monthly active" — a bounded 28x of the PAIRS, the audit-grade
    // form the oracle validates); above it, the 100-TB production path
    // — per-day HLL sketches merged over a |days| x 28 grid
    // (rel_dau_mau_hll's shape, data-size-independent), where `mau` is
    // the sketch estimate (~1.6% typical at lgConfigK=12). A fact-scale
    // corpus therefore never pays a 28x fact-cardinality exchange; the
    // exact expansion only ever runs at audit-bounded sizes.
    // Windows before day 28 of the series are partial by definition.
    Op("rel_dau_mau_stickiness",
      (s, d) => {
        val ud = T.events(s, d).select(col("user_id"),
            expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000").as("day_id"))
          .distinct().localCheckpoint()
        val dau = ud.groupBy("day_id").agg(count(lit(1)).as("dau"))
        // 20M pairs -> a 560M-row bounded expansion, the most an exact
        // audit should ever shuffle; real fact scale goes to sketches
        val maxExactPairs = 20000000L
        val mau =
          if (ud.count() <= maxExactPairs)
            ud.select(col("user_id"),
                explode(expr("sequence(day_id, day_id + 27)")).as("day_id"))
              .distinct()
              .groupBy("day_id").agg(count(lit(1)).as("mau"))
          else
            ud.groupBy("day_id").agg(expr("hll_sketch_agg(user_id)").as("sk"))
              .select(col("sk"),
                explode(expr("sequence(day_id, day_id + 27)")).as("day_id"))
              .groupBy("day_id")
              .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("mau"))
        dau.join(mau, Seq("day_id"))
          .withColumn("sticky_ppm",
            expr("CAST(CAST(dau AS DECIMAL(38,0)) * 1000000 div mau AS BIGINT)"))
          .orderBy("day_id")
      },
      Some("WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day_id FROM events), " +
        "dau AS (SELECT day_id, count(*) AS dau FROM ud GROUP BY 1), " +
        "mau AS (SELECT day_id, count(*) AS mau FROM " +
        "(SELECT DISTINCT user_id, unnest(range(day_id, day_id + 28)) AS day_id FROM ud) " +
        "GROUP BY 1) " +
        "SELECT day_id, dau, mau, " +
        "CAST(CAST(dau AS HUGEINT) * 1000000 // mau AS BIGINT) AS sticky_ppm " +
        "FROM dau JOIN mau USING (day_id) ORDER BY day_id")),

    // DAU/MAU via MERGED DAILY HLL SKETCHES — the 100-TB form of
    // rel_dau_mau_stickiness' exact expansion: one fixed-size HLL per
    // active day (the mergeable daily artifact a pipeline would persist
    // in the SketchStore), trailing-28-day MAU by sketch union — the
    // merge grid is |days| x 28 SKETCH rows, data-size-independent,
    // where the exact expansion is 28x the (user, day) pairs. The op
    // ships the exact values plus a measured error-bound boolean
    // (|est - exact| <= 5% — HLL lgConfigK=12 is ~1.6% typical), the
    // same oracle pattern as rel_agg_approx_distinct.
    Op("rel_dau_mau_hll",
      (s, d) => {
        val ud = T.events(s, d).select(col("user_id"),
            expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000").as("day_id"))
          .distinct().localCheckpoint()
        val daily = ud.groupBy("day_id").agg(
          expr("hll_sketch_agg(user_id)").as("sk"),
          count(lit(1)).as("dau"))
        val est = daily
          .select(col("sk"), explode(expr("sequence(day_id, day_id + 27)")).as("day_id"))
          .groupBy("day_id")
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("mau_est"))
        val exact = ud
          .select(col("user_id"), explode(expr("sequence(day_id, day_id + 27)")).as("day_id"))
          .distinct()
          .groupBy("day_id").agg(count(lit(1)).as("mau"))
        daily.select("day_id", "dau")
          .join(exact, Seq("day_id")).join(est, Seq("day_id"))
          .select(col("day_id"), col("dau"), col("mau"),
            (abs(col("mau_est") - col("mau")) <= col("mau") * lit(0.05)).as("hll_ok"))
          .orderBy("day_id")
      },
      Some("WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day_id FROM events), " +
        "dau AS (SELECT day_id, count(*) AS dau FROM ud GROUP BY 1), " +
        "mau AS (SELECT day_id, count(*) AS mau FROM " +
        "(SELECT DISTINCT user_id, unnest(range(day_id, day_id + 28)) AS day_id FROM ud) " +
        "GROUP BY 1) " +
        "SELECT day_id, dau, mau, true AS hll_ok " +
        "FROM dau JOIN mau USING (day_id) ORDER BY day_id")),

    // Position-based (U-shaped 40/20/40) attribution — completes the
    // family beside last-touch and linear: first and last touch in the
    // 7-day pre-purchase window take 400000 ppm each, the middles share
    // 200000 ppm (integer division, remainder to the earliest middles,
    // so every purchase credits exactly 1e6); 1-touch paths take all,
    // 2-touch paths split 50/50. Same join discipline as
    // rel_attribution_linear: one time-bounded (user, window) join,
    // per-purchase windows partitioned by pid.
    Op("rel_attribution_position",
      (s, d) => {
        val ev = T.eventsFp(s, d)
        val p = ev.where("event_type = 'purchase'")
          .select(col("user_id"), col("event_id").as("pid"), col("us").as("pus"))
          .alias("p")
        val t = ev.where("event_type <> 'purchase'")
          .select(col("user_id"), col("event_id").as("tid"),
            col("event_type").as("channel"), col("us").as("tus"))
          .alias("t")
        val j = p.join(t, expr("p.user_id = t.user_id") &&
            col("tus") < col("pus") && col("pus") - col("tus") <= 604800000000L)
          .select("pid", "channel", "tus", "tid")
        val wK = Window.partitionBy("pid")
        val wR = Window.partitionBy("pid").orderBy("tus", "tid")
        j.withColumn("k", count(lit(1)).over(wK))
          .withColumn("rnk", row_number().over(wR))
          .withColumn("credit", expr(
            "CAST(CASE WHEN k = 1 THEN 1000000 WHEN k = 2 THEN 500000 " +
              "WHEN rnk = 1 OR rnk = k THEN 400000 " +
              "ELSE 200000 div (k - 2) + " +
              "CASE WHEN rnk - 1 <= 200000 % (k - 2) THEN 1 ELSE 0 END END AS BIGINT)"))
          .groupBy("channel").agg(
            expr("CAST(SUM(credit) AS BIGINT)").as("credit_total"),
            count(lit(1)).as("n_touches"))
          .orderBy("channel")
      },
      Some("WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events), " +
        "p AS (SELECT user_id, event_id AS pid, us AS pus FROM ev WHERE event_type = 'purchase'), " +
        "t AS (SELECT user_id, event_id AS tid, event_type AS channel, us AS tus FROM ev " +
        "WHERE event_type <> 'purchase'), " +
        "j AS (SELECT p.pid, t.channel, t.tus, t.tid FROM p JOIN t ON p.user_id = t.user_id " +
        "AND t.tus < p.pus AND p.pus - t.tus <= 604800000000), " +
        "r AS (SELECT pid, channel, count(*) OVER (PARTITION BY pid) AS k, " +
        "row_number() OVER (PARTITION BY pid ORDER BY tus, tid) AS rnk FROM j) " +
        "SELECT channel, CAST(SUM(CASE WHEN k = 1 THEN 1000000 WHEN k = 2 THEN 500000 " +
        "WHEN rnk = 1 OR rnk = k THEN 400000 " +
        "ELSE 200000 // (k - 2) + CASE WHEN rnk - 1 <= 200000 % (k - 2) THEN 1 ELSE 0 END END) " +
        "AS BIGINT) AS credit_total, count(*) AS n_touches " +
        "FROM r GROUP BY 1 ORDER BY 1"))
  )
}
