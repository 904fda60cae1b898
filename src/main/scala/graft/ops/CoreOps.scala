package graft.ops

import graft.{Op, Tables => T}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** SURVEY.md §2-B — snapflow's own built-in pipeline operators
  * (core module: accumulator, dedupe_keep_latest, stream latest/merge,
  * schema translation and cast), re-expressed on DataFrames.
  */
object CoreOps {

  /** Shared by core_snapshot_diff (emits the feed) and
    * core_apply_changefeed (applies it): full-outer classify of two
    * snapshot versions of `orders` into insert/update/delete rows.
    */
  private def snapshotDiff(s: org.apache.spark.sql.SparkSession, d: String) = {
    val v1 = T.t(s, d, "orders")
      .select("o_orderkey", "o_totalprice")
    val v2 = v1.where("o_orderkey % 100 <> 7")
      .withColumn("o_totalprice", expr(
        "CASE WHEN o_orderkey % 10 = 3 THEN " +
          "CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)) * 1.1, 2) AS DOUBLE) " +
          "ELSE o_totalprice END"))
      .unionByName(v1.where("o_orderkey % 100 = 11")
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"), col("o_totalprice")))
    v1.as("a").join(v2.as("b"),
        col("a.o_orderkey") === col("b.o_orderkey"), "full")
      .select(
        coalesce(col("a.o_orderkey"), col("b.o_orderkey")).as("o_orderkey"),
        when(col("a.o_orderkey").isNull, "insert")
          .when(col("b.o_orderkey").isNull, "delete")
          .when(col("a.o_totalprice") =!= col("b.o_totalprice"), "update")
          .otherwise("same").as("change_type"),
        col("a.o_totalprice").as("old_price"),
        col("b.o_totalprice").as("new_price"))
      .where("change_type <> 'same'")
      .orderBy("o_orderkey")
  }

  /** Per-lang commutative content digest (shared by core_row_checksum
    * and Streams.checksumSink so the streaming twin can never drift
    * from the batch op): bit_xor + modular sum over a 60-bit md5 row
    * hash. Both digests are associative and commutative, so digests of
    * disjoint batches FOLD into the corpus digest — the property the
    * incremental/streaming path relies on.
    */
  private[graft] def rowDigest(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.withColumn("h", expr(
        T.h60("concat_ws('|', CAST(doc_id AS STRING), text)")))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(h)").as("digest_xor"),
        sum(expr("h % 100000007")).as("digest_sum"))

  /** Fold per-batch digest rows (the exact [[rowDigest]] schema) into
    * the corpus digest: xor of xors, sum of counts/sums.
    */
  private[graft] def foldDigests(d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    d.groupBy("lang")
      .agg(sum("n_rows").as("n_rows"),
        expr("bit_xor(digest_xor)").as("digest_xor"),
        sum("digest_sum").as("digest_sum"))

  // ---- core_fk_integrity ------------------------------------------------

  /** Audit one FK edge. `childKeys`/`parentKeys` each carry a single
    * BIGINT column `k`. NULL FKs are excluded (a nullable FK is not a
    * violation); the child aggregates to (k, count) before the anti
    * join, so the probe frame is distinct-key-sized.
    */
  private def fkEdge(name: String, childKeys: DataFrame,
      parentKeys: DataFrame): DataFrame = {
    val g = childKeys.where(col("k").isNotNull)
      .groupBy("k").agg(count(lit(1)).as("c"))
    val t = g.agg(coalesce(sum("c"), lit(0L)).as("child_rows"),
      count(lit(1)).as("child_keys"))
    val o = g.join(parentKeys.where(col("k").isNotNull), Seq("k"), "left_anti")
      .agg(coalesce(sum("c"), lit(0L)).as("orphan_rows"),
        count(lit(1)).as("orphan_keys"))
    t.crossJoin(broadcast(o)).select(lit(name).as("edge"),
      col("child_rows"), col("child_keys"), col("orphan_rows"), col("orphan_keys"))
  }

  /** Seeded orphan keys (the synthetic star schema is FK-consistent, so
    * without these every edge reports 0/0 and the driver compare would
    * never exercise the violation path). Three lineitem order-orphans
    * over two keys, one part orphan, one supplier orphan, two customer
    * orphans over one key; the nation edge stays clean to pin the
    * zero path. The oracle unions the identical literals.
    */
  private def seed(s: SparkSession, ks: Seq[Long]): DataFrame =
    s.sql(s"SELECT CAST(v AS BIGINT) AS k FROM VALUES ${ks.map(k => s"($k)").mkString(",")} t(v)")

  private def oSeed(ks: Seq[Long]): String =
    ks.map(k => s" UNION ALL SELECT CAST($k AS BIGINT)").mkString

  private def oEdge(i: Int, name: String, childCol: String, childTable: String,
      seeds: Seq[Long], parentCol: String, parentTable: String): String =
    s"c$i AS (SELECT $childCol AS k FROM $childTable${oSeed(seeds)}), " +
      s"g$i AS (SELECT k, count(*) AS c FROM c$i WHERE k IS NOT NULL GROUP BY 1), " +
      s"t$i AS (SELECT CAST(coalesce(SUM(c), 0) AS BIGINT) AS child_rows, " +
      s"count(*) AS child_keys FROM g$i), " +
      s"o$i AS (SELECT CAST(coalesce(SUM(c), 0) AS BIGINT) AS orphan_rows, " +
      s"count(*) AS orphan_keys FROM g$i WHERE NOT EXISTS " +
      s"(SELECT 1 FROM $parentTable p WHERE p.$parentCol = g$i.k)), " +
      s"e$i AS (SELECT '$name' AS edge, t$i.*, o$i.* FROM t$i, o$i)"

  private val fkEdges: Seq[(String, String, String, Seq[Long], String, String)] = Seq(
    ("lineitem.l_orderkey->orders", "l_orderkey", "lineitem", Seq(-7L, -7L, -8L), "o_orderkey", "orders"),
    ("lineitem.l_partkey->part", "l_partkey", "lineitem", Seq(-7L), "p_partkey", "part"),
    ("lineitem.l_suppkey->supplier", "l_suppkey", "lineitem", Seq(-7L), "s_suppkey", "supplier"),
    ("orders.o_custkey->customer", "o_custkey", "orders", Seq(-9L, -9L), "c_custkey", "customer"),
    ("customer.c_nationkey->nation", "c_nationkey", "customer", Seq(), "n_nationkey", "nation"))

  val ops: Seq[Op] = Seq(

    // accumulator: append-accumulate all blocks of a stream into one table.
    // Two disjoint slices of `orders` stand in for two incoming blocks.
    Op("core_accumulator",
      (s, d) => {
        val o = T.t(s, d, "orders")
        o.where("o_orderkey % 2 = 0")
          .unionByName(o.where("o_orderkey % 2 = 1"))
          .orderBy("o_orderkey")
      },
      Some("SELECT * FROM orders WHERE o_orderkey % 2 = 0 " +
        "UNION ALL SELECT * FROM orders WHERE o_orderkey % 2 = 1 " +
        "ORDER BY o_orderkey")),

    // CDC-style upsert (accumulate-then-dedupe collapsed into one step):
    // an "updates" block (here: orders with a simulated price bump)
    // overrides the base table per key; unmatched base rows pass through.
    // anti-join + union — both sides shuffle once on the key; at scale
    // the updates side is typically small enough to broadcast the
    // anti-join.
    Op("core_upsert",
      (s, d) => {
        val base = T.t(s, d, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        // price bump through DECIMAL — round(double, 2) diverges from
        // DuckDB at .005 representation boundaries (seen at sf0.1)
        val updates = base.where("o_orderkey % 10 = 3")
          .withColumn("o_totalprice",
            expr("CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)) * 1.1, 2) AS DOUBLE)"))
          .withColumn("o_orderstatus", lit("U"))
        base.join(updates.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
          .unionByName(updates)
          .orderBy("o_orderkey")
      },
      Some("WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders), " +
        "updates AS (SELECT o_orderkey, o_custkey, " +
        "CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)) * 1.1, 2) AS DOUBLE) AS o_totalprice, " +
        "'U' AS o_orderstatus FROM base WHERE o_orderkey % 10 = 3) " +
        "SELECT * FROM base WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.o_orderkey = base.o_orderkey) " +
        "UNION ALL SELECT * FROM updates ORDER BY o_orderkey")),

    // snapshot diff (CDC changefeed between two immutable block versions):
    // v2 = v1 with deterministic updates (%10=3 price bump), deletes
    // (%100=7) and inserts (mirrored keys). Full-outer join on the key
    // classifies every row; both versions shuffle once.
    Op("core_snapshot_diff",
      (s, d) => snapshotDiff(s, d),
      Some("WITH v1 AS (SELECT o_orderkey, o_totalprice FROM orders), " +
        "v2 AS (SELECT o_orderkey, CASE WHEN o_orderkey % 10 = 3 THEN " +
        "CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)) * 1.1, 2) AS DOUBLE) " +
        "ELSE o_totalprice END AS o_totalprice FROM v1 WHERE o_orderkey % 100 <> 7 " +
        "UNION ALL SELECT o_orderkey + 10000000, o_totalprice FROM v1 WHERE o_orderkey % 100 = 11) " +
        "SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey, " +
        "CASE WHEN a.o_orderkey IS NULL THEN 'insert' WHEN b.o_orderkey IS NULL THEN 'delete' " +
        "WHEN a.o_totalprice <> b.o_totalprice THEN 'update' ELSE 'same' END AS change_type, " +
        "a.o_totalprice AS old_price, b.o_totalprice AS new_price " +
        "FROM v1 a FULL OUTER JOIN v2 b ON a.o_orderkey = b.o_orderkey " +
        "WHERE CASE WHEN a.o_orderkey IS NULL THEN 'insert' WHEN b.o_orderkey IS NULL THEN 'delete' " +
        "WHEN a.o_totalprice <> b.o_totalprice THEN 'update' ELSE 'same' END <> 'same' " +
        "ORDER BY o_orderkey")),

    // dedupe_keep_latest: collapse duplicates on the unique_on key keeping
    // the most recent record (tie-broken on event_id for determinism).
    Op("core_dedupe_keep_latest",
      (s, d) => {
        graft.api.CoreModule.latest(T.events(s, d), Seq("user_id"), "ts", "event_id")
          .select("user_id", "event_id", "ts", "event_type", "value", "props")
          .orderBy("user_id")
      },
      Some("SELECT user_id, event_id, ts, event_type, value, props FROM (" +
        "SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn " +
        "FROM events) WHERE rn = 1 ORDER BY user_id")),

    // stream op `latest`: reduce each keyed stream to its most recent block.
    Op("core_stream_latest",
      (s, d) => {
        graft.api.CoreModule.latest(T.events(s, d), Seq("event_type"), "ts", "event_id")
          .select("event_type", "event_id", "user_id", "ts", "value")
          .orderBy("event_type")
      },
      Some("SELECT event_type, event_id, user_id, ts, value FROM (" +
        "SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) AS rn " +
        "FROM events) WHERE rn = 1 ORDER BY event_type")),

    // stream op `merge`: interleave streams with differing schemas
    // (missing columns null-filled, matched by name).
    Op("core_stream_merge",
      (s, d) => {
        val o = T.t(s, d, "orders")
        val a = o.where("o_orderstatus = 'O'").select("o_orderkey", "o_totalprice")
        val b = o.where("o_orderstatus = 'F'").select("o_orderkey", "o_orderpriority")
        a.unionByName(b, allowMissingColumns = true).orderBy("o_orderkey")
      },
      Some("SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'O' " +
        "UNION ALL BY NAME " +
        "SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderstatus = 'F' " +
        "ORDER BY o_orderkey")),

    // schema translation: rename/re-map realized fields to a target schema.
    Op("core_schema_translate",
      (s, d) => T.t(s, d, "customer").select(
          col("c_custkey").as("id"),
          col("c_name").as("full_name"),
          col("c_mktsegment").as("segment"),
          col("c_acctbal").as("balance"))
        .orderBy("id"),
      Some("SELECT c_custkey AS id, c_name AS full_name, c_mktsegment AS segment, " +
        "c_acctbal AS balance FROM customer ORDER BY id")),

    // schema cast: strict casts plus soft (try_cast) coercion to NULL.
    Op("core_schema_cast",
      (s, d) => T.t(s, d, "orders").select(
          col("o_orderkey"),
          col("o_orderkey").cast(StringType).as("okey_str"),
          col("o_custkey").cast(DoubleType).as("custkey_d"),
          expr("try_cast(substring(o_orderpriority, 1, 1) AS INT)").as("priority_num"),
          expr("try_cast(o_orderstatus AS INT)").as("status_num"),
          // date-cast then back to timestamp: DATE output columns render
          // differently across pandas/duckdb readers, timestamps agree.
          expr("CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP_NTZ)").as("odate"))
        .orderBy("o_orderkey"),
      Some("SELECT o_orderkey, CAST(o_orderkey AS VARCHAR) AS okey_str, " +
        "CAST(o_custkey AS DOUBLE) AS custkey_d, " +
        "TRY_CAST(substring(o_orderpriority, 1, 1) AS INTEGER) AS priority_num, " +
        "TRY_CAST(o_orderstatus AS INTEGER) AS status_num, " +
        "CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS odate FROM orders ORDER BY o_orderkey")),

    // SCD type-2 history build: per user, collapse the event stream to
    // state-change rows (event_type as the tracked attribute), each with
    // [valid_from, valid_to) and an is_current flag. Two windows, both on
    // the same (user_id, ts) partitioning — one shuffle total; at scale
    // the state table is partitioned by key and the windows stay local.
    Op("core_scd2",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val changes = T.events(s, d)
          .withColumn("prev_type", lag("event_type", 1).over(w))
          .where("prev_type IS NULL OR prev_type <> event_type")
          .select(col("user_id"), col("event_type"),
            col("ts").as("valid_from"), col("event_id"))
        val w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
        changes
          .withColumn("valid_to", lead("valid_from", 1).over(w2))
          .withColumn("is_current", col("valid_to").isNull)
          .orderBy("user_id", "valid_from", "event_id")
      },
      Some("WITH o AS (SELECT user_id, event_type, ts, event_id, " +
        "lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type FROM events), " +
        "c AS (SELECT user_id, event_type, ts AS valid_from, event_id FROM o " +
        "WHERE prev_type IS NULL OR prev_type <> event_type) " +
        "SELECT user_id, event_type, valid_from, event_id, " +
        "lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_id) AS valid_to, " +
        "lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_id) IS NULL AS is_current " +
        "FROM c ORDER BY user_id, valid_from, event_id")),

    // apply a CDC changefeed (the core_snapshot_diff output shape) onto the
    // old snapshot and reproduce the new one: deletes/updates leave via an
    // anti-join, inserts/updates re-enter with their new values. The oracle
    // is the new snapshot itself — the round-trip is the check. Both the
    // anti-join and the union shuffle once on the key; a real feed is small
    // relative to the snapshot, so the anti-join side broadcasts at scale.
    Op("core_apply_changefeed",
      (s, d) => {
        val v1 = T.t(s, d, "orders").select("o_orderkey", "o_totalprice")
        val feed = snapshotDiff(s, d)
        v1.join(feed.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
          .unionByName(feed.where("change_type IN ('insert', 'update')")
            .select(col("o_orderkey"), col("new_price").as("o_totalprice")))
          .orderBy("o_orderkey")
      },
      Some("SELECT o_orderkey, CASE WHEN o_orderkey % 10 = 3 THEN " +
        "CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)) * 1.1, 2) AS DOUBLE) " +
        "ELSE o_totalprice END AS o_totalprice FROM orders WHERE o_orderkey % 100 <> 7 " +
        "UNION ALL SELECT o_orderkey + 10000000, o_totalprice FROM orders WHERE o_orderkey % 100 = 11 " +
        "ORDER BY o_orderkey")),

    // record validation with quarantine: every record is checked against
    // declared rules (value range, closed enum, parseable props field);
    // failing rows leave the pipeline tagged with ALL the reasons they
    // failed (comma-joined in rule order). One narrow map + filter — no
    // shuffle except the output sort, so validation cost at 100 TB is a
    // single codegen'd pass over the scan. The snapflow analogue is the
    // soft-cast path of schema casting (bad records quarantined, not
    // crashed).
    Op("core_validate_quarantine",
      (s, d) => T.events(s, d)
        // parse props ONCE per row: get_json_object is the expensive
        // rule ingredient, and CollapseProject keeps a non-cheap expr
        // referenced twice materialized instead of re-inlining it
        .withColumn("pk", expr("try_cast(get_json_object(props, '$.k') AS INT)"))
        .withColumn("reasons", concat_ws(",",
          when(col("value") < lit(0.05), lit("low_value")),
          when(col("event_type") === "error", lit("error_type")),
          when(col("pk").isNull || col("pk") > 90, lit("bad_props"))))
        .where("reasons <> ''")
        .select("event_id", "user_id", "event_type", "reasons")
        .orderBy("event_id"),
      Some("SELECT event_id, user_id, event_type, " +
        "concat_ws(',', CASE WHEN value < 0.05 THEN 'low_value' END, " +
        "CASE WHEN event_type = 'error' THEN 'error_type' END, " +
        "CASE WHEN TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) IS NULL " +
        "OR TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) > 90 THEN 'bad_props' END) AS reasons " +
        "FROM events " +
        "WHERE value < 0.05 OR event_type = 'error' " +
        "OR TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) IS NULL " +
        "OR TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) > 90 " +
        "ORDER BY event_id")),

    // observed metrics (Spark Observation API): data-quality counters
    // collected DURING a query's own pass — no second scan. A pipeline
    // materializing events gets row/low-value/null-props counts for free
    // as executor-side accumulators; here the observed query is drained
    // and the metrics row itself is the result. At 100 TB this replaces
    // a whole auditing re-read of the output.
    Op("core_observe_metrics",
      (s, d) => {
        import s.implicits._
        val obs = new org.apache.spark.sql.Observation()
        T.events(s, d)
          .observe(obs, // distinct aggregates are not observable
            count(lit(1)).as("n_rows"),
            sum(when(col("value") < 0.05, 1L).otherwise(0L)).as("n_low_value"),
            sum(when(col("props").isNull, 1L).otherwise(0L)).as("n_null_props"),
            max(col("user_id")).as("max_user"))
          .write.mode("overwrite").format("noop").save()
        val m = obs.get
        def optL(k: String): Option[Long] = Option(m(k)).map(_.asInstanceOf[Long])
        Seq((m("n_rows").asInstanceOf[Long], optL("n_low_value"),
          optL("n_null_props"), optL("max_user")))
          .toDF("n_rows", "n_low_value", "n_null_props", "max_user")
      },
      Some("SELECT count(*) AS n_rows, " +
        "CAST(SUM(CASE WHEN value < 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_value, " +
        "CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_props, " +
        "max(user_id) AS max_user FROM events")),

    // incremental pipeline runs with a persistent run-log (snapflow's
    // DataBlockLog): run 1 consumes an early snapshot of orders, run 2
    // sees the grown table and consumes ONLY the delta past the stored
    // high-watermark. The queryable run-log itself is the result —
    // per-run rows_consumed and watermark prove the second run touched
    // just the new rows. The log is one tiny parquet row per run; the
    // data path is an ordinary distributed filter-and-append.
    Op("core_incremental_pipeline",
      (s, d) => {
        // per-invocation unique path (ADVICE r4: a fixed per-sf path let
        // two concurrent invocations — parallel verify/bench — interleave
        // the wipe/run-log writes). The JVM-temp dir is tiny (a two-row
        // run-log plus one orders projection) and dies with the machine's
        // temp space; uniqueness buys actual isolation.
        val tmp = java.nio.file.Files.createTempDirectory("graft_incr_").toString
        def runEpoch(snapshot: org.apache.spark.sql.DataFrame): Long = {
          val env = new graft.api.Environment(s)
          env.addSource("raw", snapshot)
          env.addNode1("clean", "raw")(
            _.select("o_orderkey", "o_custkey", "o_totalprice"))
          env.runIncremental("clean", "o_orderkey", s"$tmp/state", s"$tmp/out")
        }
        val orders = T.t(s, d, "orders")
        runEpoch(orders.where("o_orderkey < 1000")) // epoch 1: early snapshot
        runEpoch(orders)                            // epoch 2: table has grown
        graft.api.RunLog.read(s, s"$tmp/state")
          .select("run_seq", "stage", "rows_consumed", "watermark")
          .orderBy("run_seq")
      },
      Some("SELECT CAST(1 AS BIGINT) AS run_seq, 'clean' AS stage, " +
        "count(*) AS rows_consumed, max(o_orderkey) AS watermark " +
        "FROM orders WHERE o_orderkey < 1000 " +
        "UNION ALL SELECT CAST(2 AS BIGINT), 'clean', count(*), max(o_orderkey) " +
        "FROM orders WHERE o_orderkey >= 1000 ORDER BY run_seq")),

    // Time travel over the SCD2 history: reconstruct each user's state
    // as of an instant T — the interval containing T (valid_from <= T <
    // valid_to, open-ended current rows included). One windowed pass
    // builds the history; the rewind itself is a pure filter, which is
    // the point: as-of reads off a type-2 table cost one predicate, not
    // a replay.
    Op("core_history_rewind",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        T.events(s, d)
          .withColumn("prev_type", lag("event_type", 1).over(w))
          .where("prev_type IS NULL OR prev_type <> event_type")
          .select(col("user_id"), col("event_type"), col("ts").as("valid_from"), col("event_id"))
          .withColumn("valid_to", lead("valid_from", 1).over(
            Window.partitionBy("user_id").orderBy("valid_from", "event_id")))
          .where("valid_from <= TIMESTAMP_NTZ '2024-01-15 00:00:00' AND " +
            "(valid_to IS NULL OR valid_to > TIMESTAMP_NTZ '2024-01-15 00:00:00')")
          .select("user_id", "event_type", "valid_from", "event_id")
          .orderBy("user_id", "event_id")
      },
      Some("WITH o AS (SELECT user_id, event_type, ts, event_id, " +
        "lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type FROM events), " +
        "c AS (SELECT user_id, event_type, ts AS valid_from, event_id FROM o " +
        "WHERE prev_type IS NULL OR prev_type <> event_type), " +
        "h AS (SELECT user_id, event_type, valid_from, event_id, " +
        "lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_id) AS valid_to FROM c) " +
        "SELECT user_id, event_type, valid_from, event_id FROM h " +
        "WHERE valid_from <= TIMESTAMP '2024-01-15' AND " +
        "(valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15') " +
        "ORDER BY user_id, event_id")),

    // Pipeline freshness report: per-type high watermark and its lag
    // behind the global watermark, in exact epoch microseconds (complete
    // minutes via floor division — boundary-counting date_diff and
    // unit-counting timestampdiff disagree on sub-minute components, so
    // neither is used).
    Op("core_freshness_report",
      (s, d) => {
        val perType = T.events(s, d).groupBy("event_type")
          .agg(max("ts").as("max_ts"), count(lit(1)).as("n_events"))
        val global = perType.agg(max("max_ts").as("global_max"))
        perType.crossJoin(broadcast(global))
          .withColumn("lag_us",
            expr("unix_micros(CAST(global_max AS TIMESTAMP)) - unix_micros(CAST(max_ts AS TIMESTAMP))"))
          .withColumn("lag_minutes", expr("lag_us div 60000000"))
          .select("event_type", "max_ts", "n_events", "lag_us", "lag_minutes")
          .orderBy("event_type")
      },
      Some("WITH pt AS (SELECT event_type, max(ts) AS max_ts, count(*) AS n_events FROM events GROUP BY event_type), " +
        "g AS (SELECT max(max_ts) AS global_max FROM pt) " +
        "SELECT event_type, max_ts, n_events, " +
        "epoch_us(global_max) - epoch_us(max_ts) AS lag_us, " +
        "(epoch_us(global_max) - epoch_us(max_ts)) // 60000000 AS lag_minutes " +
        "FROM pt, g ORDER BY event_type")),

    // ANALYZE-style column statistics — the numbers a cost-based
    // optimizer consumes (non-null count, NDV, min/max) — in ONE
    // scan: all columns aggregate together, then the wide row unpivots
    // to one row per column. Three separate ANALYZE passes become one
    // table read at any scale. NDV is HLL++-sketched by default (k
    // exact count(DISTINCT)s would Expand-replicate the input k times
    // — see Stats.columnStats), so the parity check is the sketch
    // family's error-bound boolean: the estimate must land within 15%
    // of the exact NDV the op recomputes (exactNdv = true) and the
    // oracle recomputes independently. The same job is LOAD-BEARING,
    // not just a report: graft.api.Stats.analyze runs it and installs
    // the result into the session catalog for the cost-based optimizer
    // (CboSpec pins a join build side flipping on these stats).
    Op("core_column_stats",
      (s, d) => {
        val t = T.t(s, d, "orders")
        val cols = Seq("o_custkey", "o_orderstatus", "o_orderpriority")
        val approx = graft.api.Stats.columnStats(t, cols)
          .select("column", "n_nonnull", "ndv", "min_v", "max_v")
        val exact = graft.api.Stats.columnStats(t, cols, exactNdv = true)
          .select(col("column"), col("ndv").as("ndv_exact"))
        approx.join(exact, Seq("column"))
          .select(col("column"), col("n_nonnull"),
            (abs(col("ndv") - col("ndv_exact")) <=
              col("ndv_exact") * lit(0.15)).as("ndv_within_bounds"),
            col("min_v"), col("max_v"))
          .orderBy("column")
      },
      Some("SELECT 'o_custkey' AS column, count(o_custkey) AS n_nonnull, " +
        "true AS ndv_within_bounds, CAST(min(o_custkey) AS VARCHAR) AS min_v, " +
        "CAST(max(o_custkey) AS VARCHAR) AS max_v FROM orders " +
        "UNION ALL SELECT 'o_orderpriority', count(o_orderpriority), " +
        "true, min(o_orderpriority), max(o_orderpriority) FROM orders " +
        "UNION ALL SELECT 'o_orderstatus', count(o_orderstatus), " +
        "true, min(o_orderstatus), max(o_orderstatus) FROM orders " +
        "ORDER BY \"column\"")),

    // Pre-join skew diagnostic: the per-key cardinality profile read
    // BEFORE choosing salting / AQE skew handling for a 100-TB join —
    // top-5 heaviest keys with their share of the table, plus the
    // key-count/max context on every row. One aggregation + a bounded
    // TakeOrdered; nothing wide ever leaves the executors.
    Op("core_partition_skew_report",
      (s, d) => {
        val counts = T.t(s, d, "orders")
          .groupBy(col("o_custkey").as("key")).agg(count(lit(1)).as("cnt"))
        val totals = counts.agg(count(lit(1)).as("n_keys"),
          sum("cnt").as("n_rows"), max("cnt").as("max_cnt"))
        counts.orderBy(desc("cnt"), col("key")).limit(5)
          .crossJoin(broadcast(totals))
          .select(col("key"), col("cnt"),
            expr("floor(CAST(cnt AS DOUBLE) / n_rows * 1000000) / 1000000").as("share"),
            col("n_keys"), col("max_cnt"))
          .orderBy(desc("cnt"), col("key"))
      },
      Some("WITH c AS (SELECT o_custkey AS key, count(*) AS cnt FROM orders GROUP BY o_custkey), " +
        "t AS (SELECT count(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS n_rows, " +
        "CAST(MAX(cnt) AS BIGINT) AS max_cnt FROM c) " +
        "SELECT key, cnt, floor(CAST(cnt AS DOUBLE) / n_rows * 1000000) / 1000000 AS share, " +
        "n_keys, max_cnt FROM c, t ORDER BY cnt DESC, key LIMIT 5")),

    // Order-independent content digest per language slice — the check a
    // migration (engine A -> engine B, or one 100-TB copy vs another)
    // runs to prove the corpora are IDENTICAL without sorting or
    // co-locating either side. Two commutative digests over a 60-bit
    // md5-derived row hash: bit_xor (overflow-free at any row count)
    // and a modular sum (mod 1e8+7 keeps SUM under 2^63 past 10^10
    // rows). One hash-agg, no shuffle wider than the lang key; any
    // row-order / partitioning / file-layout difference cancels out.
    Op("core_row_checksum",
      (s, d) => rowDigest(T.t(s, d, "documents")).orderBy("lang"),
      Some("WITH h AS (SELECT lang, " +
        s"${T.oH60("concat_ws('|', CAST(doc_id AS VARCHAR), text)")} AS h " +
        "FROM documents) " +
        "SELECT lang, count(*) AS n_rows, bit_xor(h) AS digest_xor, " +
        "CAST(SUM(h % 100000007) AS BIGINT) AS digest_sum " +
        "FROM h GROUP BY lang ORDER BY lang")),

    // Z-order clustering: interleave the bits of two binned dimensions
    // (customer, total price) into one Morton key, so ONE range
    // partitioning / sorted write clusters the data in BOTH dimensions
    // at once — parquet min/max row-group stats then skip files for
    // predicates on either column (the Delta/Iceberg OPTIMIZE ZORDER
    // idea, done with plain integer arithmetic Catalyst folds into
    // codegen). The report aggregates per z-range bucket and shows the
    // locality: within a bucket both dimension spans stay bounded
    // (high z-bits pin the high bits of BOTH inputs), which is exactly
    // why min/max pruning works on either predicate after clustering.
    Op("core_zorder_cluster",
      (s, d) => {
        val pbE = "CAST(least(15, floor(o_totalprice / 31250)) AS BIGINT)"
        val cbE = "CAST(least(15, floor(o_custkey / 10)) AS BIGINT)"
        val z = (0 to 3).map(i =>
          s"(CAST(floor(cb / ${1 << i}) AS BIGINT) % 2) * ${1L << (2 * i)} + " +
          s"(CAST(floor(pb / ${1 << i}) AS BIGINT) % 2) * ${1L << (2 * i + 1)}")
          .mkString(" + ")
        T.t(s, d, "orders")
          .select(expr(pbE).as("pb"), expr(cbE).as("cb"))
          .withColumn("z", expr(z))
          .groupBy(expr("CAST(floor(z / 32) AS BIGINT)").as("z_bucket"))
          .agg(count(lit(1)).as("n"),
            min("pb").as("min_pb"), max("pb").as("max_pb"),
            min("cb").as("min_cb"), max("cb").as("max_cb"))
          .withColumn("pb_span", col("max_pb") - col("min_pb"))
          .withColumn("cb_span", col("max_cb") - col("min_cb"))
          .orderBy("z_bucket")
      },
      Some {
        val z = (0 to 3).map(i =>
          s"(CAST(floor(cb / ${1 << i}) AS BIGINT) % 2) * ${1L << (2 * i)} + " +
          s"(CAST(floor(pb / ${1 << i}) AS BIGINT) % 2) * ${1L << (2 * i + 1)}")
          .mkString(" + ")
        "WITH b AS (SELECT CAST(least(15, floor(o_totalprice / 31250)) AS BIGINT) AS pb, " +
          "CAST(least(15, floor(o_custkey / 10)) AS BIGINT) AS cb FROM orders), " +
          s"zt AS (SELECT pb, cb, $z AS z FROM b), " +
          "g AS (SELECT CAST(floor(z / 32) AS BIGINT) AS z_bucket, count(*) AS n, " +
          "min(pb) AS min_pb, max(pb) AS max_pb, min(cb) AS min_cb, max(cb) AS max_cb " +
          "FROM zt GROUP BY 1) " +
          "SELECT z_bucket, n, min_pb, max_pb, min_cb, max_cb, " +
          "max_pb - min_pb AS pb_span, max_cb - min_cb AS cb_span " +
          "FROM g ORDER BY z_bucket"
      }),

    // Equi-width 20-bin histogram of o_totalprice — the classic
    // optimizer column statistic (selectivity input) beyond
    // core_column_stats' min/max/NDV. One scan for the bounds
    // (broadcast 1-row), one partial-aggregated scan for the bin
    // counts; the cumulative column is a 20-row broadcast self-join,
    // never a global window. Bin boundaries are the identical IEEE
    // expression tree on both engines.
    Op("core_column_histogram",
      (s, d) => {
        val o = T.t(s, d, "orders")
        // zero-width guard: a constant column (or one row) degenerates
        // to a single bin instead of NaN arithmetic (ANSI casts throw)
        val mm = o.agg(min("o_totalprice").as("lo"), max("o_totalprice").as("hi"))
          .withColumn("w", expr("CASE WHEN hi = lo THEN 1.0 ELSE (hi - lo) / 20.0 END"))
        val binned = o.crossJoin(broadcast(mm))
          .withColumn("bin", expr(
            "CAST(least(floor((o_totalprice - lo) / w), 19.0) AS INT)"))
          .groupBy("bin").agg(count(lit(1)).as("n_rows"))
        val cum = binned.as("a")
          .join(broadcast(binned.as("b")), expr("b.bin <= a.bin"))
          .groupBy(col("a.bin").as("bin"), col("a.n_rows").as("n_rows"))
          .agg(sum("b.n_rows").as("cum_rows"))
        cum.crossJoin(broadcast(mm))
          .select(col("bin"),
            expr("lo + CAST(bin AS DOUBLE) * w").as("bin_lo"),
            expr("lo + (CAST(bin AS DOUBLE) + 1.0) * w").as("bin_hi"),
            col("n_rows"), col("cum_rows"))
          .orderBy("bin")
      },
      Some("WITH mm AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi, " +
        "CASE WHEN max(o_totalprice) = min(o_totalprice) THEN 1.0 " +
        "ELSE (max(o_totalprice) - min(o_totalprice)) / 20.0 END AS w FROM orders), " +
        "bi AS (SELECT CAST(least(floor((o_totalprice - lo) / w), 19.0) AS INTEGER) AS bin, " +
        "count(*) AS n_rows FROM orders, mm GROUP BY 1), " +
        "cu AS (SELECT a.bin, a.n_rows, CAST(SUM(b.n_rows) AS BIGINT) AS cum_rows " +
        "FROM bi a JOIN bi b ON b.bin <= a.bin GROUP BY a.bin, a.n_rows) " +
        "SELECT bin, lo + CAST(bin AS DOUBLE) * w AS bin_lo, " +
        "lo + (CAST(bin AS DOUBLE) + 1.0) * w AS bin_hi, " +
        "n_rows, cum_rows FROM cu, mm ORDER BY bin")),

    // Referential-integrity audit over the star schema's FK edges:
    // per edge, total child rows/keys and orphan rows/keys (child FK
    // values with no parent). The child aggregates to distinct keys
    // BEFORE the anti join (see object doc); dim-sized parents
    // (nation) resolve as broadcast anti-joins, fact-sized parents as
    // shuffled ones — exactly what a 1000-executor plan wants.
    Op("core_fk_integrity",
      (s, d) => {
        fkEdges.map { case (name, cc, ct, seeds, pc, pt) =>
          val child0 = T.t(s, d, ct).select(col(cc).as("k"))
          val child = if (seeds.isEmpty) child0 else child0.unionByName(seed(s, seeds))
          fkEdge(name, child, T.t(s, d, pt).select(col(pc).as("k")))
        }.reduce(_ unionByName _).orderBy("edge")
      },
      Some("WITH " +
        fkEdges.zipWithIndex.map { case ((name, cc, ct, seeds, pc, pt), i) =>
          oEdge(i, name, cc, ct, seeds, pc, pt)
        }.mkString(", ") +
        " SELECT * FROM (" +
        fkEdges.indices.map(i => s"SELECT * FROM e$i").mkString(" UNION ALL ") +
        ") ORDER BY edge")),

    // Declarative data-quality expectation panel (the Deequ /
    // Great-Expectations shape): completeness, range, set-membership,
    // positivity, and key-uniqueness checks over lineitem, all
    // evaluated in ONE scan as conditional aggregates, reported as
    // integer ppm against a declared threshold. Two expectations
    // genuinely FAIL on the synthetic data (discount<=5% holds for
    // only ~55% of rows; (l_orderkey, l_linenumber) is not unique), so
    // the fail path is exercised with real measured ratios.
    Op("core_dq_expectations",
      (s, d) => {
        T.t(s, d, "lineitem").agg(
          count(lit(1)).as("n"),
          count(col("l_quantity")).as("qty_nn"),
          expr("count_if(l_discount >= 0 AND l_discount <= 0.1)").as("disc_rng"),
          expr("count_if(l_returnflag IN ('A','N','R'))").as("rf_set"),
          expr("count_if(CAST(l_shipdate AS DATE) >= DATE '1994-01-01' AND " +
            "CAST(l_shipdate AS DATE) < DATE '2003-01-01')").as("ship_rng"),
          expr("count_if(l_extendedprice > 0)").as("price_pos"),
          expr("count_if(l_discount <= 0.05)").as("disc_low"),
          // injective integer pair key (TPC-H pins l_linenumber in 1..7):
            // no per-row string concat/alloc on the 100-TB scan
            countDistinct(expr("l_orderkey * 10 + l_linenumber")).as("ol_keys"))
        .select(expr("stack(7, " +
          "'completeness_quantity', CAST(qty_nn * 1000000 div greatest(1, n) AS BIGINT), CAST(1000000 AS BIGINT), " +
          "'range_discount', CAST(disc_rng * 1000000 div greatest(1, n) AS BIGINT), CAST(1000000 AS BIGINT), " +
          "'set_returnflag', CAST(rf_set * 1000000 div greatest(1, n) AS BIGINT), CAST(1000000 AS BIGINT), " +
          "'window_shipdate', CAST(ship_rng * 1000000 div greatest(1, n) AS BIGINT), CAST(1000000 AS BIGINT), " +
          "'positive_price', CAST(price_pos * 1000000 div greatest(1, n) AS BIGINT), CAST(1000000 AS BIGINT), " +
          "'discount_le_5pct', CAST(disc_low * 1000000 div greatest(1, n) AS BIGINT), CAST(990000 AS BIGINT), " +
          "'unique_orderline', CAST(ol_keys * 1000000 div greatest(1, n) AS BIGINT), CAST(1000000 AS BIGINT)" +
          ") AS (expectation, metric_ppm, threshold_ppm)"))
        .withColumn("ok", col("metric_ppm") >= col("threshold_ppm"))
        .orderBy("expectation")
      },
      Some("WITH m AS (SELECT count(*) AS n, count(l_quantity) AS qty_nn, " +
        "count_if(l_discount >= 0 AND l_discount <= 0.1) AS disc_rng, " +
        "count_if(l_returnflag IN ('A','N','R')) AS rf_set, " +
        "count_if(CAST(l_shipdate AS DATE) >= DATE '1994-01-01' AND " +
        "CAST(l_shipdate AS DATE) < DATE '2003-01-01') AS ship_rng, " +
        "count_if(l_extendedprice > 0) AS price_pos, " +
        "count_if(l_discount <= 0.05) AS disc_low, " +
        "count(DISTINCT l_orderkey * 10 + l_linenumber) AS ol_keys FROM lineitem), " +
        "p AS (" + Seq(
          ("completeness_quantity", "qty_nn", 1000000),
          ("range_discount", "disc_rng", 1000000),
          ("set_returnflag", "rf_set", 1000000),
          ("window_shipdate", "ship_rng", 1000000),
          ("positive_price", "price_pos", 1000000),
          ("discount_le_5pct", "disc_low", 990000),
          ("unique_orderline", "ol_keys", 1000000)).map { case (nm, c, thr) =>
            s"SELECT '$nm' AS expectation, " +
              s"CAST($c * 1000000 // greatest(1, n) AS BIGINT) AS metric_ppm, " +
              s"CAST($thr AS BIGINT) AS threshold_ppm FROM m"
          }.mkString(" UNION ALL ") + ") " +
        "SELECT expectation, metric_ppm, threshold_ppm, " +
        "metric_ppm >= threshold_ppm AS ok FROM p ORDER BY expectation")),

    // Ingestion-gap monitor: which hourly buckets received ZERO events
    // per type, how many, and the longest consecutive outage run — the
    // data-loss dashboard every feed needs. The heavy side is one
    // distinct (type, hour) aggregate of the corpus (well-distributed
    // key, map-side combinable); the hour x type grid it anti-joins is
    // calendar-sized (a decade is <90k hours), so the gap analysis
    // itself never touches raw events. Gap runs via the integer
    // islands trick (hour index minus rank), engine-identical.
    Op("core_ingest_gap_report",
      (s, d) => {
        val ev = T.events(s, d)
        val eh = ev.select(col("event_type"),
          expr("CAST(date_trunc('hour', ts) AS TIMESTAMP_NTZ)").as("h")).distinct()
          .localCheckpoint()
        val b = ev.agg(
          expr("CAST(date_trunc('hour', min(ts)) AS TIMESTAMP_NTZ)").as("mn"),
          expr("CAST(date_trunc('hour', max(ts)) AS TIMESTAMP_NTZ)").as("mx"))
        val hrs = b.select(explode(expr("sequence(mn, mx, INTERVAL 1 HOUR)")).as("h"))
        val types = eh.select("event_type").distinct()
        val miss = hrs.crossJoin(broadcast(types))
          .join(eh, Seq("event_type", "h"), "left_anti")
        val runs = miss
          .withColumn("grp", expr("unix_micros(CAST(h AS TIMESTAMP)) div 3600000000 - " +
            "row_number() OVER (PARTITION BY event_type ORDER BY h)"))
          .groupBy("event_type", "grp").agg(count(lit(1)).as("run"))
        val perType = miss.groupBy("event_type")
          .agg(count(lit(1)).as("n_hours_empty"), min("h").as("first_empty_hour"))
        val maxGap = runs.groupBy("event_type").agg(max("run").as("max_gap_hours"))
        val tot = hrs.agg(count(lit(1)).as("n_hours_total"))
        types.crossJoin(broadcast(tot))
          .join(perType, Seq("event_type"), "left")
          .join(maxGap, Seq("event_type"), "left")
          .select(col("event_type"), col("n_hours_total"),
            expr("CAST(coalesce(n_hours_empty, 0) AS BIGINT)").as("n_hours_empty"),
            expr("CAST(coalesce(max_gap_hours, 0) AS BIGINT)").as("max_gap_hours"),
            col("first_empty_hour"))
          .orderBy("event_type")
      },
      Some("WITH eh AS (SELECT DISTINCT event_type, date_trunc('hour', ts) AS h FROM events), " +
        "b AS (SELECT date_trunc('hour', min(ts)) AS mn, date_trunc('hour', max(ts)) AS mx FROM events), " +
        "hrs AS (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h FROM b), " +
        "t AS (SELECT DISTINCT event_type FROM eh), " +
        "miss AS (SELECT t.event_type, hrs.h FROM hrs, t WHERE NOT EXISTS " +
        "(SELECT 1 FROM eh WHERE eh.event_type = t.event_type AND eh.h = hrs.h)), " +
        "mi AS (SELECT event_type, h, epoch_us(h) // 3600000000 - " +
        "row_number() OVER (PARTITION BY event_type ORDER BY h) AS grp FROM miss), " +
        "runs AS (SELECT event_type, grp, count(*) AS run FROM mi GROUP BY 1, 2), " +
        "mg AS (SELECT event_type, max(run) AS max_gap_hours FROM runs GROUP BY 1), " +
        "pt AS (SELECT event_type, count(*) AS n_hours_empty, min(h) AS first_empty_hour " +
        "FROM miss GROUP BY 1), " +
        "tot AS (SELECT count(*) AS n_hours_total FROM hrs) " +
        "SELECT t.event_type, tot.n_hours_total, " +
        "CAST(coalesce(pt.n_hours_empty, 0) AS BIGINT) AS n_hours_empty, " +
        "CAST(coalesce(mg.max_gap_hours, 0) AS BIGINT) AS max_gap_hours, pt.first_empty_hour " +
        "FROM t CROSS JOIN tot LEFT JOIN pt ON t.event_type = pt.event_type " +
        "LEFT JOIN mg ON t.event_type = mg.event_type ORDER BY t.event_type")),

    // Data-governance masking: PII columns leave the trust boundary as
    // deterministic md5 tokens (equality- and join-preserving — the
    // masked key still groups/joins identically, pinned in spec) and
    // quasi-identifiers are generalized (balances to 100-unit buckets)
    // — the share-with-analysts projection. Everything is a codegen'd
    // per-row projection: no shuffle, no state, scales linearly.
    Op("core_column_mask",
      (s, d) => T.t(s, d, "customer")
        .select(col("c_custkey"),
          expr("concat('cust_', substring(md5(c_name), 1, 12))").as("masked_name"),
          expr("CAST(floor(c_acctbal / 100) * 100 AS DOUBLE)").as("acct_bucket"),
          col("c_mktsegment"), col("c_nationkey"))
        .orderBy("c_custkey"),
      Some("SELECT c_custkey, concat('cust_', substr(md5(c_name), 1, 12)) AS masked_name, " +
        "CAST(floor(c_acctbal / 100) * 100 AS DOUBLE) AS acct_bucket, " +
        "c_mktsegment, c_nationkey FROM customer ORDER BY c_custkey")),

    // Partition-layout advisor (the clustering-advisor niche every
    // warehouse ships): score each candidate partition column of
    // orders on (a) SKEW — max partition share vs the uniform share,
    // in ppm (1e6 = perfectly uniform; a hot key inflates it) and
    // (b) PARTITION-COUNT FITNESS — |log2(ndv) - log2(1024)| distance
    // from a ~1k-partition sweet spot, in 1e-3 bits (too few
    // partitions starve parallelism, too many drown the metastore in
    // small files). score = skew_ppm + 100 * band_dist_fp, ranked
    // ascending — a deterministic integer formula both engines replay.
    // One groupBy per candidate, each map-side combining; nothing
    // data-sized leaves the aggregates.
    Op("core_layout_advisor",
      (s, d) => {
        val candidates = Seq("o_orderdate", "o_custkey", "o_orderpriority", "o_orderstatus")
        val scored = candidates.map { c =>
          T.t(s, d, "orders")
            .groupBy(col(c).cast("string").as("k")).agg(count(lit(1)).as("cnt"))
            .agg(count(lit(1)).as("ndv"),
              expr("CAST(SUM(cnt) AS BIGINT)").as("n"),
              max("cnt").as("max_cnt"))
            .select(lit(c).as("candidate"), col("ndv"), col("max_cnt"),
              expr("CAST(CAST(max_cnt AS DECIMAL(38,0)) * ndv * 1000000 div n AS BIGINT)")
                .as("skew_ppm"),
              expr("CAST(floor(abs(log2(CAST(ndv AS DOUBLE)) - 10.0) * 1000) AS BIGINT)")
                .as("band_dist_fp"))
        }.reduce(_ unionByName _)
        scored
          .withColumn("score_fp", expr("skew_ppm + 100 * band_dist_fp"))
          .orderBy("score_fp", "candidate")
      },
      Some("WITH " + Seq("o_orderdate", "o_custkey", "o_orderpriority", "o_orderstatus")
        .zipWithIndex.map { case (c, i) =>
          s"g$i AS (SELECT CAST($c AS VARCHAR) AS k, count(*) AS cnt FROM orders GROUP BY 1), " +
            s"a$i AS (SELECT '$c' AS candidate, CAST(count(*) AS BIGINT) AS ndv, " +
            s"CAST(max(cnt) AS BIGINT) AS max_cnt, " +
            s"CAST(CAST(max(cnt) AS HUGEINT) * count(*) * 1000000 // SUM(cnt) AS BIGINT) AS skew_ppm, " +
            s"CAST(floor(abs(log2(CAST(count(*) AS DOUBLE)) - 10.0) * 1000) AS BIGINT) AS band_dist_fp " +
            s"FROM g$i)"
        }.mkString(", ") + " " +
        "SELECT candidate, ndv, max_cnt, skew_ppm, band_dist_fp, " +
        "skew_ppm + 100 * band_dist_fp AS score_fp FROM (" +
        (0 until 4).map(i => s"SELECT * FROM a$i").mkString(" UNION ALL ") +
        ") ORDER BY score_fp, candidate")),

    // Golden-record consolidation (the MDM survivorship pattern):
    // duplicate records per entity merge COLUMN-WISE under per-column
    // rules rather than row-wise latest-wins (core_dedupe_keep_latest
    // is the row form) — latest-wins for the categorical state,
    // greatest for the numeric, earliest for lineage, counts for
    // confidence. The latest-state window and the aggregate sit on the
    // same user_id exchange; output is one golden row per entity.
    Op("core_golden_record",
      (s, d) => {
        val ev = T.eventsFp(s, d)
        val last = T.topK(ev, Seq("user_id"), Seq(desc("us"), desc("event_id")), 1)
          .select(col("user_id"), col("event_type").as("last_type"))
        val agg = ev.groupBy("user_id").agg(
          min("us").as("first_seen_us"),
          max("us").as("last_seen_us"),
          max("v").as("best_value_fp"),
          countDistinct("event_type").as("n_distinct_types"),
          count(lit(1)).as("n_records"))
        agg.join(last, "user_id")
          .select("user_id", "last_type", "first_seen_us", "last_seen_us",
            "best_value_fp", "n_distinct_types", "n_records")
          .orderBy("user_id")
      },
      Some("WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us, " +
        "CAST(floor(value * 1000000) AS BIGINT) AS v FROM events), " +
        "lt AS (SELECT user_id, event_type AS last_type FROM (" +
        "SELECT user_id, event_type, row_number() OVER (PARTITION BY user_id " +
        "ORDER BY us DESC, event_id DESC) AS rn FROM ev) WHERE rn = 1), " +
        "ag AS (SELECT user_id, min(us) AS first_seen_us, max(us) AS last_seen_us, " +
        "max(v) AS best_value_fp, " +
        "CAST(count(DISTINCT event_type) AS BIGINT) AS n_distinct_types, " +
        "count(*) AS n_records FROM ev GROUP BY 1) " +
        "SELECT ag.user_id, lt.last_type, ag.first_seen_us, ag.last_seen_us, " +
        "ag.best_value_fp, ag.n_distinct_types, ag.n_records " +
        "FROM ag JOIN lt USING (user_id) ORDER BY ag.user_id")),

    // k-anonymity audit over a quasi-identifier set — the privacy
    // companion to pii_scrub/column_mask/erasure: group rows by the
    // QI columns (here (mktsegment, nationkey) on customer), measure
    // equivalence-class sizes, and report the re-identification
    // surface: rows in classes smaller than k=5, bucketed class-size
    // mass, and the risk share in ppm. One map-side-combinable groupBy
    // on the QI key; everything after touches |classes| rows. The QI
    // histogram is the artifact you check BEFORE releasing a dataset
    // cut — generalize/suppress until k1/k2_4 mass is acceptable.
    Op("core_kanonymity_audit",
      (s, d) => T.t(s, d, "customer")
        .groupBy("c_mktsegment", "c_nationkey").agg(count(lit(1)).as("k"))
        .agg(
          sum("k").as("n_rows"),
          count(lit(1)).as("n_classes"),
          min("k").as("min_k"),
          expr("CAST(coalesce(sum(CASE WHEN k = 1 THEN k END), 0) AS BIGINT)").as("k1_rows"),
          expr("CAST(coalesce(sum(CASE WHEN k BETWEEN 2 AND 4 THEN k END), 0) AS BIGINT)").as("k2_4_rows"),
          expr("CAST(coalesce(sum(CASE WHEN k >= 5 THEN k END), 0) AS BIGINT)").as("k5p_rows"))
        .withColumn("risk_ppm", expr(
          "CAST(CAST(k1_rows + k2_4_rows AS DECIMAL(38,0)) * 1000000 " +
            "div greatest(1, n_rows) AS BIGINT)")),
      Some("WITH cls AS (SELECT c_mktsegment, c_nationkey, count(*) AS k " +
        "FROM customer GROUP BY 1, 2) " +
        "SELECT CAST(sum(k) AS BIGINT) AS n_rows, count(*) AS n_classes, " +
        "CAST(min(k) AS BIGINT) AS min_k, " +
        "CAST(coalesce(sum(CASE WHEN k = 1 THEN k END), 0) AS BIGINT) AS k1_rows, " +
        "CAST(coalesce(sum(CASE WHEN k BETWEEN 2 AND 4 THEN k END), 0) AS BIGINT) AS k2_4_rows, " +
        "CAST(coalesce(sum(CASE WHEN k >= 5 THEN k END), 0) AS BIGINT) AS k5p_rows, " +
        "CAST(CAST(coalesce(sum(CASE WHEN k = 1 THEN k END), 0) + " +
        "coalesce(sum(CASE WHEN k BETWEEN 2 AND 4 THEN k END), 0) AS HUGEINT) * 1000000 " +
        "// greatest(1, CAST(sum(k) AS BIGINT)) AS BIGINT) AS risk_ppm FROM cls")),

    // Run-log lineage introspection — the DataBlockLog query surface a
    // pipeline operator reads every morning: drive a TWO-stage
    // incremental pipeline three epochs each, then report per stage the
    // run count, last run, high-watermark, total and last-run rows
    // consumed, straight off the persistent RunLog. The log is one row
    // per (stage, run) however large the data; the report is a tiny
    // aggregate over it.
    Op("core_runlog_report",
      (s, d) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft_runlog_").toString
        val orders = T.t(s, d, "orders")
        val lines = T.t(s, d, "lineitem")
        def epoch(cut: Option[Long]): Unit = {
          val env = new graft.api.Environment(s)
          val of = cut.map(c => orders.where(col("o_orderkey") < c)).getOrElse(orders)
          val lf = cut.map(c => lines.where(col("l_orderkey") < c)).getOrElse(lines)
          env.addSource("raw_orders", of)
          env.addSource("raw_lines", lf)
          env.addNode1("clean", "raw_orders")(
            _.select("o_orderkey", "o_custkey", "o_totalprice"))
          env.addNode1("enrich", "raw_lines")(
            _.select("l_orderkey", "l_quantity", "l_extendedprice"))
          env.runIncremental("clean", "o_orderkey", s"$tmp/state", s"$tmp/out_c"): Unit
          env.runIncremental("enrich", "l_orderkey", s"$tmp/state", s"$tmp/out_e"): Unit
        }
        epoch(Some(1000L)); epoch(Some(3000L)); epoch(None)
        graft.api.RunLog.read(s, s"$tmp/state")
          .groupBy("stage").agg(
            count(lit(1)).as("n_runs"),
            max("run_seq").as("last_run"),
            max("watermark").as("last_watermark"),
            sum("rows_consumed").as("total_rows"),
            expr("max_by(rows_consumed, run_seq)").as("last_rows"))
          .orderBy("stage")
      },
      Some("SELECT 'clean' AS stage, CAST(3 AS BIGINT) AS n_runs, CAST(3 AS BIGINT) AS last_run, " +
        "(SELECT max(o_orderkey) FROM orders) AS last_watermark, " +
        "(SELECT count(*) FROM orders) AS total_rows, " +
        "(SELECT count(*) FROM orders WHERE o_orderkey >= 3000) AS last_rows " +
        "UNION ALL SELECT 'enrich', 3, 3, (SELECT max(l_orderkey) FROM lineitem), " +
        "(SELECT count(*) FROM lineitem), " +
        "(SELECT count(*) FROM lineitem WHERE l_orderkey >= 3000) " +
        "ORDER BY stage")),

    // Subject-access export (GDPR Art. 15 companion to the erasure
    // rewrite / k-anonymity audit): for a set of data subjects, count
    // every row that references them across the star schema — customer
    // directly, orders by custkey, lineitem through its order. The
    // subject set is tiny and broadcasts; lineitem resolves via a
    // broadcast semi-join on the subjects' order keys, never a fact
    // shuffle.
    Op("core_subject_access_export",
      (s, d) => {
        val keys = Seq(1L, 2L, 3L, 4L, 5L)
        val cust = T.t(s, d, "customer").where(col("c_custkey").isin(keys: _*))
          .groupBy(col("c_custkey").as("subject_key"))
          .agg(count(lit(1)).as("n_rows"))
          .select(lit("customer").as("table_name"), col("subject_key"), col("n_rows"))
        val ord = T.t(s, d, "orders").where(col("o_custkey").isin(keys: _*))
        val ordCnt = ord.groupBy(col("o_custkey").as("subject_key"))
          .agg(count(lit(1)).as("n_rows"))
          .select(lit("orders").as("table_name"), col("subject_key"), col("n_rows"))
        val li = T.t(s, d, "lineitem")
          .join(broadcast(ord.select(col("o_orderkey"), col("o_custkey"))),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey").as("subject_key"))
          .agg(count(lit(1)).as("n_rows"))
          .select(lit("lineitem").as("table_name"), col("subject_key"), col("n_rows"))
        cust.unionByName(ordCnt).unionByName(li)
          .orderBy("table_name", "subject_key")
      },
      Some("SELECT 'customer' AS table_name, c_custkey AS subject_key, count(*) AS n_rows " +
        "FROM customer WHERE c_custkey IN (1, 2, 3, 4, 5) GROUP BY 2 " +
        "UNION ALL SELECT 'orders', o_custkey, count(*) FROM orders " +
        "WHERE o_custkey IN (1, 2, 3, 4, 5) GROUP BY 2 " +
        "UNION ALL SELECT 'lineitem', o_custkey, count(*) FROM lineitem " +
        "JOIN orders ON l_orderkey = o_orderkey WHERE o_custkey IN (1, 2, 3, 4, 5) GROUP BY 2 " +
        "ORDER BY table_name, subject_key")),

    // Schema drift report — the morning-after check when an upstream
    // team ships a new snapshot: diff two written generations' parquet
    // schemas (metadata-only — no data is read) into added / removed /
    // type_changed / unchanged rows. The diff itself is driver-side
    // over the two StructTypes, which are configuration-sized whatever
    // the table holds.
    Op("core_schema_drift_report",
      (s, d) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft_drift_").toString
        val o = T.t(s, d, "orders").limit(100)
        o.select("o_orderkey", "o_custkey", "o_totalprice")
          .write.mode("overwrite").parquet(s"$tmp/a")
        o.select(col("o_orderkey"),
            col("o_totalprice").cast("decimal(12,2)").as("o_totalprice"),
            lit(1996).cast("int").as("o_year"))
          .write.mode("overwrite").parquet(s"$tmp/b")
        val a = s.read.parquet(s"$tmp/a").schema
          .fields.map(f => f.name -> f.dataType.simpleString).toMap
        val b = s.read.parquet(s"$tmp/b").schema
          .fields.map(f => f.name -> f.dataType.simpleString).toMap
        import s.implicits._
        (a.keySet ++ b.keySet).toSeq.sorted.map { c =>
          val (ta, tb) = (a.get(c), b.get(c))
          val status =
            if (ta.isEmpty) "added"
            else if (tb.isEmpty) "removed"
            else if (ta == tb) "unchanged" else "type_changed"
          (c, status, ta.orNull, tb.orNull)
        }.toDF("column", "status", "type_a", "type_b").orderBy("column")
      },
      Some("SELECT * FROM (VALUES " +
        "('o_custkey', 'removed', 'bigint', NULL), " +
        "('o_orderkey', 'unchanged', 'bigint', 'bigint'), " +
        "('o_totalprice', 'type_changed', 'double', 'decimal(12,2)'), " +
        "('o_year', 'added', NULL, 'int')) " +
        "AS t(\"column\", status, type_a, type_b) ORDER BY \"column\"")),

    // Seeded differentially-private noisy counts — the release side of
    // the privacy family (mask/k-anonymity/erasure/export): per-segment
    // counts plus discrete Laplace(1/eps) noise drawn from a 41-point
    // inverse-CDF table. The table is computed ONCE in Scala and
    // inlined as the SAME literal array into the Spark plan and the
    // oracle SQL, and the per-group draw is a small-domain LCG in plain
    // BIGINT (no overflow, no cross-engine transcendental parity to
    // trust). Deterministic-by-seed is exactly how a DP release is made
    // reproducible for audit.
    Op("core_dp_noisy_counts",
      (s, d) => {
        val eps = 1.0
        val table = (0 until 41).map { i =>
          val u = (i + 0.5) / 41.0 - 0.5
          Math.round(-1.0 / eps * Math.signum(u) * Math.log(1.0 - 2.0 * Math.abs(u)))
        }
        val seed = 20260815L
        val idx = s"pmod(CAST(ascii(substring(c_mktsegment, 1, 1)) * 256 + " +
          s"length(c_mktsegment) AS BIGINT) * 1103515245 + $seed, 41)"
        T.t(s, d, "customer")
          .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
          .select(col("c_mktsegment"),
            expr(s"CAST(n + element_at(array(${table.mkString(", ")}), " +
              s"CAST($idx AS INT) + 1) AS BIGINT)").as("noisy_count"),
            lit(1000000L).as("epsilon_ppm"))
          .orderBy("c_mktsegment")
      },
      {
        val eps = 1.0
        val table = (0 until 41).map { i =>
          val u = (i + 0.5) / 41.0 - 0.5
          Math.round(-1.0 / eps * Math.signum(u) * Math.log(1.0 - 2.0 * Math.abs(u)))
        }
        val idx = "((ascii(substr(c_mktsegment, 1, 1)) * 256 + " +
          "length(c_mktsegment)) * 1103515245 + 20260815) % 41"
        Some("SELECT c_mktsegment, " +
          s"CAST(count(*) + ([${table.mkString(", ")}])[CAST($idx AS INTEGER) + 1] AS BIGINT) " +
          "AS noisy_count, CAST(1000000 AS BIGINT) AS epsilon_ppm " +
          "FROM customer GROUP BY 1 ORDER BY 1")
      })
  )
}
