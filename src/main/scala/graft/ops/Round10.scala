package graft.ops

import graft.{Op, Tables => T}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round 10: the MERGE SQL surface over the upsert store, sketch-merged
  * DAU/MAU, run-log lineage introspection, the webhook module ops, and
  * the near-dup pruning audit.
  */
object Round10 {

  val ops: Seq[Op] = Seq(

    // The UpsertStore driven through SQL TEXT: the same three-batch CDC
    // scenario as core_upsert_store, but each batch applies via a
    // `MERGE INTO ... WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED
    // THEN INSERT *` statement (MergeSql — the Delta/Iceberg-shaped
    // entry point, with LATEST BY naming the in-batch version
    // arbiter). Same declarative oracle as the programmatic op, so the
    // SQL path and the API path sit on the same correctness gate; a
    // spec additionally pins them equal row-for-row.
    Op("core_merge_sql",
      (s, d) => {
        val dir = s"target/tmp/merge_sql_${java.util.UUID.randomUUID().toString.take(8)}"
        val t = T.t(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
          .withColumn("b", pmod(col("o_orderkey"), lit(3)))
        (0 to 2).foreach { b =>
          t.where(col("b") === b).drop("b")
            .createOrReplaceTempView(s"graft_merge_src_$b")
          graft.api.MergeSql.run(s,
            s"MERGE INTO '$dir' AS t USING graft_merge_src_$b AS s " +
              "ON t.o_custkey = s.o_custkey LATEST BY o_orderkey " +
              "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
            nBuckets = 8, batchId = Some(s"b$b")): Unit
        }
        val got = graft.api.MergeSql.readTarget(s, dir).localCheckpoint()
        graft.api.StoreIO.delete(s, dir)
        got.orderBy("o_custkey")
      },
      Some("WITH t AS (SELECT o_custkey, o_orderkey, o_totalprice, o_orderkey % 3 AS b FROM orders), " +
        "m AS (SELECT o_custkey, max(b) AS mb FROM t GROUP BY 1), " +
        "f AS (SELECT t.o_custkey, t.o_orderkey, t.o_totalprice, " +
        "row_number() OVER (PARTITION BY t.o_custkey ORDER BY t.o_orderkey DESC) AS rn " +
        "FROM t JOIN m ON t.o_custkey = m.o_custkey AND t.b = m.mb) " +
        "SELECT o_custkey, o_orderkey, o_totalprice FROM f WHERE rn = 1 ORDER BY o_custkey")),

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

    // Webhook module, op 1: envelope verify + parse. Real BinaryType-free
    // but real-crypto path: the signature is lowercase-hex SHA-256 over
    // payload || secret, and the per-group min(signature) column forces
    // BOTH engines to hash every payload — a digest drift anywhere
    // breaks the compare. One codegen projection + one map-side-combined
    // aggregate.
    Op("mod_webhook_parse",
      (s, d) => graft.api.WebhookModule.parse(graft.api.WebhookModule.deliveries(s, d))
        .groupBy("event", "sig_ok").agg(
          count(lit(1)).as("n_deliveries"),
          sum("amount_cents").as("amount_cents_sum"),
          min("signature").as("min_sig"))
        .orderBy("event", "sig_ok"),
      Some(oDeliveries +
        " SELECT event, sig_ok, count(*) AS n_deliveries, " +
        "CAST(sum(amount_cents) AS BIGINT) AS amount_cents_sum, " +
        "min(signature) AS min_sig " +
        "FROM del GROUP BY 1, 2 ORDER BY 1, 2")),

    // Webhook module, op 2: at-least-once replay dedup — providers
    // retry, retries share event_key — keep the FIRST valid delivery
    // per event (min delivery_id among signature-verified rows), then
    // report per event type. One keyed exchange on event_key.
    Op("mod_webhook_replay_dedup",
      (s, d) => graft.api.WebhookModule.dedupeReplays(
          graft.api.WebhookModule.parse(graft.api.WebhookModule.deliveries(s, d))
            .where(col("sig_ok")))
        .groupBy("event").agg(
          count(lit(1)).as("n_events"),
          sum("amount_cents").as("amount_cents_sum"))
        .orderBy("event"),
      Some(oDeliveries + ", first AS (SELECT * FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY event_key ORDER BY delivery_id) AS rn " +
        "FROM del WHERE sig_ok) WHERE rn = 1) " +
        "SELECT event, count(*) AS n_events, " +
        "CAST(sum(amount_cents) AS BIGINT) AS amount_cents_sum " +
        "FROM first GROUP BY 1 ORDER BY 1")),

    // Pruning audit for the ball-pruned embedding near-dup: the match
    // count (same pair semantics as llm_embedding_neardup's oracle),
    // the label-blocked baseline pair count it replaced (straight off
    // the label histogram — sum n*(n-1)/2, no pair generation), and a
    // boolean pinning that cell-pruned candidate generation never
    // examines MORE pairs than the baseline. Recall needs no audit
    // column: the pruning is exact by the triangle inequality, and the
    // neardup op's own oracle is the label-blocked ground truth.
    Op("llm_neardup_prune_audit",
      (s, d) => {
        // one streaming aggregate over the LAZY candidate pipeline — never
        // materialize the pair frame (at 20x it is ~20M rows x 128 floats)
        val cand = LlmOps.neardupCellCandidates(s, d)
        val counts = cand.agg(
          count(lit(1)).as("n_candidates"),
          sum(when(expr(s"cosine_sim(e1, e2) >= ${LlmOps.neardupThr}"), 1L)
            .otherwise(0L)).as("n_matches"))
        val baseline = T.t(s, d, "embeddings")
          .groupBy("label").agg(count(lit(1)).as("n"))
          .agg(sum(expr("n * (n - 1) div 2")).as("n_label_pairs"))
        counts.crossJoin(broadcast(baseline))
          .select(col("n_label_pairs"), col("n_matches"),
            (col("n_candidates") <= col("n_label_pairs")).as("pruned_bounded"))
      },
      Some("WITH lp AS (SELECT CAST(sum(n * (n - 1) // 2) AS BIGINT) AS n_label_pairs " +
        "FROM (SELECT count(*) AS n FROM embeddings GROUP BY label)), " +
        "m AS (SELECT count(*) AS n_matches FROM (" +
        "SELECT x.vec_id FROM embeddings x JOIN embeddings y " +
        "ON x.label = y.label AND x.vec_id < y.vec_id " +
        s"WHERE ${LlmOps.oSim("x.embedding", "y.embedding")} >= ${LlmOps.neardupThr})) " +
        "SELECT n_label_pairs, CAST(n_matches AS BIGINT) AS n_matches, " +
        "true AS pruned_bounded FROM lp, m")),

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
        val ev = eventsFp(s, d)
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
        "FROM r GROUP BY 1 ORDER BY 1")),

    // URL canonicalization dedup — the first stage of every web-corpus
    // pipeline: raw crawl URLs vary in scheme/host case, tracking
    // queries and trailing slashes; canonicalize (lowercase, strip
    // query/fragment, strip trailing '/' — the policy is deliberately
    // aggressive and stated, the generated variants only vary where it
    // is lossless) and report the duplicate-group-size histogram. Two
    // map-side-combined aggregates; the canonical key is a pure codegen
    // regexp chain, no UDF.
    Op("llm_dedup_url",
      (s, d) => T.t(s, d, "documents")
        .withColumn("url", expr(
          "concat(CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTPS://' END, " +
            "CASE WHEN doc_id % 3 = 0 THEN 'WWW.Example.COM' ELSE 'www.example.com' END, " +
            "'/item/', CAST(doc_id div 4 AS STRING), " +
            "CASE WHEN doc_id % 5 = 0 THEN '/?utm_campaign=x&ref=a' " +
            "WHEN doc_id % 5 = 1 THEN '?utm_source=y' ELSE '' END)"))
        .withColumn("canon", expr(
          "regexp_replace(regexp_replace(lower(url), '[?#].*$', ''), '/+$', '')"))
        .groupBy("canon").agg(count(lit(1)).as("group_size"))
        .groupBy("group_size").agg(count(lit(1)).as("n_groups"))
        .orderBy("group_size"),
      Some("WITH u AS (SELECT concat(" +
        "CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTPS://' END, " +
        "CASE WHEN doc_id % 3 = 0 THEN 'WWW.Example.COM' ELSE 'www.example.com' END, " +
        "'/item/', CAST(doc_id // 4 AS VARCHAR), " +
        "CASE WHEN doc_id % 5 = 0 THEN '/?utm_campaign=x&ref=a' " +
        "WHEN doc_id % 5 = 1 THEN '?utm_source=y' ELSE '' END) AS url FROM documents), " +
        "c AS (SELECT regexp_replace(regexp_replace(lower(url), '[?#].*$', ''), '/+$', '') AS canon FROM u), " +
        "g AS (SELECT canon, count(*) AS group_size FROM c GROUP BY 1) " +
        "SELECT group_size, count(*) AS n_groups FROM g GROUP BY 1 ORDER BY 1")),

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

    // Customer revenue deciles — the second DistOrder consumer: exact
    // ntile(10) over (revenue desc, custkey) without a global window
    // (bucketed parallel rank + codegen decile CASE), reporting size
    // and revenue mass per decile. The concentration read finance asks
    // for weekly, shaped to survive 1e9 customers.
    Op("rel_customer_deciles",
      (s, d) => {
        val rev = T.t(s, d, "orders")
          .groupBy("o_custkey")
          .agg(expr("sum(CAST(floor(o_totalprice * 100) AS BIGINT))").as("r"))
        val rk = graft.api.DistOrder.rankCum(rev,
          -col("r"), Seq(desc("r"), col("o_custkey")))
        rk.df.withColumn("decile", graft.api.DistOrder.ntileOf("rn", rk.n, 10))
          .groupBy("decile").agg(
            count(lit(1)).as("n_customers"),
            expr("CAST(sum(r) AS BIGINT)").as("revenue_cents"))
          .orderBy("decile")
      },
      Some("WITH rev AS (SELECT o_custkey, " +
        "CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS r " +
        "FROM orders GROUP BY 1), " +
        "t AS (SELECT r, CAST(ntile(10) OVER (ORDER BY r DESC, o_custkey) AS INTEGER) AS decile FROM rev) " +
        "SELECT decile, count(*) AS n_customers, CAST(sum(r) AS BIGINT) AS revenue_cents " +
        "FROM t GROUP BY 1 ORDER BY 1")),

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

    // The second mutation-SQL verb: DELETE FROM '<dir>' WHERE <pred>
    // against the upsert store (the GDPR-erasure / retention-sweep
    // shape as SQL text). Builds the store through one MERGE, deletes
    // a customer slice, reads back — per-bucket rewrite of only the
    // buckets holding matches, under lease + ledger, every promotion
    // an atomic swap.
    Op("core_delete_sql",
      (s, d) => {
        val dir = s"target/tmp/delete_sql_${java.util.UUID.randomUUID().toString.take(8)}"
        T.t(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
          .createOrReplaceTempView("graft_delete_src")
        graft.api.MergeSql.run(s,
          s"MERGE INTO '$dir' USING graft_delete_src ON t.o_custkey = s.o_custkey " +
            "LATEST BY o_orderkey WHEN MATCHED THEN UPDATE SET * " +
            "WHEN NOT MATCHED THEN INSERT *",
          nBuckets = 8, batchId = Some("seed")): Unit
        graft.api.MergeSql.runDelete(s,
          s"DELETE FROM '$dir' WHERE o_custkey % 10 = 3", batchId = Some("del")): Unit
        val got = graft.api.MergeSql.readTarget(s, dir).localCheckpoint()
        graft.api.StoreIO.delete(s, dir)
        got.orderBy("o_custkey")
      },
      Some("WITH f AS (SELECT o_custkey, o_orderkey, o_totalprice, " +
        "row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn " +
        "FROM orders) " +
        "SELECT o_custkey, o_orderkey, o_totalprice FROM f " +
        "WHERE rn = 1 AND o_custkey % 10 <> 3 ORDER BY o_custkey")),

    // EXACT global percentiles of a FACT-cardinality column (p50/p90/
    // p99/p99.9 of lineitem extended price, 1e-2 fixed point) — the
    // DistOrder flagship: where rfm/pareto rank customer AGGREGATES,
    // this ranks the fact table itself, and still plans with zero
    // global windows (bucketed parallel rank; cut ranks are exact
    // ceil(p*n) literals; a broadcast join fans one ranked row out per
    // requested percentile, so coinciding cuts at tiny n behave
    // identically on both engines).
    Op("rel_global_percentiles",
      (s, d) => {
        val v = T.t(s, d, "lineitem").select(
          expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("cents"),
          col("l_orderkey"), col("l_linenumber"))
        val bps = Seq(5000, 9000, 9900, 9990)
        def cutsOf(n: Long) = bps.map(bp => (n * bp + 9999L) / 10000L)
        // exact k-selection: only the buckets containing a cut rank are
        // ever sorted — a few /64ths of the fact table, not all of it
        val (rows, n) = graft.api.DistOrder.selectRanks(v, col("cents"),
          Seq(col("cents").asc, col("l_orderkey"), col("l_linenumber")),
          cutsOf)
        import s.implicits._
        val cuts = bps.map(bp => (bp, (n * bp + 9999L) / 10000L))
          .toDF("pct_bp", "cut")
        rows.join(broadcast(cuts), col("rn") === col("cut"))
          .select(col("pct_bp"), col("cents").as("value_cents"))
          .orderBy("pct_bp")
      },
      Some("WITH v AS (SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents, " +
        "l_orderkey, l_linenumber FROM lineitem), " +
        "t AS (SELECT cents, row_number() OVER (ORDER BY cents, l_orderkey, l_linenumber) AS rn, " +
        "count(*) OVER () AS n FROM v), " +
        "c AS (SELECT unnest([5000, 9000, 9900, 9990]) AS pct_bp) " +
        "SELECT c.pct_bp, t.cents AS value_cents FROM t JOIN c " +
        "ON t.rn = (t.n * c.pct_bp + 9999) // 10000 ORDER BY pct_bp")),

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

    // CDC TOMBSTONES through the MERGE surface: the source carries a
    // change-op flag and the statement's `WHEN MATCHED AND op = 'D'
    // THEN DELETE` clause (the third standard MERGE clause) removes a
    // key whose LATEST change is a delete — the Debezium-feed shape
    // applied in one statement. Version arbitration runs BEFORE the
    // tombstone split, so a delete superseded by a later update in the
    // same batch correctly upserts.
    Op("core_merge_tombstones",
      (s, d) => {
        val dir = s"target/tmp/merge_cdc_${java.util.UUID.randomUUID().toString.take(8)}"
        T.t(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
            expr("CASE WHEN o_orderkey % 7 = 2 THEN 'D' ELSE 'U' END").as("op"))
          .createOrReplaceTempView("graft_merge_cdc_src")
        graft.api.MergeSql.run(s,
          s"MERGE INTO '$dir' USING graft_merge_cdc_src " +
            "ON t.o_custkey = s.o_custkey LATEST BY o_orderkey " +
            "WHEN MATCHED AND op = 'D' THEN DELETE " +
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
          nBuckets = 8, batchId = Some("cdc")): Unit
        val got = graft.api.MergeSql.readTarget(s, dir).localCheckpoint()
        graft.api.StoreIO.delete(s, dir)
        got.orderBy("o_custkey")
      },
      Some("WITH f AS (SELECT o_custkey, o_orderkey, o_totalprice, " +
        "CASE WHEN o_orderkey % 7 = 2 THEN 'D' ELSE 'U' END AS op, " +
        "row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn " +
        "FROM orders) " +
        "SELECT o_custkey, o_orderkey, o_totalprice, op FROM f " +
        "WHERE rn = 1 AND op <> 'D' ORDER BY o_custkey")),

    // Store RE-BUCKETING mid-stream: batch 0 lands in a 4-bucket store,
    // the store re-buckets to 16 (offline staged rebuild + ONE atomic
    // root swap, ledger carried over), batch 0 REPLAYS (must be a no-op
    // against the carried ledger), then batches 1 and 2 merge under the
    // new modulus. The final table must equal the plain three-batch
    // semantics — bucket count is an implementation detail the oracle
    // never sees, and this op pins that it stays one.
    Op("core_store_rebucket",
      (s, d) => {
        val dir = s"target/tmp/rebucket_${java.util.UUID.randomUUID().toString.take(8)}"
        val t = T.t(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
          .withColumn("b", pmod(col("o_orderkey"), lit(3)))
        def batch(b: Int, id: String): Unit =
          graft.api.UpsertStore.update(
            t.where(col("b") === b).drop("b"), dir, "o_custkey", "o_orderkey",
            nBuckets = 4, batchId = Some(id)): Unit
        batch(0, "b0")
        graft.api.UpsertStore.rebucket(s, dir, "o_custkey", 16)
        batch(0, "b0") // replay across the rebucket: ledger carried, no-op
        batch(1, "b1"); batch(2, "b2")
        val got = graft.api.UpsertStore.read(s, dir).localCheckpoint()
        graft.api.StoreIO.delete(s, dir)
        graft.api.StoreIO.delete(s, s"$dir-old") // root-swap retiree, if any
        got.orderBy("o_custkey")
      },
      Some("WITH t AS (SELECT o_custkey, o_orderkey, o_totalprice, o_orderkey % 3 AS b FROM orders), " +
        "m AS (SELECT o_custkey, max(b) AS mb FROM t GROUP BY 1), " +
        "f AS (SELECT t.o_custkey, t.o_orderkey, t.o_totalprice, " +
        "row_number() OVER (PARTITION BY t.o_custkey ORDER BY t.o_orderkey DESC) AS rn " +
        "FROM t JOIN m ON t.o_custkey = m.o_custkey AND t.b = m.mb) " +
        "SELECT o_custkey, o_orderkey, o_totalprice FROM f WHERE rn = 1 ORDER BY o_custkey")),

    // Store bucket-layout introspection — the read that MOTIVATES
    // core_store_rebucket: per-bucket row counts off the store's own
    // layout (one path-pruned scan with a file-to-bucket map, no key
    // rehash), reporting bucket count, total rows and a skew verdict
    // (max bucket <= 3x uniform share — xxhash64 routing keeps this
    // comfortably true for key counts >> buckets). The layout numbers
    // are engine-side; the oracle pins the data-derived columns and the
    // shipped verdict, the rel_agg_sketch_hll pattern.
    Op("core_store_stats",
      (s, d) => {
        val dir = s"target/tmp/store_stats_${java.util.UUID.randomUUID().toString.take(8)}"
        graft.api.UpsertStore.update(
          T.t(s, d, "orders").select(col("o_custkey"), col("o_orderkey")),
          dir, "o_custkey", "o_orderkey", nBuckets = 16, batchId = Some("seed")): Unit
        val perBucket = graft.api.UpsertStore.bucketCounts(s, dir)
        val rows = perBucket.map(_._2).sum
        val maxB = if (perBucket.isEmpty) 0L else perBucket.map(_._2).max
        graft.api.StoreIO.delete(s, dir)
        import s.implicits._
        Seq((16, rows, maxB * 16 <= rows * 3))
          .toDF("n_buckets", "rows_total", "skew_ok")
      },
      Some("SELECT CAST(16 AS INTEGER) AS n_buckets, " +
        "(SELECT count(DISTINCT o_custkey) FROM orders) AS rows_total, " +
        "true AS skew_ok")),

    // As-of query over the SCD2 dimension (the read side of core_scd2):
    // each user's state at the corpus-midpoint instant — the row whose
    // validity interval covers T. The probe instant is integer
    // epoch-micros math both engines replay; the dimension filter is a
    // plain codegen predicate, no join, no window beyond the SCD2 build
    // itself (per-user partitions).
    Op("rel_scd2_asof_query",
      (s, d) => {
        val ev = T.events(s, d)
        val midRow = ev.agg(expr(
          "(unix_micros(CAST(min(ts) AS TIMESTAMP)) + " +
            "unix_micros(CAST(max(ts) AS TIMESTAMP))) div 2").as("t"))
          .head()
        val mid = if (midRow.isNullAt(0)) 0L else midRow.getLong(0)
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val changes = ev
          .withColumn("prev_type", lag("event_type", 1).over(w))
          .where("prev_type IS NULL OR prev_type <> event_type")
          .select(col("user_id"), col("event_type"),
            col("ts").as("valid_from"), col("event_id"))
        val w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
        changes
          .withColumn("valid_to", lead("valid_from", 1).over(w2))
          .where(expr(s"unix_micros(CAST(valid_from AS TIMESTAMP)) <= $mid") &&
            expr(s"valid_to IS NULL OR unix_micros(CAST(valid_to AS TIMESTAMP)) > $mid"))
          .select("user_id", "event_type", "valid_from")
          .orderBy("user_id")
      },
      Some("WITH mid AS (SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS t FROM events), " +
        "o AS (SELECT user_id, event_type, ts, event_id, " +
        "lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type FROM events), " +
        "c AS (SELECT user_id, event_type, ts AS valid_from, event_id FROM o " +
        "WHERE prev_type IS NULL OR prev_type <> event_type), " +
        "v AS (SELECT user_id, event_type, valid_from, " +
        "lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_id) AS valid_to " +
        "FROM c) " +
        "SELECT user_id, event_type, valid_from FROM v, mid " +
        "WHERE epoch_us(valid_from) <= mid.t " +
        "AND (valid_to IS NULL OR epoch_us(valid_to) > mid.t) " +
        "ORDER BY user_id")),

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
      }),
  )

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

  /** Fixed-point event frame (same shape as Round8b's). */
  private def eventsFp(s: org.apache.spark.sql.SparkSession, d: String) =
    T.events(s, d).select(col("event_type"), col("user_id"), col("event_id"),
      expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"),
      expr("CAST(floor(value * 1000000) AS BIGINT)").as("v"))

  /** DuckDB replay of WebhookModule.deliveries: terminal CTE
    * `del(delivery_id, event_key, event, payload, amount_cents,
    * signature, sig_ok)`.
    */
  private lazy val oDeliveries: String =
    "WITH raw AS (SELECT o_orderkey AS delivery_id, o_orderkey // 2 AS event_key, " +
      "CASE WHEN o_orderstatus = 'F' THEN 'payment.settled' " +
      "WHEN o_orderstatus = 'O' THEN 'payment.created' " +
      "ELSE 'payment.pending' END AS event, " +
      "concat('{\"customer\":', CAST(o_custkey AS VARCHAR), ',\"amount_cents\":', " +
      "CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS VARCHAR), '}') AS payload, " +
      "CAST(floor(o_totalprice * 100) AS BIGINT) AS amount_cents FROM orders), " +
      "del AS (SELECT delivery_id, event_key, event, payload, amount_cents, " +
      "CASE WHEN delivery_id % 7 = 0 THEN 'deadbeef' " +
      "ELSE sha256(concat(payload, 'whsec_demo')) END AS signature, " +
      "delivery_id % 7 <> 0 AS sig_ok FROM raw)"
}
