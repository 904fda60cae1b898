package graft.ops

import graft.{Op, Tables => T}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2-C — the relational surface snapflow exposes through SQL
  * transforms (it delegates these to Postgres/SQLite; we own them natively
  * on Catalyst). All joins pick their physical strategy via Catalyst/AQE;
  * bounded dimensions are broadcast explicitly.
  */
object Relational {

  private val shipCut = "TIMESTAMP_NTZ '1998-09-02 00:00:00'"

  /** Union + carry-forward as-of join — identical logic on Spark and
    * DuckDB; the one textual delta is IGNORE NULLS placement (Spark:
    * after the call; DuckDB: inside the argument list).
    */
  private def asofSql(spark: Boolean): String = {
    def lastNN(c: String) =
      if (spark) s"last_value($c) IGNORE NULLS" else s"last_value($c IGNORE NULLS)"
    "SELECT click_id, user_id, click_ts, buy_id, buy_ts FROM (" +
      "SELECT event_id AS click_id, user_id, ts AS click_ts, is_click, " +
      s"${lastNN("b_id")} OVER w AS buy_id, " +
      s"${lastNN("b_ts")} OVER w AS buy_ts " +
      "FROM (SELECT event_id, user_id, ts, " +
      "CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_click, " +
      "CASE WHEN event_type = 'purchase' THEN event_id END AS b_id, " +
      "CASE WHEN event_type = 'purchase' THEN ts END AS b_ts " +
      "FROM events WHERE event_type IN ('click', 'purchase')) " +
      "WINDOW w AS (PARTITION BY user_id ORDER BY ts, is_click, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) " +
      "WHERE is_click = 1 ORDER BY click_id"
  }

  val ops: Seq[Op] = Seq(

    Op("rel_project_filter",
      (s, d) => T.t(s, d, "lineitem")
        .where(expr(s"l_shipdate <= $shipCut"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate")
        .orderBy("l_orderkey", "l_linenumber"),
      Some("SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate " +
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' " +
        "ORDER BY l_orderkey, l_linenumber")),

    Op("rel_join_inner_hash",
      (s, d) => {
        val o = T.t(s, d, "orders"); val c = T.t(s, d, "customer")
        o.join(c, o("o_custkey") === c("c_custkey"))
          .select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")
          .orderBy("o_orderkey")
      },
      Some("SELECT o_orderkey, o_totalprice, c_name, c_mktsegment " +
        "FROM orders JOIN customer ON o_custkey = c_custkey ORDER BY o_orderkey")),

    Op("rel_join_broadcast",
      (s, d) => {
        val n = T.t(s, d, "nation"); val r = T.t(s, d, "region")
        n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .select("n_nationkey", "n_name", "r_name")
          .orderBy("n_nationkey")
      },
      Some("SELECT n_nationkey, n_name, r_name " +
        "FROM nation JOIN region ON n_regionkey = r_regionkey ORDER BY n_nationkey")),

    // full outer with populated null sides: BUILDING customers (left-only
    // when they have no orders) vs per-customer order counts (right-only
    // for non-BUILDING customers).
    Op("rel_join_left_right_full",
      (s, d) => {
        val c = T.t(s, d, "customer").where("c_mktsegment = 'BUILDING'")
        val oa = T.t(s, d, "orders").groupBy("o_custkey")
          .agg(count(lit(1)).as("n_orders"))
        c.join(oa, c("c_custkey") === oa("o_custkey"), "full_outer")
          .select(
            coalesce(c("c_custkey"), oa("o_custkey")).as("custkey"),
            c("c_name").as("c_name"),
            oa("n_orders").as("n_orders"))
          .orderBy("custkey")
      },
      Some("SELECT COALESCE(c.c_custkey, oa.o_custkey) AS custkey, c.c_name AS c_name, " +
        "oa.n_orders AS n_orders " +
        "FROM (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING') c " +
        "FULL OUTER JOIN (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey) oa " +
        "ON c.c_custkey = oa.o_custkey ORDER BY custkey")),

    Op("rel_join_semi_anti",
      (s, d) => {
        val c = T.t(s, d, "customer"); val o = T.t(s, d, "orders")
        val semi = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .select("c_custkey", "c_name").withColumn("tag", lit("has_orders"))
        val anti = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select("c_custkey", "c_name").withColumn("tag", lit("no_orders"))
        semi.unionByName(anti).orderBy("c_custkey")
      },
      Some("SELECT c_custkey, c_name, 'has_orders' AS tag FROM customer " +
        "WHERE c_custkey IN (SELECT o_custkey FROM orders) " +
        "UNION ALL SELECT c_custkey, c_name, 'no_orders' AS tag FROM customer " +
        "WHERE c_custkey NOT IN (SELECT o_custkey FROM orders) ORDER BY c_custkey")),

    // non-equi band join against a tiny broadcast dimension.
    Op("rel_join_theta_range",
      (s, d) => {
        import s.implicits._
        val bands = Seq(
          (1, "small", 0, 9), (2, "medium", 10, 24), (3, "large", 25, 1000000))
          .toDF("band_id", "band_name", "lo", "hi")
        T.t(s, d, "part")
          .join(broadcast(bands), col("p_size") >= col("lo") && col("p_size") <= col("hi"))
          .select("p_partkey", "p_size", "band_id", "band_name")
          .orderBy("p_partkey")
      },
      Some("SELECT p_partkey, p_size, band_id, band_name FROM part JOIN " +
        "(VALUES (1, 'small', 0, 9), (2, 'medium', 10, 24), (3, 'large', 25, 1000000)) " +
        "AS b(band_id, band_name, lo, hi) ON p_size >= lo AND p_size <= hi " +
        "ORDER BY p_partkey")),

    // as-of join: each click matched to the latest purchase at-or-before
    // it for the same user. Implemented as union + sorted carry-forward
    // (one shuffle on user_id, per-key linear — the shape that survives
    // 100 TB; a per-click nested-loop emulation is quadratic per user).
    // Identical SQL text runs on both engines (SURVEY §2-G: do NOT use
    // DuckDB's native ASOF JOIN as the oracle). buy_id/buy_ts are
    // null/non-null together, so independent IGNORE NULLS carries pick
    // them from the same purchase row.
    Op("rel_join_asof",
      (s, d) => {
        T.events(s, d).createOrReplaceTempView("events")
        s.sql(asofSql(spark = true))
      },
      Some(asofSql(spark = false))),

    // Same as-of semantics through the engine's OWN Catalyst operator
    // (graft.plans.AsOfJoin: custom LogicalPlan + Strategy + merge-join
    // SparkPlan — one shuffle per side, sorted carry-forward) so the
    // DuckDB window emulation oracle-checks the custom physical plan.
    Op("rel_join_asof_native",
      (s, d) => {
        val ev = T.events(s, d)
        val clicks = ev.where("event_type = 'click'")
          .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
        val buys = ev.where("event_type = 'purchase'")
          .select(col("user_id"), col("event_id").as("buy_id"), col("ts").as("buy_ts"))
        graft.plans.AsOf.join(clicks, buys, Seq("user_id"),
            leftTs = "click_ts", rightTs = "buy_ts",
            payload = Seq("buy_id", "buy_ts"), tiebreak = Seq("buy_id"))
          .select("click_id", "user_id", "click_ts", "buy_id", "buy_ts")
          .orderBy("click_id")
      },
      Some(asofSql(spark = false))),

    // TPC-H Q1 shape; double aggregates stabilized via DECIMAL (§2-G.3).
    Op("rel_agg_hash",
      (s, d) => T.t(s, d, "lineitem")
        .where(expr(s"l_shipdate <= $shipCut"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          T.dsum(col("l_quantity")).as("sum_qty"),
          T.dsum(col("l_extendedprice")).as("sum_base_price"),
          T.dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          T.davg(col("l_quantity")).as("avg_qty"),
          T.davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("SELECT l_returnflag, l_linestatus, " +
        s"${T.oSum("l_quantity")} AS sum_qty, " +
        s"${T.oSum("l_extendedprice")} AS sum_base_price, " +
        s"${T.oSum("l_extendedprice * (1 - l_discount)")} AS sum_disc_price, " +
        s"${T.oAvg("l_quantity")} AS avg_qty, " +
        s"${T.oAvg("l_discount")} AS avg_disc, " +
        "count(*) AS count_order " +
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus")),

    Op("rel_agg_distinct",
      (s, d) => T.t(s, d, "orders").groupBy("o_orderstatus")
        .agg(countDistinct(col("o_custkey")).as("n_cust"), count(lit(1)).as("n_orders"))
        .orderBy("o_orderstatus"),
      Some("SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust, count(*) AS n_orders " +
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus")),

    // HLL estimates are engine-specific, so the estimate itself can't be
    // hash-compared — but its ERROR BOUND can: the op emits the exact
    // count plus a genuinely computed |approx-exact|/exact <= 15%
    // predicate (3x the default rsd=0.05), and the oracle asserts that
    // predicate true. A broken sketch flips the boolean and fails the
    // hash; previously this op was rows-only (CORRECTNESS_r02 no_oracle).
    Op("rel_agg_approx_distinct",
      (s, d) => T.events(s, d).groupBy("event_type")
        .agg(
          approx_count_distinct(col("user_id")).as("approx_users"),
          countDistinct(col("user_id")).as("n_users"))
        .select(col("event_type"), col("n_users"),
          (abs(col("approx_users") - col("n_users")) <=
            col("n_users") * lit(0.15)).as("approx_within_bounds"))
        .orderBy("event_type"),
      Some("SELECT event_type, count(DISTINCT user_id) AS n_users, " +
        "true AS approx_within_bounds " +
        "FROM events GROUP BY event_type ORDER BY event_type")),

    // semi-join reduction via a Bloom runtime filter built BY HAND: a
    // bloom over the high-value orders' custkeys pre-filters customer
    // before the exact join, so the join's probe side only carries rows
    // that can match (false positives merely prune less — the final
    // equi-join keeps results exact, which is why this CAN be
    // oracle-checked, unlike the sketch values themselves).
    Op("rel_join_bloom_prefilter",
      (s, d) => {
        T.t(s, d, "orders").createOrReplaceTempView("orders")
        T.t(s, d, "customer").createOrReplaceTempView("customer")
        s.sql(
          "WITH big AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_totalprice > 400000), " +
          "bf AS (SELECT bloom_agg(xxhash64(o_custkey)) AS b FROM big), " +
          "cand AS (SELECT c_custkey, c_name FROM customer " +
          "WHERE bloom_might_contain((SELECT b FROM bf), xxhash64(c_custkey))) " +
          "SELECT o_orderkey, c_custkey, c_name, o_totalprice FROM big " +
          "JOIN cand ON o_custkey = c_custkey ORDER BY o_orderkey")
      },
      Some("SELECT o_orderkey, c_custkey, c_name, o_totalprice " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "WHERE o_totalprice > 400000 ORDER BY o_orderkey")),

    // mergeable DataSketches HLL (Spark 4 native): per-group sketches
    // UNIONED into a total — the re-aggregatable form a rollup layer
    // stores (a plain approx_count_distinct cannot be merged later).
    // Sketch bytes are engine-specific, so (as in rel_agg_approx_distinct)
    // the parity check is the error-bound predicate: per-group AND
    // merged-total estimates must land within 15% of the exact counts the
    // oracle recomputes. Exercises the full sketch → union → estimate
    // path; previously rows-only (CORRECTNESS_r02 no_oracle).
    Op("rel_agg_sketch_hll",
      (s, d) => {
        val ev = T.events(s, d)
        val perType = ev.groupBy("event_type")
          .agg(expr("hll_sketch_agg(user_id)").as("sk"),
            countDistinct(col("user_id")).as("n_users"))
        val total = perType
          .agg(expr("hll_union_agg(sk)").as("sk"))
          .crossJoin(ev.agg(countDistinct(col("user_id")).as("n_users")))
          .select(lit("total").as("event_type"), col("sk"), col("n_users"))
        total.unionByName(perType.select(col("event_type"), col("sk"), col("n_users")))
          .select(col("event_type"), col("n_users"),
            (abs(expr("hll_sketch_estimate(sk)") - col("n_users")) <=
              col("n_users") * lit(0.15)).as("approx_within_bounds"))
          .orderBy("event_type")
      },
      Some("SELECT event_type, n_users, true AS approx_within_bounds FROM (" +
        "SELECT 'total' AS event_type, count(DISTINCT user_id) AS n_users FROM events " +
        "UNION ALL SELECT event_type, count(DISTINCT user_id) FROM events GROUP BY event_type" +
        ") ORDER BY event_type")),

    // rollup with a manually derived grouping id (identical CASE on both
    // sides; avoids engine-specific GROUPING_ID bit layouts).
    Op("rel_grouping_sets",
      (s, d) => T.t(s, d, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), T.dsum(col("o_totalprice")).as("sum_price"))
        .withColumn("gid",
          when(col("o_orderstatus").isNull, 2).otherwise(0) +
          when(col("o_orderpriority").isNull, 1).otherwise(0))
        .orderBy("gid", "o_orderstatus", "o_orderpriority"),
      Some("SELECT o_orderstatus, o_orderpriority, n, sum_price, gid FROM (" +
        "SELECT o_orderstatus, o_orderpriority, count(*) AS n, " +
        s"${T.oSum("o_totalprice")} AS sum_price, " +
        "(CASE WHEN o_orderstatus IS NULL THEN 2 ELSE 0 END + " +
        "CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS gid " +
        "FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)) " +
        "ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST")),

    Op("rel_window_rank",
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        T.t(s, d, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
          .withColumn("rk", rank().over(w))
          .withColumn("drk", dense_rank().over(w))
          .withColumn("rn", row_number().over(w))
          .where("rn <= 3").orderBy("o_custkey", "rn")
      },
      Some("SELECT o_custkey, o_orderkey, o_totalprice, CAST(rk AS INTEGER) AS rk, " +
        "CAST(drk AS INTEGER) AS drk, CAST(rn AS INTEGER) AS rn FROM (" +
        "SELECT o_custkey, o_orderkey, o_totalprice, rank() OVER w AS rk, " +
        "dense_rank() OVER w AS drk, row_number() OVER w AS rn FROM orders " +
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)) " +
        "WHERE rn <= 3 ORDER BY o_custkey, rn")),

    Op("rel_window_analytic",
      (s, d) => {
        val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
        val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        T.t(s, d, "orders")
          .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
          .withColumn("prev_price", lag("o_totalprice", 1).over(w))
          .withColumn("next_price", lead("o_totalprice", 1).over(w))
          .withColumn("first_price", first("o_totalprice").over(cum))
          .withColumn("run_sum",
            round(sum(col("o_totalprice").cast(DecimalType(18, 4))).over(cum), 2)
              .cast(DoubleType))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice, " +
        "lag(o_totalprice, 1) OVER w AS prev_price, " +
        "lead(o_totalprice, 1) OVER w AS next_price, " +
        "first_value(o_totalprice) OVER wc AS first_price, " +
        "CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER wc, 2) AS DOUBLE) AS run_sum " +
        "FROM orders WINDOW " +
        "w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), " +
        "wc AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "ORDER BY o_custkey, o_orderkey")),

    // RANGE window frame over event time: peers at the same date are all
    // included, so no tiebreak is needed for determinism.
    Op("rel_window_range",
      (s, d) => {
        T.t(s, d, "orders").createOrReplaceTempView("orders")
        s.sql("SELECT o_custkey, o_orderkey, o_orderdate, " +
          "CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (" +
          "PARTITION BY o_custkey ORDER BY o_orderdate " +
          "RANGE BETWEEN INTERVAL 90 DAYS PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS sum_90d " +
          "FROM orders ORDER BY o_custkey, o_orderkey")
      },
      Some("SELECT o_custkey, o_orderkey, o_orderdate, " +
        "CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (" +
        "PARTITION BY o_custkey ORDER BY o_orderdate " +
        "RANGE BETWEEN INTERVAL 90 DAYS PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS sum_90d " +
        "FROM orders ORDER BY o_custkey, o_orderkey")),

    // top-k per group via the bounded TopKAggregator (map-side partial
    // top-k: the shuffle carries ≤ k rows per group per mapper instead
    // of the whole table — contrast rel_window_rank, which sorts every
    // row). Oracle is the equivalent window formulation.
    Op("rel_topk_per_group",
      (s, d) => {
        val topk = graft.functions.TopKAggregator.topK(3)
        T.t(s, d, "orders")
          .groupBy("o_custkey")
          .agg(topk(col("o_totalprice"), col("o_orderkey")).as("top"))
          .select(col("o_custkey"), posexplode(col("top")))
          .select(col("o_custkey"), (col("pos") + 1).cast("int").as("rn"),
            col("col.id").as("o_orderkey"), col("col.v").as("o_totalprice"))
          .orderBy("o_custkey", "rn")
      },
      Some("SELECT o_custkey, CAST(rn AS INTEGER) AS rn, o_orderkey, o_totalprice FROM (" +
        "SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (" +
        "PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) " +
        "WHERE rn <= 3 ORDER BY o_custkey, rn")),

    // nearest as-of through the custom operator: closer of the backward /
    // forward match, ties backward. Oracle computes both window
    // candidates and picks by µs distance.
    Op("rel_join_asof_nearest",
      (s, d) => {
        val ev = T.events(s, d)
        val clicks = ev.where("event_type = 'click'")
          .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
        val buys = ev.where("event_type = 'purchase'")
          .select(col("user_id"), col("event_id").as("buy_id"), col("ts").as("buy_ts"))
        graft.plans.AsOf.join(clicks, buys, Seq("user_id"),
            leftTs = "click_ts", rightTs = "buy_ts",
            payload = Seq("buy_id", "buy_ts"), tiebreak = Seq("buy_id"),
            direction = "nearest")
          .select("click_id", "user_id", "click_ts", "buy_id", "buy_ts")
          .orderBy("click_id")
      },
      Some("SELECT click_id, user_id, click_ts, " +
        "CASE WHEN fwd_ts IS NOT NULL AND (back_ts IS NULL OR " +
        "(epoch_us(fwd_ts) - epoch_us(click_ts)) < (epoch_us(click_ts) - epoch_us(back_ts))) " +
        "THEN fwd_id ELSE back_id END AS buy_id, " +
        "CASE WHEN fwd_ts IS NOT NULL AND (back_ts IS NULL OR " +
        "(epoch_us(fwd_ts) - epoch_us(click_ts)) < (epoch_us(click_ts) - epoch_us(back_ts))) " +
        "THEN fwd_ts ELSE back_ts END AS buy_ts FROM (" +
        "SELECT event_id AS click_id, user_id, ts AS click_ts, is_click, " +
        "last_value(b_id IGNORE NULLS) OVER wb AS back_id, " +
        "last_value(b_ts IGNORE NULLS) OVER wb AS back_ts, " +
        "first_value(b_id IGNORE NULLS) OVER wf AS fwd_id, " +
        "first_value(b_ts IGNORE NULLS) OVER wf AS fwd_ts " +
        "FROM (SELECT event_id, user_id, ts, " +
        "CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_click, " +
        "CASE WHEN event_type = 'purchase' THEN event_id END AS b_id, " +
        "CASE WHEN event_type = 'purchase' THEN ts END AS b_ts " +
        "FROM events WHERE event_type IN ('click', 'purchase')) " +
        "WINDOW wb AS (PARTITION BY user_id ORDER BY ts, is_click, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), " +
        "wf AS (PARTITION BY user_id ORDER BY ts, is_click DESC, event_id " +
        "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) " +
        "WHERE is_click = 1 ORDER BY click_id")),

    // range join via binning: purchases within the 10 minutes before each
    // click, WITHOUT an equi key. The naive plan is a broadcast nested
    // loop (quadratic); binning rewrites it as a hash join — each
    // interval explodes into its ≤ 2 covering 10-min bins, points join
    // on their bin, the residual range predicate filters exactly. At
    // 100 TB this is the standard trick that keeps interval joins
    // shuffle-partitioned and linear.
    Op("rel_join_range_binned",
      (s, d) => {
        val W = 600L * 1000000L // 10 min in µs
        val ev = T.events(s, d)
        val clicks = ev.where("event_type = 'click'")
          .select(col("event_id").as("click_id"),
            expr("unix_micros(CAST(ts AS TIMESTAMP))").as("c_us"))
        val buys = ev.where("event_type = 'purchase'")
          .select(expr("unix_micros(CAST(ts AS TIMESTAMP))").as("p_us"))
        val binnedBuys = buys.withColumn("bin",
          explode(expr(s"sequence(CAST(floor(p_us / $W) AS BIGINT), CAST(floor((p_us + $W) / $W) AS BIGINT))")))
        val binnedClicks = clicks.withColumn("bin", expr(s"CAST(floor(c_us / $W) AS BIGINT)"))
        val counts = binnedClicks.join(binnedBuys, "bin")
          .where(s"p_us <= c_us AND p_us >= c_us - $W")
          .groupBy("click_id").agg(count(lit(1)).as("n_buys"))
        clicks.join(counts, Seq("click_id"), "left")
          .select(col("click_id"), coalesce(col("n_buys"), lit(0L)).as("n_buys"))
          .orderBy("click_id")
      },
      Some("SELECT c.event_id AS click_id, count(p.ts) AS n_buys " +
        "FROM events c LEFT JOIN events p ON p.event_type = 'purchase' " +
        "AND p.ts <= c.ts AND p.ts >= c.ts - INTERVAL 10 MINUTE " +
        "WHERE c.event_type = 'click' GROUP BY c.event_id ORDER BY click_id")),

    // forward as-of through the same custom operator: each click matched
    // to the EARLIEST purchase at-or-after it (smallest event_id on ties).
    // Oracle is the first_value-over-following-frame emulation.
    Op("rel_join_asof_forward",
      (s, d) => {
        val ev = T.events(s, d)
        val clicks = ev.where("event_type = 'click'")
          .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
        val buys = ev.where("event_type = 'purchase'")
          .select(col("user_id"), col("event_id").as("buy_id"), col("ts").as("buy_ts"))
        graft.plans.AsOf.join(clicks, buys, Seq("user_id"),
            leftTs = "click_ts", rightTs = "buy_ts",
            payload = Seq("buy_id", "buy_ts"), tiebreak = Seq("buy_id"),
            direction = "forward")
          .select("click_id", "user_id", "click_ts", "buy_id", "buy_ts")
          .orderBy("click_id")
      },
      Some("SELECT click_id, user_id, click_ts, buy_id, buy_ts FROM (" +
        "SELECT event_id AS click_id, user_id, ts AS click_ts, is_click, " +
        "first_value(b_id IGNORE NULLS) OVER w AS buy_id, " +
        "first_value(b_ts IGNORE NULLS) OVER w AS buy_ts " +
        "FROM (SELECT event_id, user_id, ts, " +
        "CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_click, " +
        "CASE WHEN event_type = 'purchase' THEN event_id END AS b_id, " +
        "CASE WHEN event_type = 'purchase' THEN ts END AS b_ts " +
        "FROM events WHERE event_type IN ('click', 'purchase')) " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, is_click DESC, event_id " +
        "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) " +
        "WHERE is_click = 1 ORDER BY click_id")),

    // IGNORE NULLS navigation windows (gap-filling / last-observation-
    // carried-forward): same semantics both engines, opposite syntax
    // placement (after the call in Spark, inside the parens in DuckDB).
    Op("rel_window_ignore_nulls",
      (s, d) => {
        T.events(s, d).createOrReplaceTempView("events")
        s.sql("SELECT event_id, user_id, " +
          "last_value(v) IGNORE NULLS OVER w AS locf, " +
          "first_value(v) IGNORE NULLS OVER w AS first_seen " +
          "FROM (SELECT event_id, user_id, ts, " +
          "CASE WHEN event_type = 'purchase' THEN value END AS v FROM events) " +
          "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
          "ORDER BY event_id")
      },
      Some("SELECT event_id, user_id, " +
        "last_value(v IGNORE NULLS) OVER w AS locf, " +
        "first_value(v IGNORE NULLS) OVER w AS first_seen " +
        "FROM (SELECT event_id, user_id, ts, " +
        "CASE WHEN event_type = 'purchase' THEN value END AS v FROM events) " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "ORDER BY event_id")),

    // distribution window functions: ntile buckets, percent_rank and
    // cume_dist — pure rank/count arithmetic (no float accumulation), so
    // the doubles are bit-identical across engines given the same total
    // order; the (o_totalprice, o_orderkey) key makes the order unique.
    Op("rel_window_distribution",
      (s, d) => {
        val w = Window.partitionBy("o_orderstatus")
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        T.t(s, d, "orders")
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
          .withColumn("nt", ntile(4).over(w))
          .withColumn("pr", percent_rank().over(w))
          .withColumn("cd", cume_dist().over(w))
          .orderBy("o_orderkey")
      },
      Some("SELECT o_orderkey, o_orderstatus, o_totalprice, " +
        "CAST(ntile(4) OVER w AS INTEGER) AS nt, percent_rank() OVER w AS pr, " +
        "cume_dist() OVER w AS cd FROM orders " +
        "WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey) " +
        "ORDER BY o_orderkey")),

    // filtered/conditional aggregation (count_if / FILTER clause).
    Op("rel_agg_filtered",
      (s, d) => T.t(s, d, "orders").groupBy("o_orderpriority")
        .agg(expr("count_if(o_totalprice > 100000)").as("n_big"),
          T.dsum(when(col("o_orderstatus") === "F", col("o_totalprice"))).as("sum_f"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority"),
      Some("SELECT o_orderpriority, " +
        "CAST(count(*) FILTER (WHERE o_totalprice > 100000) AS BIGINT) AS n_big, " +
        s"${T.oSum("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END")} AS sum_f, " +
        "count(*) AS n FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority")),

    // unpivot/melt via stack(); oracle is the equivalent UNION ALL.
    Op("rel_unpivot",
      (s, d) => {
        T.t(s, d, "supplier").createOrReplaceTempView("supplier")
        s.sql("SELECT s_suppkey, metric, val FROM (SELECT s_suppkey, " +
          "stack(2, 'acctbal', s_acctbal, 'nationkey', CAST(s_nationkey AS DOUBLE)) AS (metric, val) " +
          "FROM supplier) ORDER BY s_suppkey, metric")
      },
      Some("SELECT s_suppkey, 'acctbal' AS metric, s_acctbal AS val FROM supplier " +
        "UNION ALL SELECT s_suppkey, 'nationkey' AS metric, CAST(s_nationkey AS DOUBLE) AS val FROM supplier " +
        "ORDER BY s_suppkey, metric")),

    Op("rel_sort_limit",
      (s, d) => T.t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20),
      Some("SELECT o_orderkey, o_custkey, o_totalprice FROM orders " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 20")),

    Op("rel_set_ops",
      (s, d) => {
        val c = T.t(s, d, "customer")
        val a = c.where("c_mktsegment = 'BUILDING'").select("c_nationkey").distinct()
        val b = c.where("c_mktsegment = 'AUTOMOBILE'").select("c_nationkey").distinct()
        a.intersect(b).withColumn("tag", lit("in_both"))
          .unionByName(a.except(b).withColumn("tag", lit("only_building")))
          .unionByName(a.union(b).distinct().withColumn("tag", lit("in_either")))
          .orderBy("tag", "c_nationkey")
      },
      Some("SELECT c_nationkey, 'in_both' AS tag FROM (" +
        "SELECT DISTINCT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING' " +
        "INTERSECT SELECT DISTINCT c_nationkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE') " +
        "UNION ALL SELECT c_nationkey, 'only_building' AS tag FROM (" +
        "SELECT DISTINCT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING' " +
        "EXCEPT SELECT DISTINCT c_nationkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE') " +
        "UNION ALL SELECT c_nationkey, 'in_either' AS tag FROM (" +
        "SELECT DISTINCT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING' " +
        "UNION SELECT DISTINCT c_nationkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE') " +
        "ORDER BY tag, c_nationkey")),

    // correlated scalar subquery — same SQL text on both engines; Catalyst
    // decorrelates it into an aggregate + join.
    Op("rel_subquery_scalar",
      (s, d) => {
        T.t(s, d, "orders").createOrReplaceTempView("orders")
        s.sql("SELECT o_orderkey, o_custkey, o_totalprice FROM orders o " +
          "WHERE o_totalprice > (SELECT CAST(ROUND(AVG(CAST(o2.o_totalprice AS DECIMAL(18,4))),2) AS DOUBLE) " +
          "FROM orders o2 WHERE o2.o_custkey = o.o_custkey) ORDER BY o_orderkey")
      },
      Some("SELECT o_orderkey, o_custkey, o_totalprice FROM orders o " +
        "WHERE o_totalprice > (SELECT CAST(ROUND(AVG(CAST(o2.o_totalprice AS DECIMAL(18,4))),2) AS DOUBLE) " +
        "FROM orders o2 WHERE o2.o_custkey = o.o_custkey) ORDER BY o_orderkey")),

    Op("rel_join_cross",
      (s, d) => {
        val r = T.t(s, d, "region"); val n = T.t(s, d, "nation")
        r.crossJoin(n)
          .select("r_regionkey", "r_name", "n_nationkey", "n_name")
          .orderBy("r_regionkey", "n_nationkey")
      },
      Some("SELECT r_regionkey, r_name, n_nationkey, n_name FROM region CROSS JOIN nation " +
        "ORDER BY r_regionkey, n_nationkey")),

    // pivot on a closed value set; nulls for absent cells coalesced to 0
    // to match the oracle's conditional counts.
    Op("rel_pivot",
      (s, d) => T.t(s, d, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(
          col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p"))
        .orderBy("o_orderpriority"),
      Some("SELECT o_orderpriority, " +
        "count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f, " +
        "count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o, " +
        "count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p " +
        "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority")),

    // ordered collect: list aggregation made deterministic by sorting
    // before rendering (collect_set order is engine/partition dependent).
    Op("rel_agg_collect",
      (s, d) => T.t(s, d, "customer")
        .groupBy("c_mktsegment")
        .agg(expr("array_join(transform(array_sort(collect_set(c_nationkey)), x -> CAST(x AS STRING)), ',')")
          .as("nation_keys"))
        .orderBy("c_mktsegment"),
      Some("SELECT c_mktsegment, " +
        "array_to_string(list_sort(list(DISTINCT c_nationkey)), ',') AS nation_keys " +
        "FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment")),

    // exact interpolated percentiles (sort-based, order-independent).
    Op("rel_agg_percentile",
      (s, d) => T.t(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(
          expr("round(percentile(o_totalprice, 0.5), 4)").as("p50"),
          expr("round(percentile(o_totalprice, 0.9), 4)").as("p90"),
          min("o_totalprice").as("lo"),
          max("o_totalprice").as("hi"))
        .orderBy("o_orderstatus"),
      Some("SELECT o_orderstatus, " +
        "round(quantile_cont(o_totalprice, 0.5), 4) AS p50, " +
        "round(quantile_cont(o_totalprice, 0.9), 4) AS p90, " +
        "min(o_totalprice) AS lo, max(o_totalprice) AS hi " +
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus")),

    // TPC-H-Q5-shaped multi-join aggregate: the classic star-join plan —
    // big-fact joins shuffle on keys, bounded dims broadcast, Catalyst/AQE
    // pick the order.
    Op("rel_multi_join_agg",
      (s, d) => {
        val c = T.t(s, d, "customer"); val o = T.t(s, d, "orders")
        val l = T.t(s, d, "lineitem"); val su = T.t(s, d, "supplier")
        val n = T.t(s, d, "nation"); val r = T.t(s, d, "region")
        c.join(o, c("c_custkey") === o("o_custkey"))
          .join(l, o("o_orderkey") === l("l_orderkey"))
          .join(su, l("l_suppkey") === su("s_suppkey") && c("c_nationkey") === su("s_nationkey"))
          .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .where("r_name = 'ASIA' AND o_orderdate >= TIMESTAMP_NTZ '1996-01-01 00:00:00' " +
            "AND o_orderdate < TIMESTAMP_NTZ '1998-01-01 00:00:00'")
          .groupBy("n_name")
          .agg(T.dsum(l("l_extendedprice") * (lit(1) - l("l_discount"))).as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy("n_name")
      },
      Some("SELECT n_name, " +
        s"${T.oSum("l_extendedprice * (1 - l_discount)")} AS revenue, count(*) AS n_items " +
        "FROM customer JOIN orders ON c_custkey = o_custkey " +
        "JOIN lineitem ON o_orderkey = l_orderkey " +
        "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' " +
        "GROUP BY n_name ORDER BY n_name")),

    // statistical aggregates; rounding absorbs float summation-order
    // drift (stddev/corr have no exact-decimal path).
    Op("rel_agg_stats",
      (s, d) => T.t(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(
          expr("round(stddev_samp(o_totalprice), 2)").as("sd_price"),
          expr("round(avg(o_totalprice), 2)").as("mean_price"),
          expr("round(corr(o_totalprice, CAST(o_custkey AS DOUBLE)), 6)").as("price_cust_corr"),
          count(lit(1)).as("n"))
        .orderBy("o_orderstatus"),
      Some("SELECT o_orderstatus, round(stddev_samp(o_totalprice), 2) AS sd_price, " +
        "round(avg(o_totalprice), 2) AS mean_price, " +
        "round(corr(o_totalprice, CAST(o_custkey AS DOUBLE)), 6) AS price_cust_corr, " +
        "count(*) AS n FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus")),

    Op("rel_case_null",
      (s, d) => T.t(s, d, "orders").select(
          col("o_orderkey"),
          expr("CASE WHEN o_totalprice > 300000 THEN 'big' " +
            "WHEN o_totalprice > 150000 THEN 'mid' ELSE 'small' END").as("size_class"),
          expr("COALESCE(NULLIF(o_orderstatus, 'O'), 'open')").as("status_or_open"),
          expr("CASE WHEN o_orderpriority LIKE '1%' THEN NULL ELSE o_orderpriority END")
            .as("pri_nulled"))
        .orderBy("o_orderkey"),
      Some("SELECT o_orderkey, " +
        "CASE WHEN o_totalprice > 300000 THEN 'big' WHEN o_totalprice > 150000 THEN 'mid' ELSE 'small' END AS size_class, " +
        "COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS status_or_open, " +
        "CASE WHEN o_orderpriority LIKE '1%' THEN NULL ELSE o_orderpriority END AS pri_nulled " +
        "FROM orders ORDER BY o_orderkey")),

    // skew-salted join: the standard hot-key mitigation when AQE's skew
    // split isn't enough — probe rows get a deterministic salt in [0,8),
    // the build side is replicated once per salt value, and the join key
    // becomes (key, salt) so one hot key spreads over 8 reducers. The
    // result is provably identical to the plain join (each probe row
    // meets each matching build row exactly once), which is what the
    // oracle checks. Salt factor scales with observed skew at 100 TB.
    Op("rel_join_skew_salted",
      (s, d) => {
        val salts = 8
        val li = T.t(s, d, "lineitem")
          .withColumn("salt", pmod(xxhash64(col("l_linenumber"), col("l_partkey")), lit(salts)))
        val ords = T.t(s, d, "orders")
          .withColumn("salt", explode(lit((0 until salts).toArray)))
        li.join(ords,
            li("l_orderkey") === ords("o_orderkey") && li("salt") === ords("salt"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_items"), T.dsum(col("l_extendedprice")).as("revenue"))
          .orderBy("o_orderpriority")
      },
      Some("SELECT o_orderpriority, count(*) AS n_items, " +
        s"${T.oSum("l_extendedprice")} AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority")),

    // correlated LATERAL subquery: top-2 customers by balance per nation.
    // Catalyst decorrelates the per-row subquery into a ranked join (no
    // driver loop, no nested-loop re-execution per outer row) — the shape
    // that survives 100 TB. Tiebreak on c_custkey makes the LIMIT edge
    // deterministic across engines.
    Op("rel_join_lateral",
      (s, d) => {
        T.t(s, d, "nation").createOrReplaceTempView("nation")
        T.t(s, d, "customer").createOrReplaceTempView("customer")
        s.sql("SELECT n_nationkey, n_name, t.c_custkey, t.c_acctbal " +
          "FROM nation, LATERAL (SELECT c_custkey, c_acctbal FROM customer " +
          "WHERE c_nationkey = n_nationkey " +
          "ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t " +
          "ORDER BY n_nationkey, t.c_custkey")
      },
      Some("SELECT n_nationkey, n_name, t.c_custkey, t.c_acctbal " +
        "FROM nation, LATERAL (SELECT c_custkey, c_acctbal FROM customer " +
        "WHERE c_nationkey = n_nationkey " +
        "ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t " +
        "ORDER BY n_nationkey, t.c_custkey")),

    // full CUBE lattice over (status, priority) with grouping flags;
    // subtotal rows are keyed by COALESCE'd sentinels so the output
    // carries no NULL sort keys (Spark sorts NULLS FIRST, DuckDB NULLS
    // LAST — sentinels dodge the divergence entirely).
    Op("rel_cube",
      (s, d) => T.t(s, d, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), T.dsum(col("o_totalprice")).as("sum_price"),
          grouping(col("o_orderstatus")).cast(IntegerType).as("g_status"),
          grouping(col("o_orderpriority")).cast(IntegerType).as("g_pri"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("sum_price"), col("g_status"), col("g_pri"))
        .orderBy("status", "priority"),
      Some("SELECT COALESCE(o_orderstatus, 'ALL') AS status, " +
        "COALESCE(o_orderpriority, 'ALL') AS priority, count(*) AS n, " +
        s"${T.oSum("o_totalprice")} AS sum_price, " +
        "CAST(grouping(o_orderstatus) AS INTEGER) AS g_status, " +
        "CAST(grouping(o_orderpriority) AS INTEGER) AS g_pri " +
        "FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority) " +
        "ORDER BY status, priority")),

    // argmin/argmax aggregation (min_by/max_by ↔ arg_min/arg_max). Both
    // engines pick an ARBITRARY row on ties, so the ordering argument is
    // an injective encoding (price cents · 10^7 + orderkey) — ties are
    // impossible by construction and the answer is deterministic.
    // Tie-break encoding must stay injective at scale: cents(price) tops
    // out below 6e7 for TPC-H totalprice, so cents * 10^11 + orderkey
    // stays under Long.Max while leaving room for orderkeys up to 10^11
    // (TPC-H SF ~ 16000); the previous 10^7 multiplier collided once
    // orderkeys passed 10^7 (~SF 2).
    Op("rel_agg_arg_minmax",
      (s, d) => T.t(s, d, "orders")
        .withColumn("enc",
          expr("CAST(round(o_totalprice * 100) AS BIGINT) * 100000000000 + o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(
          expr("max_by(o_orderkey, enc)").as("top_order"),
          expr("max_by(o_custkey, enc)").as("top_cust"),
          max("o_totalprice").as("top_price"),
          expr("min_by(o_orderkey, enc)").as("bottom_order"),
          min("o_totalprice").as("bottom_price"))
        .orderBy("o_orderstatus"),
      Some("SELECT o_orderstatus, arg_max(o_orderkey, enc) AS top_order, " +
        "arg_max(o_custkey, enc) AS top_cust, max(o_totalprice) AS top_price, " +
        "arg_min(o_orderkey, enc) AS bottom_order, min(o_totalprice) AS bottom_price " +
        "FROM (SELECT *, CAST(round(o_totalprice * 100) AS BIGINT) * 100000000000 + o_orderkey AS enc " +
        "FROM orders) GROUP BY o_orderstatus ORDER BY o_orderstatus")),

    // tolerance-bounded as-of: latest purchase AT MOST 30 minutes before
    // each click, through the custom Catalyst operator (tolerance is a
    // merge-time bound in the exec — stale carries are rejected without
    // re-scanning). Oracle: the same window carry-forward emulation with
    // the staleness test applied afterwards; both sides keep the match
    // iff click_ts - buy_ts <= 30 min (boundary inclusive).
    Op("rel_join_asof_tolerance",
      (s, d) => {
        val ev = T.events(s, d)
        val clicks = ev.where("event_type = 'click'")
          .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
        val buys = ev.where("event_type = 'purchase'")
          .select(col("user_id"), col("event_id").as("buy_id"), col("ts").as("buy_ts"))
        graft.plans.AsOf.join(clicks, buys, Seq("user_id"),
            leftTs = "click_ts", rightTs = "buy_ts",
            payload = Seq("buy_id", "buy_ts"), tiebreak = Seq("buy_id"),
            tolerance = Some(30L * 60 * 1000 * 1000)) // 30 min in µs
          .select("click_id", "user_id", "click_ts", "buy_id", "buy_ts")
          .orderBy("click_id")
      },
      Some("SELECT click_id, user_id, click_ts, " +
        "CASE WHEN buy_ts >= click_ts - INTERVAL 30 MINUTE THEN buy_id END AS buy_id, " +
        "CASE WHEN buy_ts >= click_ts - INTERVAL 30 MINUTE THEN buy_ts END AS buy_ts FROM (" +
        "SELECT event_id AS click_id, user_id, ts AS click_ts, is_click, " +
        "last_value(b_id IGNORE NULLS) OVER w AS buy_id, " +
        "last_value(b_ts IGNORE NULLS) OVER w AS buy_ts " +
        "FROM (SELECT event_id, user_id, ts, " +
        "CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_click, " +
        "CASE WHEN event_type = 'purchase' THEN event_id END AS b_id, " +
        "CASE WHEN event_type = 'purchase' THEN ts END AS b_ts " +
        "FROM events WHERE event_type IN ('click', 'purchase')) " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, is_click, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) " +
        "WHERE is_click = 1 ORDER BY click_id")),

    // recursive CTE (Spark 4 WITH RECURSIVE): generate the month spine of
    // the order-date domain recursively, then LEFT JOIN per-month counts —
    // the gap-filling calendar-spine idiom (months with zero orders appear
    // as 0, which a plain GROUP BY can never produce). The recursion is
    // driver-cheap (one row per month); the join against it broadcasts.
    Op("rel_recursive_cte",
      (s, d) => {
        T.t(s, d, "orders").createOrReplaceTempView("orders")
        s.sql("WITH RECURSIVE months(m) AS (" +
          "SELECT TIMESTAMP_NTZ '1995-01-01 00:00:00' " +
          "UNION ALL SELECT m + INTERVAL 1 MONTH FROM months " +
          "WHERE m < TIMESTAMP_NTZ '2001-08-01 00:00:00') " +
          "SELECT m, count(o_orderkey) AS n_orders, " +
          "CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs " +
          "FROM months LEFT JOIN orders " +
          "ON CAST(date_trunc('MONTH', o_orderdate) AS TIMESTAMP_NTZ) = m " +
          "GROUP BY m ORDER BY m")
      },
      Some("WITH RECURSIVE months(m) AS (" +
        "SELECT TIMESTAMP '1995-01-01 00:00:00' " +
        "UNION ALL SELECT m + INTERVAL 1 MONTH FROM months " +
        "WHERE m < TIMESTAMP '2001-08-01 00:00:00') " +
        "SELECT m, count(o_orderkey) AS n_orders, " +
        "CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs " +
        "FROM months LEFT JOIN orders ON date_trunc('month', o_orderdate) = m " +
        "GROUP BY m ORDER BY m")),

    // join-strategy hints: the same equi-join forced to shuffle-merge
    // (`hint("merge")`) — the explicit control an engineer reaches for
    // when a hash build side would not fit or AQE mis-sizes a stage.
    // Results are strategy-independent (the oracle proves it); the plan
    // shape (SortMergeJoin, no broadcast) is pinned in PlansSpec.
    Op("rel_join_hint_merge",
      (s, d) => {
        val o = T.t(s, d, "orders"); val c = T.t(s, d, "customer")
        o.join(c.hint("merge"), o("o_custkey") === c("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"), T.dsum(col("o_totalprice")).as("sum_price"))
          .orderBy("c_mktsegment")
      },
      Some("SELECT c_mktsegment, count(*) AS n, " +
        s"${T.oSum("o_totalprice")} AS sum_price " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment")),

    // multiset set ops: INTERSECT ALL / EXCEPT ALL keep duplicate
    // cardinality (a customer with three qualifying orders appears three
    // times) — the bag semantics a distinct-flavored set op silently
    // destroys. Catalyst plans both as aggregating joins on (value,
    // replica count), one shuffle each.
    Op("rel_set_ops_all",
      (s, d) => {
        val o = T.t(s, d, "orders")
        val a = o.where("o_totalprice > 200000").select("o_custkey")
        val b = o.where("o_orderpriority LIKE '1%'").select("o_custkey")
        a.intersectAll(b).withColumn("tag", lit("both"))
          .unionByName(a.exceptAll(b).withColumn("tag", lit("high_only")))
          .orderBy("o_custkey", "tag")
      },
      Some("WITH a AS (SELECT o_custkey FROM orders WHERE o_totalprice > 200000), " +
        "b AS (SELECT o_custkey FROM orders WHERE o_orderpriority LIKE '1%') " +
        "SELECT o_custkey, 'both' AS tag FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) " +
        "UNION ALL SELECT o_custkey, 'high_only' AS tag FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) " +
        "ORDER BY o_custkey, tag")),

    // existence join: the flag form of semi-join (every left row kept,
    // plus a boolean) — Catalyst plans the SELECT-list EXISTS as an
    // ExistenceJoin, one hash join, no row duplication from multiple
    // matches (which a LEFT JOIN + CASE would have to dedup).
    Op("rel_join_existence",
      (s, d) => {
        T.t(s, d, "customer").createOrReplaceTempView("customer")
        T.t(s, d, "orders").createOrReplaceTempView("orders")
        s.sql("SELECT c_custkey, c_name, " +
          "EXISTS(SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
          "AND o_totalprice > 300000) AS has_big " +
          "FROM customer ORDER BY c_custkey")
      },
      Some("SELECT c_custkey, c_name, " +
        "EXISTS(SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
        "AND o_totalprice > 300000) AS has_big " +
        "FROM customer ORDER BY c_custkey")),

    // gap-filled hourly series with linear interpolation: per event type,
    // hours with no events get prev + (next - prev) · elapsed-fraction
    // (NULL outside the observed range). Spine = sequence between the
    // type's min/max hour; carries are IGNORE NULLS window passes, so
    // the whole op is two window scans over the (type, hour) frame — no
    // per-gap probing. The interpolation arithmetic runs in the same
    // IEEE order on both engines.
    Op("rel_gap_fill_interpolate",
      (s, d) => {
        T.events(s, d).createOrReplaceTempView("events")
        s.sql(
          "WITH hourly AS (SELECT event_type, " +
          "CAST(date_trunc('HOUR', ts) AS TIMESTAMP_NTZ) AS h, " +
          "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS v " +
          "FROM events GROUP BY 1, 2), " +
          "spine AS (SELECT event_type, explode(sequence(min(h), max(h), INTERVAL 1 HOUR)) AS h " +
          "FROM hourly GROUP BY event_type), " +
          "joined AS (SELECT s.event_type, s.h, hourly.v FROM spine s " +
          "LEFT JOIN hourly ON hourly.event_type = s.event_type AND hourly.h = s.h), " +
          "carried AS (SELECT event_type, h, v, " +
          "last_value(v) IGNORE NULLS OVER wb AS pv, " +
          "last_value(CASE WHEN v IS NOT NULL THEN h END) IGNORE NULLS OVER wb AS ph, " +
          "first_value(v) IGNORE NULLS OVER wf AS nv, " +
          "first_value(CASE WHEN v IS NOT NULL THEN h END) IGNORE NULLS OVER wf AS nh " +
          "FROM joined " +
          "WINDOW wb AS (PARTITION BY event_type ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), " +
          "wf AS (PARTITION BY event_type ORDER BY h ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) " +
          "SELECT event_type, h, " +
          "CASE WHEN v IS NOT NULL THEN v " +
          "WHEN pv IS NULL OR nv IS NULL THEN NULL " +
          "ELSE pv + (nv - pv) * (CAST(unix_timestamp(h) AS DOUBLE) - unix_timestamp(ph)) " +
          "/ (CAST(unix_timestamp(nh) AS DOUBLE) - unix_timestamp(ph)) END AS v_filled, " +
          "(v IS NULL) AS interpolated " +
          "FROM carried ORDER BY event_type, h")
      },
      Some("WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS h, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS v " +
        "FROM events GROUP BY 1, 2), " +
        "spine AS (SELECT event_type, unnest(generate_series(min(h), max(h), INTERVAL 1 HOUR)) AS h " +
        "FROM hourly GROUP BY event_type), " +
        "joined AS (SELECT s.event_type, s.h, hourly.v FROM spine s " +
        "LEFT JOIN hourly ON hourly.event_type = s.event_type AND hourly.h = s.h), " +
        "carried AS (SELECT event_type, h, v, " +
        "last_value(v IGNORE NULLS) OVER wb AS pv, " +
        "last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER wb AS ph, " +
        "first_value(v IGNORE NULLS) OVER wf AS nv, " +
        "first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER wf AS nh " +
        "FROM joined " +
        "WINDOW wb AS (PARTITION BY event_type ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), " +
        "wf AS (PARTITION BY event_type ORDER BY h ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) " +
        "SELECT event_type, h, " +
        "CASE WHEN v IS NOT NULL THEN v " +
        "WHEN pv IS NULL OR nv IS NULL THEN NULL " +
        "ELSE pv + (nv - pv) * (CAST(epoch(h) AS DOUBLE) - epoch(ph)) " +
        "/ (CAST(epoch(nh) AS DOUBLE) - epoch(ph)) END AS v_filled, " +
        "(v IS NULL) AS interpolated " +
        "FROM carried ORDER BY event_type, h")),
  )
}
