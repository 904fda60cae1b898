package graft.ops

import graft.functions.KmvAggregator
import graft.{Op, Tables => T}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

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

  /** Auto-sized CMS join-cardinality estimate: KMV-sketch the left
    * side's key set (k=64 longs of state), size the counter width
    * `w = max(1024, 2·n̂)` from the estimate (expected ≤ ½ distinct key
    * per cell), build both sides' d=4×w counter tables at that width,
    * and report the collision-corrected inner-product estimate
    * Ĵ = avg_i (w·ip_i − n_A·n_B)/(w−1) next to the exact join size
    * (audit-only). The 1-row sizing frame is pinned (localCheckpoint)
    * so the KMV scan runs once, not once per consumer; products go
    * through DECIMAL(38,0) so n_A·n_B cannot overflow at any scale.
    */
  private[graft] def autosizedJoinEstimate(
      a: DataFrame, keyA: String, b: DataFrame, keyB: String): DataFrame = {
    val k = 64
    val wdf = a
      .select(expr(T.h60(s"CAST($keyA AS STRING)")).as("h"))
      .agg(KmvAggregator.kmv(k)(col("h")).as("mins"))
      .select(expr(
        s"CASE WHEN size(mins) < $k THEN CAST(size(mins) AS BIGINT) ELSE " +
          s"CAST(floor((CAST(${k - 1} AS DOUBLE) * 1152921504606846976.0) / " +
          s"CAST(element_at(mins, $k) AS DOUBLE)) AS BIGINT) END").as("n_keys_est"))
      .select(col("n_keys_est"),
        expr("greatest(CAST(1024 AS BIGINT), 2 * n_keys_est)").as("w"))
      .localCheckpoint()
    def cms(df: DataFrame, key: String, cName: String) = df
      .groupBy(col(key).as("k0")).agg(count(lit(1)).as("f"))
      .crossJoin(broadcast(wdf.select("w")))
      .select(col("f"), posexplode(expr(
        "transform(sequence(0, 3), i -> " +
          T.h32(s"concat(CAST(i AS STRING), ':', CAST(k0 AS STRING))") +
          " % w)")))
      .withColumnRenamed("pos", "row_i")
      .withColumnRenamed("col", "bucket")
      .groupBy("row_i", "bucket").agg(sum("f").as(cName))
    val ca = cms(a, keyA, "ca")
    val cb = cms(b, keyB, "cb")
    val na = a.agg(count(lit(1)).as("na"))
    val nb = b.agg(count(lit(1)).as("nb"))
    val est = ca.join(cb, Seq("row_i", "bucket"))
      .groupBy("row_i").agg(sum(expr("ca * cb")).as("ip"))
      .crossJoin(broadcast(na)).crossJoin(broadcast(nb))
      .crossJoin(broadcast(wdf))
      // clamp before the integer division so truncating (Spark div) and
      // flooring (DuckDB //) semantics coincide on the non-negative value
      .withColumn("corr", expr(
        "greatest(CAST(w AS DECIMAL(38,0)) * ip - CAST(na AS DECIMAL(38,0)) * nb, " +
          "CAST(0 AS DECIMAL(38,0))) div (w - 1)"))
      .agg(first("n_keys_est").as("n_keys_est"), first("w").as("w"),
        first("na").as("na"), first("nb").as("nb"),
        expr("sum(corr) div 4").as("est_rows"))
    val exact = a.join(b, col(keyA) === col(keyB))
      .agg(count(lit(1)).as("exact_rows"))
    est.crossJoin(exact)
      .select(col("n_keys_est"), col("w"), col("na"), col("nb"),
        col("est_rows"), col("exact_rows"),
        expr("abs(est_rows - exact_rows) * 1000000 div exact_rows")
          .as("err_abs_ppm"))
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

    // Null-safe equi join: <=> matches NULL keys to each other instead of
    // dropping them (IS NOT DISTINCT FROM). Aggregated so the null-block
    // cross product stays bounded in the output.
    Op("rel_join_null_safe",
      (s, d) => {
        val n1 = T.t(s, d, "nation")
          .select(col("n_nationkey").as("k1"), expr("nullif(n_nationkey % 5, 0)").as("jk"))
        val n2 = T.t(s, d, "nation")
          .select(col("n_nationkey").as("k2"), expr("nullif(n_nationkey % 5, 0)").as("jk2"))
        n1.join(n2, col("jk") <=> col("jk2"), "inner")
          .groupBy("k1")
          .agg(count(lit(1)).as("n_matches"), min("k2").as("min_match"))
          .orderBy("k1")
      },
      Some("WITH n1 AS (SELECT n_nationkey AS k1, nullif(n_nationkey % 5, 0) AS jk FROM nation), " +
        "n2 AS (SELECT n_nationkey AS k2, nullif(n_nationkey % 5, 0) AS jk2 FROM nation) " +
        "SELECT k1, count(*) AS n_matches, min(k2) AS min_match " +
        "FROM n1 JOIN n2 ON jk IS NOT DISTINCT FROM jk2 GROUP BY k1 ORDER BY k1")),

    // Several COUNT(DISTINCT ...) in one aggregation — Catalyst plans one
    // Expand + single shuffle rather than N self-joins.
    Op("rel_agg_multi_distinct",
      (s, d) => T.t(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(
          countDistinct(col("o_custkey")).as("n_cust"),
          countDistinct(expr("year(o_orderdate)")).as("n_years"),
          countDistinct(col("o_orderpriority")).as("n_prio"),
          count(lit(1)).as("n_rows"))
        .orderBy("o_orderstatus"),
      Some("SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust, " +
        "count(DISTINCT year(o_orderdate)) AS n_years, " +
        "count(DISTINCT o_orderpriority) AS n_prio, count(*) AS n_rows " +
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus")),

    // Exact interpolated median plus a deterministic mode: both engines
    // pick ARBITRARY rows on modal ties, so the mode is computed as
    // highest-count-then-smallest-value — tie-free by construction
    // (parity rule 18 applied to mode).
    Op("rel_agg_median_mode",
      (s, d) => {
        val part = T.t(s, d, "part")
        val counts = part.groupBy("p_size", "p_brand").agg(count(lit(1)).as("cnt"))
        val mode = counts
          .withColumn("rn", row_number().over(
            Window.partitionBy("p_size").orderBy(desc("cnt"), col("p_brand"))))
          .where("rn = 1")
          .select(col("p_size"), col("p_brand").as("modal_brand"), col("cnt").as("modal_cnt"))
        val med = part.groupBy("p_size")
          .agg(expr("median(p_retailprice)").as("median_price"), count(lit(1)).as("n"))
        mode.join(med, "p_size").orderBy("p_size")
      },
      Some("WITH c AS (SELECT p_size, p_brand, count(*) AS cnt FROM part GROUP BY p_size, p_brand), " +
        "m AS (SELECT p_size, p_brand AS modal_brand, cnt AS modal_cnt FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY p_size ORDER BY cnt DESC, p_brand) AS rn FROM c) " +
        "WHERE rn = 1), " +
        "md AS (SELECT p_size, median(p_retailprice) AS median_price, count(*) AS n FROM part GROUP BY p_size) " +
        "SELECT p_size, modal_brand, modal_cnt, median_price, n FROM m JOIN md USING (p_size) ORDER BY p_size")),

    // Inline VALUES relation (snapflow static DataBlock): a literal
    // lookup table joined broadcast against a source table.
    Op("rel_values_inline",
      (s, d) => {
        import s.implicits._
        val tiers = Seq(
          ("AMERICA", "west"), ("ASIA", "east"), ("EUROPE", "west"),
          ("AFRICA", "south"), ("MIDDLE EAST", "south")).toDF("r_name", "tier")
        T.t(s, d, "region").join(broadcast(tiers), Seq("r_name"), "left")
          .select("r_regionkey", "r_name", "tier")
          .orderBy("r_regionkey")
      },
      Some("SELECT r_regionkey, r_name, tier FROM region LEFT JOIN " +
        "(VALUES ('AMERICA', 'west'), ('ASIA', 'east'), ('EUROPE', 'west'), " +
        "('AFRICA', 'south'), ('MIDDLE EAST', 'south')) AS t(r_name, tier) " +
        "USING (r_name) ORDER BY r_regionkey")),

    // Explicit NULLS FIRST / NULLS LAST semantics: Spark defaults
    // NULLS-FIRST-on-ASC, DuckDB NULLS-LAST — both sides spell the
    // ordering out so the contract is pinned, in the window AND the
    // final total order.
    Op("rel_order_nulls",
      (s, d) => T.t(s, d, "customer")
        .withColumn("nk", expr("nullif(c_nationkey % 6, 0)"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("c_mktsegment")
            .orderBy(col("nk").desc_nulls_last, col("c_custkey"))))
        .select("c_custkey", "c_mktsegment", "nk", "rn")
        .orderBy(col("nk").asc_nulls_first, col("c_custkey")),
      Some("SELECT c_custkey, c_mktsegment, nullif(c_nationkey % 6, 0) AS nk, " +
        "CAST(row_number() OVER (PARTITION BY c_mktsegment " +
        "ORDER BY nullif(c_nationkey % 6, 0) DESC NULLS LAST, c_custkey) AS INTEGER) AS rn " +
        "FROM customer ORDER BY nk ASC NULLS FIRST, c_custkey")),

    // Centered (symmetric) window frame: 7-row moving stats around each
    // lineitem in supplier ship order. The mean goes through
    // SUM(DECIMAL)/COUNT — DuckDB's AVG(DECIMAL) detours through DOUBLE
    // (parity rule 14) so the exact-rational route is used on both sides.
    // (l_orderkey, l_linenumber) is NOT unique in this corpus, so the
    // window order is widened to the full-tuple key (verified unique)
    // and the output order covers every emitted column — ties then only
    // occur between value-identical rows.
    Op("rel_window_centered",
      (s, d) => {
        val ord = "ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey, l_extendedprice, l_quantity"
        val w = Window.partitionBy("l_suppkey")
          .orderBy("l_shipdate", "l_orderkey", "l_linenumber",
            "l_partkey", "l_extendedprice", "l_quantity")
          .rowsBetween(-3, 3)
        T.t(s, d, "lineitem")
          .withColumn("c_avg", expr(
            "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) OVER (" +
              s"PARTITION BY l_suppkey $ord " +
              "ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS DOUBLE) / " +
              s"COUNT(*) OVER (PARTITION BY l_suppkey $ord " +
              "ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)"))
          .withColumn("c_min", min("l_extendedprice").over(w))
          .withColumn("c_max", max("l_extendedprice").over(w))
          .select("l_orderkey", "l_linenumber", "l_suppkey", "c_avg", "c_min", "c_max")
          .orderBy("l_orderkey", "l_linenumber", "l_suppkey", "c_avg", "c_min", "c_max")
      },
      Some("SELECT l_orderkey, l_linenumber, l_suppkey, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) OVER w AS DOUBLE) / count(*) OVER w AS c_avg, " +
        "min(l_extendedprice) OVER w AS c_min, max(l_extendedprice) OVER w AS c_max " +
        "FROM lineitem WINDOW w AS (PARTITION BY l_suppkey " +
        "ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey, l_extendedprice, l_quantity " +
        "ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) " +
        "ORDER BY l_orderkey, l_linenumber, l_suppkey, c_avg, c_min, c_max")),

    // Mergeable quantile sketch (approx_percentile / Greenwald-Khanna):
    // the distributed path for percentiles when an exact sort-based
    // quantile is too expensive — partial sketches merge associatively,
    // so the exchange carries one sketch per mapper, not the rows.
    // Sketch estimates are engine-specific, so (as with the HLL op) the
    // oracle asserts a genuinely computed error-bound boolean: the
    // estimate must land within the value-range tolerance implied by the
    // sketch accuracy, against DuckDB's exact interpolated quantile.
    Op("rel_agg_approx_percentile",
      (s, d) => T.t(s, d, "lineitem").groupBy("l_returnflag")
        .agg(
          expr("approx_percentile(l_extendedprice, array(0.5, 0.95), 5000)").as("ap"),
          expr("percentile(l_extendedprice, 0.5)").as("p50_exact"),
          expr("percentile(l_extendedprice, 0.95)").as("p95_exact"),
          min("l_extendedprice").as("lo"), max("l_extendedprice").as("hi"))
        .select(col("l_returnflag"),
          expr("floor(p50_exact * 100 + 0.000001) / 100").as("p50_exact"),
          expr("floor(p95_exact * 100 + 0.000001) / 100").as("p95_exact"),
          expr("abs(element_at(ap, 1) - p50_exact) <= (hi - lo) * 0.02").as("p50_within_bounds"),
          expr("abs(element_at(ap, 2) - p95_exact) <= (hi - lo) * 0.02").as("p95_within_bounds"))
        .orderBy("l_returnflag"),
      Some("SELECT l_returnflag, " +
        "floor(quantile_cont(l_extendedprice, 0.5) * 100 + 0.000001) / 100 AS p50_exact, " +
        "floor(quantile_cont(l_extendedprice, 0.95) * 100 + 0.000001) / 100 AS p95_exact, " +
        "true AS p50_within_bounds, true AS p95_within_bounds " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")),

    // Ordered string aggregation via Spark 4's native listagg WITHIN
    // GROUP — the SQL-standard form (rel_agg_collect keeps the
    // collect_list + sort-before-render equivalent for contrast).
    Op("rel_agg_listagg",
      (s, d) => {
        T.t(s, d, "nation").createOrReplaceTempView("nation")
        s.sql("SELECT n_regionkey, " +
          "listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS names, " +
          "count(*) AS n FROM nation GROUP BY n_regionkey ORDER BY n_regionkey")
      },
      Some("SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS names, " +
        "count(*) AS n FROM nation GROUP BY n_regionkey ORDER BY n_regionkey")),

    // Parameterized SQL + IDENTIFIER (Spark 4): the injection-safe
    // templated-query surface — table name bound through IDENTIFIER(),
    // values through named parameters. Same plan as the literal query.
    Op("rel_parameterized_sql",
      (s, d) => {
        T.t(s, d, "orders").createOrReplaceTempView("orders_pv")
        s.sql(
          "SELECT o_orderstatus, count(*) AS n, max(o_totalprice) AS max_price " +
            "FROM IDENTIFIER(:tbl) WHERE o_totalprice > :floor " +
            "GROUP BY o_orderstatus ORDER BY o_orderstatus",
          Map("tbl" -> "orders_pv", "floor" -> 100000))
      },
      Some("SELECT o_orderstatus, count(*) AS n, max(o_totalprice) AS max_price " +
        "FROM orders WHERE o_totalprice > 100000 " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus")),

    // Composite-key as-of through the native merge exec: for each even
    // event, the latest EARLIER odd event of the same (user_id,
    // event_type) — "what did this user last do of this kind". Both
    // sides shuffle once on the two-column key; the oracle is the
    // window emulation.
    Op("rel_join_asof_multikey",
      (s, d) => {
        val ev = T.events(s, d)
        val left = ev.where("event_id % 2 = 0")
          .select("event_id", "user_id", "event_type", "ts")
        val right = ev.where("event_id % 2 = 1")
          .select(col("user_id"), col("event_type"), col("ts").as("rts"),
            col("event_id").as("prev_event_id"), col("value").as("prev_value"))
        graft.plans.AsOf.join(left, right, Seq("user_id", "event_type"), "ts", "rts",
            payload = Seq("prev_event_id", "prev_value"), tiebreak = Seq("prev_event_id"))
          .select("event_id", "user_id", "event_type", "prev_event_id", "prev_value")
          .orderBy("event_id")
      },
      Some("WITH l AS (SELECT event_id, user_id, event_type, ts FROM events WHERE event_id % 2 = 0), " +
        "r AS (SELECT user_id, event_type, ts AS rts, event_id AS prev_event_id, value AS prev_value " +
        "FROM events WHERE event_id % 2 = 1), " +
        "j AS (SELECT l.event_id, l.user_id, l.event_type, r.prev_event_id, r.prev_value, " +
        "row_number() OVER (PARTITION BY l.event_id ORDER BY r.rts DESC, r.prev_event_id DESC) AS rn " +
        "FROM l LEFT JOIN r ON l.user_id = r.user_id AND l.event_type = r.event_type AND r.rts <= l.ts) " +
        "SELECT event_id, user_id, event_type, prev_event_id, prev_value FROM j WHERE rn = 1 " +
        "ORDER BY event_id")),

    // K-minimum-values distinct sketch per language: the bounded
    // alternative to count(DISTINCT text) when the key set itself is
    // 100-TB-sized. The KmvAggregator keeps the k=64 smallest DISTINCT
    // 60-bit text hashes per group with map-side partial aggregation,
    // so the shuffle carries at most k longs per (group, mapper) —
    // never the keys. Estimate: exact size while the sketch is not
    // full (it then holds every distinct hash), else the KMV estimator
    // (k-1)·2^60 / h_(k). The oracle replays the sketch definition
    // exactly (k smallest distinct hashes via one window) so tri-SF
    // data exercises both the exact and the estimating branch.
    Op("rel_agg_kmv_distinct",
      (s, d) => {
        val k = 64
        val h = T.spread(
            T.t(s, d, "documents")
              .where("lang IS NOT NULL AND text IS NOT NULL"))
          .select(col("lang"), expr(T.h60("text")).as("h"))
        h.groupBy("lang")
          .agg(KmvAggregator.kmv(k)(col("h")).as("mins"))
          .select(col("lang"),
            when(expr(s"size(mins) = $k"), expr(s"element_at(mins, $k)"))
              .otherwise(lit(-1L)).as("kth_min"),
            when(expr(s"size(mins) < $k"), expr("CAST(size(mins) AS BIGINT)"))
              .otherwise(expr(
                s"CAST(floor((CAST(${k - 1} AS DOUBLE) * 1152921504606846976.0) " +
                  s"/ CAST(element_at(mins, $k) AS DOUBLE)) AS BIGINT)"))
              .as("n_est"))
          .orderBy("lang")
      },
      Some("WITH h AS (SELECT DISTINCT lang, " + T.oH60("text") + " AS h " +
        "FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL), " +
        "r AS (SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn FROM h), " +
        "s AS (SELECT lang, count(*) AS nd, max(CASE WHEN rn = 64 THEN h END) AS kth " +
        "FROM r GROUP BY lang) " +
        "SELECT lang, COALESCE(kth, -1) AS kth_min, " +
        "CASE WHEN nd < 64 THEN nd ELSE " +
        "CAST(floor((CAST(63 AS DOUBLE) * 1152921504606846976.0) / CAST(kth AS DOUBLE)) AS BIGINT) " +
        "END AS n_est FROM s ORDER BY lang")),

    // Sketch join-cardinality estimation (AMS/count-min): each side is
    // profiled independently into a 4×1024 counter table (one scan,
    // partial-agg combined); |A ⋈ B| = Σ_k f_A(k)·f_B(k) appears per
    // hash row as the 1024-cell inner product ip_i = J + collision
    // noise whose EXPECTATION is (n_A·n_B − J)/w. The raw min-of-rows
    // (est_upper) is the classic one-sided bound, but with w ≪ keys
    // the noise dominates (measured: 15.6× at sf0.01) — so the
    // operator also reports the unbiased estimator
    // Ĵ_i = (w·ip_i − n_A·n_B)/(w−1) averaged over the 4 rows, which
    // is what an optimizer would actually consult before committing a
    // 100-TB shuffle without catalog stats. The exact join is
    // audit-only; err_abs_ppm ships the measured estimator error.
    Op("rel_join_size_estimate",
      (s, d) => {
        def cms(df: org.apache.spark.sql.DataFrame, key: String, cName: String) = df
          .groupBy(col(key).as("k")).agg(count(lit(1)).as("f"))
          .select(col("f"), posexplode(expr(
            "transform(sequence(0, 3), i -> CAST(" +
              T.h32("concat(CAST(i AS STRING), ':', CAST(k AS STRING))") +
              " % 1024 AS INT))")))
          .withColumnRenamed("pos", "row_i")
          .withColumnRenamed("col", "bucket")
          .groupBy("row_i", "bucket").agg(sum("f").as(cName))
        val ca = cms(T.t(s, d, "orders"), "o_orderkey", "ca")
        val cb = cms(T.t(s, d, "lineitem"), "l_orderkey", "cb")
        val na = T.t(s, d, "orders").agg(count(lit(1)).as("na"))
        val nb = T.t(s, d, "lineitem").agg(count(lit(1)).as("nb"))
        val est = ca.join(cb, Seq("row_i", "bucket"))
          .groupBy("row_i").agg(sum(expr("ca * cb")).as("ip"))
          .crossJoin(broadcast(na)).crossJoin(broadcast(nb))
          // clamp before the integer division so truncating (Spark div)
          // and flooring (DuckDB //) semantics coincide
          .withColumn("corr",
            expr("greatest(1024 * ip - na * nb, CAST(0 AS BIGINT)) div 1023"))
          .agg(min("ip").as("est_upper"),
            expr("sum(corr) div 4").as("est_rows"),
            first("na").as("na"), first("nb").as("nb"))
        val exact = T.t(s, d, "orders").join(
            T.t(s, d, "lineitem"),
            expr("o_orderkey = l_orderkey"))
          .agg(count(lit(1)).as("exact_rows"))
        est.crossJoin(exact)
          .select(col("na"), col("nb"), col("est_upper"),
            col("est_rows"), col("exact_rows"),
            expr("abs(est_rows - exact_rows) * 1000000 div exact_rows")
              .as("err_abs_ppm"))
      },
      Some("WITH fa AS (SELECT o_orderkey AS k, count(*) AS f FROM orders GROUP BY 1), " +
        "fb AS (SELECT l_orderkey AS k, count(*) AS f FROM lineitem GROUP BY 1), " +
        "ba AS (SELECT f, i AS row_i, CAST(" +
        T.oH32("concat(CAST(i AS VARCHAR), ':', CAST(k AS VARCHAR))") +
        " % 1024 AS INTEGER) AS bucket FROM fa, range(0, 4) t(i)), " +
        "bb AS (SELECT f, i AS row_i, CAST(" +
        T.oH32("concat(CAST(i AS VARCHAR), ':', CAST(k AS VARCHAR))") +
        " % 1024 AS INTEGER) AS bucket FROM fb, range(0, 4) t(i)), " +
        "ca AS (SELECT row_i, bucket, CAST(SUM(f) AS BIGINT) AS ca FROM ba GROUP BY 1, 2), " +
        "cb AS (SELECT row_i, bucket, CAST(SUM(f) AS BIGINT) AS cb FROM bb GROUP BY 1, 2), " +
        "nn AS (SELECT (SELECT count(*) FROM orders) AS na, " +
        "(SELECT count(*) FROM lineitem) AS nb), " +
        "ip AS (SELECT ca.row_i, CAST(SUM(ca * cb) AS BIGINT) AS ip " +
        "FROM ca JOIN cb ON ca.row_i = cb.row_i AND ca.bucket = cb.bucket GROUP BY 1), " +
        "co AS (SELECT row_i, ip, greatest(1024 * ip - na * nb, 0) // 1023 AS corr FROM ip, nn), " +
        "e AS (SELECT MIN(ip) AS est_upper, CAST(SUM(corr) AS BIGINT) // 4 AS est_rows FROM co), " +
        "x AS (SELECT count(*) AS exact_rows FROM orders o JOIN lineitem l " +
        "ON o.o_orderkey = l.l_orderkey) " +
        "SELECT na, nb, est_upper, est_rows, exact_rows, " +
        "abs(est_rows - exact_rows) * 1000000 // exact_rows AS err_abs_ppm " +
        "FROM e, x, nn")),

    // Bloom-filter false-positive-rate audit: build a deterministic
    // Bloom filter (m=131072 bits, j=6 double-hashed probes) over the
    // customer keys, probe it with 10k keys disjoint by construction,
    // and report the MEASURED false-positive rate next to the
    // (1-e^{-jn/m})^j theory value — the check run before trusting a
    // Bloom prefilter (rel_join_bloom_prefilter) to gate a 100-TB
    // shuffle. The filter is a distinct-bit-position table (≤ m rows,
    // broadcast); build and probe are one explode + one join each.
    Op("rel_bloom_fpr_audit",
      (s, d) => {
        val m = 131072
        def bitsOf(k: String) =
          s"transform(sequence(0, 5), i -> (" +
            T.h32(s"concat('b1:', CAST($k AS STRING))") + " + i * " +
            T.h32(s"concat('b2:', CAST($k AS STRING))") + s") % $m)"
        val keys = T.t(s, d, "customer").select(col("c_custkey").as("k"))
        val bits = keys.select(explode(expr(bitsOf("k"))).as("bit")).distinct()
        val probes = s.range(1000000000L, 1000010000L).select(col("id").as("k"))
        val hit = probes
          .select(col("k"), explode(expr(bitsOf("k"))).as("bit"))
          .join(broadcast(bits.withColumn("b1", lit(1L))), Seq("bit"), "left")
          .groupBy("k").agg(sum(coalesce(col("b1"), lit(0L))).as("nset"))
          .agg(count(lit(1)).as("n_probes"),
            sum(when(col("nset") === 6L, 1L).otherwise(0L)).as("false_pos"))
        keys.agg(count(lit(1)).as("n_keys"))
          .crossJoin(broadcast(bits.agg(count(lit(1)).as("bits_set"))))
          .crossJoin(broadcast(hit))
          .withColumn("p", expr(
            s"1.0 - exp((0.0 - CAST(6 * n_keys AS DOUBLE)) / $m.0)"))
          .select(col("n_keys"), col("bits_set"), col("n_probes"), col("false_pos"),
            expr("false_pos * 1000000 div n_probes").as("fpr_ppm"),
            expr("CAST(floor((((((p * p) * p) * p) * p) * p) * 1000000.0) AS BIGINT)")
              .as("theory_ppm"))
      },
      Some("WITH keys AS (SELECT c_custkey AS k FROM customer), " +
        "kh AS (SELECT k, " +
        T.oH32("concat('b1:', CAST(k AS VARCHAR))") + " AS h1, " +
        T.oH32("concat('b2:', CAST(k AS VARCHAR))") + " AS h2 FROM keys), " +
        "bits AS (SELECT DISTINCT (h1 + i * h2) % 131072 AS bit FROM kh, range(0, 6) t(i)), " +
        "ph AS (SELECT k, " +
        T.oH32("concat('b1:', CAST(k AS VARCHAR))") + " AS h1, " +
        T.oH32("concat('b2:', CAST(k AS VARCHAR))") + " AS h2 " +
        "FROM range(1000000000, 1000010000) t(k)), " +
        "pb AS (SELECT k, (h1 + i * h2) % 131072 AS bit FROM ph, range(0, 6) t(i)), " +
        "hit AS (SELECT CAST(count(*) AS BIGINT) AS n_probes, " +
        "CAST(SUM(CASE WHEN nset = 6 THEN 1 ELSE 0 END) AS BIGINT) AS false_pos FROM (" +
        "SELECT pb.k, SUM(CASE WHEN b.bit IS NOT NULL THEN 1 ELSE 0 END) AS nset " +
        "FROM pb LEFT JOIN bits b ON pb.bit = b.bit GROUP BY pb.k)), " +
        "agg AS (SELECT (SELECT count(*) FROM keys) AS n_keys, " +
        "(SELECT count(*) FROM bits) AS bits_set, n_probes, false_pos FROM hit), " +
        "pp AS (SELECT *, 1.0 - exp((0.0 - CAST(6 * n_keys AS DOUBLE)) / 131072.0) AS p FROM agg) " +
        "SELECT n_keys, bits_set, n_probes, false_pos, " +
        "false_pos * 1000000 // n_probes AS fpr_ppm, " +
        "CAST(floor((((((p * p) * p) * p) * p) * p) * 1000000.0) AS BIGINT) AS theory_ppm " +
        "FROM pp")),

    // Histogram-driven selectivity estimation with measured error: the
    // range-predicate cardinality an optimizer reads off the histogram
    // (full bins above the threshold + linear interpolation inside the
    // straddling bin) vs the exact count. Threshold = lo + 0.75·range,
    // so the estimate always exercises the interpolation path. The
    // whole estimate touches 20 histogram rows; the exact count is
    // audit-only — at 100 TB the histogram IS the answer.
    Op("rel_selectivity_estimate",
      (s, d) => {
        val o = T.t(s, d, "orders")
        val mm = o.agg(min("o_totalprice").as("lo"), max("o_totalprice").as("hi"))
          // zero-width guard as in core_column_histogram (ANSI NaN casts)
          .withColumn("w", expr("CASE WHEN hi = lo THEN 1.0 ELSE (hi - lo) / 20.0 END"))
          .withColumn("t", expr("lo + (hi - lo) * 0.75"))
        val binned = o.crossJoin(broadcast(mm))
          .withColumn("bin", expr(
            "CAST(least(floor((o_totalprice - lo) / w), 19.0) AS INT)"))
          .groupBy("bin").agg(count(lit(1)).as("n_rows"))
        val est = binned.crossJoin(broadcast(mm))
          .withColumn("tb", expr("CAST(least(floor((t - lo) / w), 19.0) AS INT)"))
          .agg(
            first("t").as("t"),
            sum(when(col("bin") > col("tb"), col("n_rows")).otherwise(0L)).as("above"),
            sum(when(col("bin") === col("tb"), col("n_rows")).otherwise(0L)).as("straddle"),
            first(expr("(lo + (CAST(tb AS DOUBLE) + 1.0) * w - t) / w")).as("frac"))
          .select(col("t"),
            expr("above + CAST(floor(CAST(straddle AS DOUBLE) * frac) AS BIGINT)")
              .as("est_rows"))
        val exact = o.crossJoin(broadcast(mm))
          .where("o_totalprice >= t")
          .agg(count(lit(1)).as("exact_rows"))
        est.crossJoin(exact)
          .select(
            expr("CAST(floor(t * 100.0) AS BIGINT)").as("threshold_fp"),
            col("est_rows"), col("exact_rows"),
            expr("abs(est_rows - exact_rows) * 1000000 div exact_rows")
              .as("err_abs_ppm"))
      },
      Some("WITH mm AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi, " +
        "CASE WHEN max(o_totalprice) = min(o_totalprice) THEN 1.0 " +
        "ELSE (max(o_totalprice) - min(o_totalprice)) / 20.0 END AS w, " +
        "min(o_totalprice) + (max(o_totalprice) - min(o_totalprice)) * 0.75 AS t FROM orders), " +
        "bi AS (SELECT CAST(least(floor((o_totalprice - lo) / w), 19.0) AS INTEGER) AS bin, " +
        "count(*) AS n_rows FROM orders, mm GROUP BY 1), " +
        "tb AS (SELECT CAST(least(floor((t - lo) / w), 19.0) AS INTEGER) AS tb FROM mm), " +
        "e AS (SELECT CAST(SUM(CASE WHEN bin > tb THEN n_rows ELSE 0 END) AS BIGINT) AS above, " +
        "CAST(SUM(CASE WHEN bin = tb THEN n_rows ELSE 0 END) AS BIGINT) AS straddle FROM bi, tb), " +
        "f AS (SELECT (lo + (CAST(tb AS DOUBLE) + 1.0) * w - t) / w AS frac FROM mm, tb), " +
        "x AS (SELECT count(*) AS exact_rows FROM orders, mm WHERE o_totalprice >= t), " +
        "g AS (SELECT above + CAST(floor(CAST(straddle AS DOUBLE) * frac) AS BIGINT) AS est_rows FROM e, f) " +
        "SELECT CAST(floor(t * 100.0) AS BIGINT) AS threshold_fp, est_rows, exact_rows, " +
        "abs(est_rows - exact_rows) * 1000000 // exact_rows AS err_abs_ppm FROM g, x, mm")),

    // Quantile-sketch audit — completes the mergeable profile triple
    // (distinct = KMV, frequency = CMS, quantiles = histogram): p50/
    // p90/p99 of l_extendedprice read off a 256-bin equi-width
    // histogram by linear interpolation inside the target bin, audited
    // against the exact percentiles. The histogram is the mergeable
    // artifact (bin counts add across shards once bounds are fixed);
    // the quantile read-off touches ≤256 rows however large the table.
    Op("rel_quantile_sketch_audit",
      (s, d) => {
        import s.implicits._
        val li = T.t(s, d, "lineitem").select(col("l_extendedprice").as("x"))
        val mm = li.agg(min("x").as("lo"), max("x").as("hi"), count(lit(1)).as("n"))
          .withColumn("w", expr("CASE WHEN hi = lo THEN 1.0 ELSE (hi - lo) / 256.0 END"))
        val bins = li.crossJoin(broadcast(mm))
          .withColumn("bin", expr("CAST(least(floor((x - lo) / w), 255.0) AS INT)"))
          .groupBy("bin").agg(count(lit(1)).as("bn"))
        val cum = bins.as("a")
          .join(broadcast(bins.as("b")), expr("b.bin <= a.bin"))
          .groupBy(col("a.bin").as("bin"), col("a.bn").as("bn"))
          .agg(sum("b.bn").as("cum"))
        val first = Seq(0.5, 0.9, 0.99).toDF("q")
          .crossJoin(broadcast(cum)).crossJoin(broadcast(mm))
          .where("CAST(cum AS DOUBLE) >= q * CAST(n AS DOUBLE)")
          .groupBy("q").agg(min("bin").as("qbin"))
        val est = first.join(broadcast(cum), expr("qbin = bin"))
          .crossJoin(broadcast(mm))
          .withColumn("est_q", expr(
            "round(lo + CAST(qbin AS DOUBLE) * w + " +
              "((q * CAST(n AS DOUBLE) - CAST(cum - bn AS DOUBLE)) / CAST(bn AS DOUBLE)) * w, 4)"))
        val ex = li.agg(
          expr("round(percentile(x, 0.5), 4)").as("e50"),
          expr("round(percentile(x, 0.9), 4)").as("e90"),
          expr("round(percentile(x, 0.99), 4)").as("e99"))
        est.crossJoin(broadcast(ex))
          .withColumn("exact_q", expr(
            "CASE WHEN q = 0.5 THEN e50 WHEN q = 0.9 THEN e90 ELSE e99 END"))
          .select(
            expr("CAST(floor(q * 100.0 + 0.5) AS INT)").as("q_pct"),
            col("est_q"), col("exact_q"),
            expr("CAST(floor(abs(est_q - exact_q) / exact_q * 1000000.0) AS BIGINT)")
              .as("err_ppm"))
          .orderBy("q_pct")
      },
      Some("WITH li AS (SELECT l_extendedprice AS x FROM lineitem), " +
        "mm AS (SELECT min(x) AS lo, max(x) AS hi, count(*) AS n, " +
        "CASE WHEN max(x) = min(x) THEN 1.0 ELSE (max(x) - min(x)) / 256.0 END AS w FROM li), " +
        "bins AS (SELECT CAST(least(floor((x - lo) / w), 255.0) AS INTEGER) AS bin, " +
        "count(*) AS bn FROM li, mm GROUP BY 1), " +
        "cum AS (SELECT a.bin, a.bn, CAST(SUM(b.bn) AS BIGINT) AS cum " +
        "FROM bins a JOIN bins b ON b.bin <= a.bin GROUP BY a.bin, a.bn), " +
        "fb AS (SELECT q, min(bin) AS qbin FROM (SELECT unnest([0.5, 0.9, 0.99]) AS q), cum, mm " +
        "WHERE CAST(cum AS DOUBLE) >= q * CAST(n AS DOUBLE) GROUP BY q), " +
        "est AS (SELECT q, round(lo + CAST(qbin AS DOUBLE) * w + " +
        "((q * CAST(n AS DOUBLE) - CAST(cum - bn AS DOUBLE)) / CAST(bn AS DOUBLE)) * w, 4) AS est_q " +
        "FROM fb JOIN cum ON qbin = cum.bin, mm), " +
        "ex AS (SELECT round(quantile_cont(x, 0.5), 4) AS e50, " +
        "round(quantile_cont(x, 0.9), 4) AS e90, round(quantile_cont(x, 0.99), 4) AS e99 FROM li) " +
        "SELECT CAST(floor(q * 100.0 + 0.5) AS INTEGER) AS q_pct, est_q, " +
        "CASE WHEN q = 0.5 THEN e50 WHEN q = 0.9 THEN e90 ELSE e99 END AS exact_q, " +
        "CAST(floor(abs(est_q - (CASE WHEN q = 0.5 THEN e50 WHEN q = 0.9 THEN e90 ELSE e99 END)) / " +
        "(CASE WHEN q = 0.5 THEN e50 WHEN q = 0.9 THEN e90 ELSE e99 END) * 1000000.0) AS BIGINT) AS err_ppm " +
        "FROM est, ex ORDER BY q_pct")),

    // The KMV→CMS sizing loop on a real join: part ⋈ lineitem on
    // partkey. Round 7's fixed-width op measured why this matters; this
    // op is the production shape — the optimizer-facing estimate whose
    // width was chosen BY the data's own cardinality sketch. The oracle
    // replays the KMV estimate, the derived width, and the counter
    // tables with identical integer arithmetic, so even the
    // data-dependent geometry hash-matches.
    Op("rel_join_size_autosized",
      (s, d) => autosizedJoinEstimate(
        T.t(s, d, "part"), "p_partkey",
        T.t(s, d, "lineitem"), "l_partkey"),
      Some("WITH h AS (SELECT DISTINCT " + T.oH60("CAST(p_partkey AS VARCHAR)") + " AS h FROM part), " +
        "r AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM h), " +
        "sk AS (SELECT count(*) AS nd, max(CASE WHEN rn = 64 THEN h END) AS kth FROM r), " +
        "wv AS (SELECT CASE WHEN nd < 64 THEN nd ELSE " +
        "CAST(floor((CAST(63 AS DOUBLE) * 1152921504606846976.0) / CAST(kth AS DOUBLE)) AS BIGINT) " +
        "END AS n_keys_est FROM sk), " +
        "w2 AS (SELECT n_keys_est, greatest(1024, 2 * n_keys_est) AS w FROM wv), " +
        "fa AS (SELECT p_partkey AS k0, count(*) AS f FROM part GROUP BY 1), " +
        "fb AS (SELECT l_partkey AS k0, count(*) AS f FROM lineitem GROUP BY 1), " +
        "ba AS (SELECT f, i AS row_i, " +
        T.oH32("concat(CAST(i AS VARCHAR), ':', CAST(k0 AS VARCHAR))") +
        " % w AS bucket FROM fa, range(0, 4) t(i), w2), " +
        "bb AS (SELECT f, i AS row_i, " +
        T.oH32("concat(CAST(i AS VARCHAR), ':', CAST(k0 AS VARCHAR))") +
        " % w AS bucket FROM fb, range(0, 4) t(i), w2), " +
        "ca AS (SELECT row_i, bucket, CAST(SUM(f) AS BIGINT) AS ca FROM ba GROUP BY 1, 2), " +
        "cb AS (SELECT row_i, bucket, CAST(SUM(f) AS BIGINT) AS cb FROM bb GROUP BY 1, 2), " +
        "nn AS (SELECT (SELECT count(*) FROM part) AS na, " +
        "(SELECT count(*) FROM lineitem) AS nb), " +
        "ip AS (SELECT ca.row_i, CAST(SUM(ca * cb) AS BIGINT) AS ip " +
        "FROM ca JOIN cb ON ca.row_i = cb.row_i AND ca.bucket = cb.bucket GROUP BY 1), " +
        "co AS (SELECT greatest(CAST(w AS HUGEINT) * ip - CAST(na AS HUGEINT) * nb, 0) " +
        "// (w - 1) AS corr FROM ip, nn, w2), " +
        "e AS (SELECT CAST(CAST(SUM(corr) AS HUGEINT) // 4 AS BIGINT) AS est_rows FROM co), " +
        "x AS (SELECT count(*) AS exact_rows FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey) " +
        "SELECT n_keys_est, w, na, nb, est_rows, exact_rows, " +
        "abs(est_rows - exact_rows) * 1000000 // exact_rows AS err_abs_ppm " +
        "FROM w2, nn, e, x")),

    // Exact distinct counting via fixed-size bitmaps (the modern
    // high-cardinality trick): bitmap_bucket_number partitions the key
    // space into 4KB segments, bitmap_construct_agg ORs bits per
    // (group, bucket) with map-side partials, and the final count is a
    // sum of per-segment popcounts. The shuffle carries fixed 4KB
    // bitmaps instead of raw keys, and huge distinct sets parallelize
    // across buckets — count(DISTINCT) semantics at a fraction of the
    // state. Oracle = plain COUNT(DISTINCT): the equality IS the test.
    Op("rel_agg_bitmap_distinct",
      (s, d) => {
        T.views(s, d)
        s.sql("SELECT g, CAST(SUM(cnt) AS BIGINT) AS distinct_parts FROM (" +
          "SELECT l_returnflag AS g, bitmap_bucket_number(l_partkey) AS b, " +
          "bitmap_count(bitmap_construct_agg(bitmap_bit_position(l_partkey))) AS cnt " +
          "FROM lineitem GROUP BY 1, 2) GROUP BY g ORDER BY g")
      },
      Some("SELECT l_returnflag AS g, CAST(count(DISTINCT l_partkey) AS BIGINT) " +
        "AS distinct_parts FROM lineitem GROUP BY 1 ORDER BY 1")),

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
        "ORDER BY user_id"))
  )
}
