package graft.ops

import graft.{Op, Tables => T}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Statistical analytics over the relational and event tables:
  * forecasting, A/B tests, drift tests, anomaly detection, estimation
  * from samples, segmentation and concentration measures.
  *
  * Parity: doubles aggregate through DECIMAL or 1e-6 fixed point, floors
  * carry the +1e-6 epsilon guard, ranks are tie-broken injectively.
  */
object Analytics {

  // ---- rel_anomaly_mad --------------------------------------------------

  /** Pick the k=(n+1) div 2 order statistic (lower median) out of a
    * cumulated frequency histogram: the row whose cumulative count
    * first reaches k. Integer-only, so engines cannot drift.
    */
  private val medianCond = "cum - c < (n + 1) div 2 AND (n + 1) div 2 <= cum"

  /** Per-type (med, mad, n) thresholds via the histogram method — shared
    * by the batch anomaly report and the streaming alert gate, so the
    * offline-trained thresholds and the batch analysis can never
    * disagree. Returns (event_type, med, mad, n); tiny (one row per
    * event type), safe to broadcast anywhere.
    */
  private[graft] def madThresholds(s: SparkSession, d: String): DataFrame =
    madOf(T.eventsFp(s, d).select("event_type", "v"))

  /** The histogram median/MAD pipeline over any (event_type, v) frame —
    * separated from the table loader so property tests can drive it
    * with arbitrary generated frames.
    */
  private[graft] def madOf(vf: DataFrame): DataFrame = {
    // the compressed value-frequency histogram feeds three separate
    // consumers (median, MAD, outlier count) — materialize it once
    val h = vf.groupBy("event_type", "v").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val wCum = Window.partitionBy("event_type").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy("event_type")
    val md = h.withColumn("cum", sum("c").over(wCum))
      .withColumn("n", sum("c").over(wTot))
      .where(medianCond)
      .select(col("event_type"), col("v").as("med"), col("n"))
    val dh = h.join(broadcast(md), "event_type")
      .select(col("event_type"), abs(col("v") - col("med")).as("dv"), col("c"))
      .groupBy("event_type", "dv").agg(sum("c").as("c"))
    val dCum = Window.partitionBy("event_type").orderBy("dv")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mad = dh.withColumn("cum", sum("c").over(dCum))
      .withColumn("n", sum("c").over(wTot))
      .where(medianCond)
      .select(col("event_type"), col("dv").as("mad"))
    md.join(mad, "event_type")
      .select(col("event_type"), col("med"), col("mad"), col("n"))
  }

  /** Histogram frame `h` again, for consumers needing the raw counts. */
  private def valueHistogram(s: SparkSession, d: String): DataFrame =
    T.eventsFp(s, d).select("event_type", "v")
      .groupBy("event_type", "v").agg(count(lit(1)).as("c"))

  /** DuckDB twin of [[madThresholds]]: CTEs ending in `md(event_type,
    * med, n)` and `mad(event_type, mad)`.
    */
  private[graft] val oMadCtes: String =
    "vf AS (SELECT event_type, CAST(floor(value * 1000000) AS BIGINT) AS v FROM events), " +
      "h AS (SELECT event_type, v, count(*) AS c FROM vf GROUP BY 1, 2), " +
      "h2 AS (SELECT *, CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY v " +
      "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum, " +
      "CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n FROM h), " +
      "md AS (SELECT event_type, v AS med, n FROM h2 " +
      "WHERE cum - c < (n + 1) // 2 AND (n + 1) // 2 <= cum), " +
      "dh AS (SELECT h.event_type, abs(h.v - md.med) AS dv, CAST(SUM(h.c) AS BIGINT) AS c " +
      "FROM h JOIN md USING(event_type) GROUP BY 1, 2), " +
      "dh2 AS (SELECT *, CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY dv " +
      "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum, " +
      "CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n FROM dh), " +
      "mad AS (SELECT event_type, dv AS mad FROM dh2 " +
      "WHERE cum - c < (n + 1) // 2 AND (n + 1) // 2 <= cum)"

  // ---- approximate-query-processing estimators --------------------------

  /** 32-bit md5 prefix of a lineitem row key — the derandomized sampling
    * coin. Hashing row CONTENT (not a random()) keeps the sample
    * deterministic across engines, retries, and partitionings.
    */
  private val rowHash = T.h32("concat(CAST(l_orderkey AS STRING), ':', " +
    "CAST(l_linenumber AS STRING), ':', CAST(l_partkey AS STRING), ':', " +
    "CAST(l_suppkey AS STRING))")

  private val oRowHash = T.oH32("concat(CAST(l_orderkey AS VARCHAR), ':', " +
    "CAST(l_linenumber AS VARCHAR), ':', CAST(l_partkey AS VARCHAR), ':', " +
    "CAST(l_suppkey AS VARCHAR))")

  // ---- distribution drift (KS / PSI) ------------------------------------

  /** Two-sample value histogram: events split at the time midpoint into
    * reference (a) and current (b) halves, counted per (event_type,
    * value_fp) — the same compressed-histogram discipline as the MAD
    * family: everything downstream of this one aggregate touches only
    * distinct values, never raw rows.
    */
  private def driftHistogram(s: SparkSession, d: String): DataFrame = {
    val ev = T.eventsFp(s, d).select("event_type", "us", "v")
    val b = ev.agg(expr("min(us) + (max(us) - min(us)) div 2").as("mid"))
    ev.crossJoin(broadcast(b))
      .groupBy("event_type", "v").agg(
        expr("count_if(us < mid)").as("ca"),
        expr("count_if(us >= mid)").as("cb"))
      .localCheckpoint()
  }

  /** DuckDB twin: CTEs ending in `h(event_type, v, ca, cb)`. */
  private val oDriftHist: String =
    "ev AS (SELECT event_type, epoch_us(ts) AS us, " +
      "CAST(floor(value * 1000000) AS BIGINT) AS v FROM events), " +
      "b AS (SELECT min(us) + (max(us) - min(us)) // 2 AS mid FROM ev), " +
      "h AS (SELECT event_type, v, " +
      "CAST(count_if(us < b.mid) AS BIGINT) AS ca, " +
      "CAST(count_if(us >= b.mid) AS BIGINT) AS cb " +
      "FROM ev, b GROUP BY 1, 2)"

  val ops: Seq[Op] = Seq(

    // Robust per-type anomaly detection: exact (lower-)median and MAD
    // via a value-frequency histogram — never a sort of raw rows, never
    // a 5-partition percentile (see object doc) — then the classic
    // |v - med| > 5*MAD outlier count, all in 1e-6 fixed point.
    Op("rel_anomaly_mad",
      (s, d) => {
        val t = madThresholds(s, d)
        val outl = valueHistogram(s, d).join(broadcast(t), "event_type")
          .groupBy("event_type")
          .agg(coalesce(sum(when(expr("abs(v - med) > 5 * mad"), col("c"))), lit(0L))
            .as("n_outliers"))
        t.join(outl, "event_type")
          .select(col("event_type"), col("n"), col("med").as("med_fp"),
            col("mad").as("mad_fp"), col("n_outliers"),
            expr("CAST(n_outliers * 1000000 div greatest(1, n) AS BIGINT)").as("outlier_ppm"))
          .orderBy("event_type")
      },
      Some(s"WITH $oMadCtes, " +
        "outl AS (SELECT h.event_type, CAST(coalesce(SUM(CASE WHEN abs(h.v - md.med) > 5 * mad.mad " +
        "THEN h.c END), 0) AS BIGINT) AS n_outliers " +
        "FROM h JOIN md USING(event_type) JOIN mad USING(event_type) GROUP BY 1) " +
        "SELECT md.event_type, md.n, md.med AS med_fp, mad.mad AS mad_fp, outl.n_outliers, " +
        "CAST(n_outliers * 1000000 // greatest(1, md.n) AS BIGINT) AS outlier_ppm " +
        "FROM md JOIN mad USING(event_type) JOIN outl USING(event_type) ORDER BY event_type")),

    // Trailing-window OLS trend per user: the slope of value vs event
    // index over the last 8 events, integer fixed-point throughout
    // (x = per-user row number — slope is shift-invariant, so the
    // absolute index is as good as a window-local one and keeps the
    // rolling sums plain). Output: the 20 steepest trends. One hash
    // exchange on user_id serves every window; the top-20 is
    // TakeOrdered, not a global sort.
    Op("rel_rolling_regression",
      (s, d) => {
        val wOrd = Window.partitionBy("user_id").orderBy("us", "event_id")
        val wi = wOrd.rowsBetween(-7, 0)
        T.eventsFp(s, d).select(col("user_id"), col("event_id"), col("us"), col("v").as("y"))
          .withColumn("x", row_number().over(wOrd).cast("bigint"))
          .select(col("user_id"), col("event_id"),
            count(lit(1)).over(wi).as("wn"),
            sum("x").over(wi).as("sx"), sum("y").over(wi).as("sy"),
            sum(expr("x * y")).over(wi).as("sxy"), sum(expr("x * x")).over(wi).as("sxx"))
          .where("wn = 8")
          .select(col("user_id"), col("event_id"),
            expr("wn * sxy - sx * sy").as("num"), expr("wn * sxx - sx * sx").as("den"))
          .select(col("user_id"), col("event_id"),
            expr("CAST(num div den AS BIGINT)").as("slope_fp"),
            expr("abs(CAST(num AS DOUBLE) / den)").as("o"))
          .orderBy(desc("o"), col("user_id"), col("event_id")).limit(20)
          .select("user_id", "event_id", "slope_fp")
      },
      Some("WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS us, " +
        "CAST(floor(value * 1000000) AS BIGINT) AS y FROM events), " +
        "r AS (SELECT *, CAST(row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) " +
        "AS BIGINT) AS x FROM ev), " +
        "w AS (SELECT user_id, event_id, count(*) OVER wi AS wn, " +
        "CAST(SUM(x) OVER wi AS BIGINT) AS sx, CAST(SUM(y) OVER wi AS BIGINT) AS sy, " +
        "CAST(SUM(x * y) OVER wi AS BIGINT) AS sxy, CAST(SUM(x * x) OVER wi AS BIGINT) AS sxx " +
        "FROM r WINDOW wi AS (PARTITION BY user_id ORDER BY us, event_id " +
        "ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)), " +
        "sl AS (SELECT user_id, event_id, wn * sxy - sx * sy AS num, " +
        "wn * sxx - sx * sx AS den FROM w WHERE wn = 8) " +
        "SELECT user_id, event_id, CAST(num // den AS BIGINT) AS slope_fp FROM sl " +
        "ORDER BY abs(CAST(num AS DOUBLE) / den) DESC, user_id, event_id LIMIT 20")),

    // Approximate query processing, uniform flavor: a 1-in-16
    // content-hash sample estimates SUM(price) per return flag, with a
    // Poisson-sampling 95% CLT interval — and the same single scan
    // carries the exact answer, so the op SHIPS its own measured error
    // and a within-CI verdict (the BlinkDB-style accuracy contract,
    // self-audited). Everything is one conditional-aggregate pass; at
    // 100 TB the estimator path alone would scan only the sample
    // partition of a hash-bucketed layout, and the CI math is integer
    // in, correctly-rounded sqrt out — identical IEEE on both engines.
    // Var(est) for Poisson p: (1-p)/p^2 * sum_sq over the sample = 240x
    // at p=1/16; ci95 = 1.96 * sqrt of that.
    Op("rel_sample_estimate_agg",
      (s, d) => {
        T.t(s, d, "lineitem")
          .select(col("l_returnflag").as("g"),
            expr("CAST(floor(l_extendedprice) AS BIGINT)").as("v"),
            expr(rowHash).as("h"))
          .groupBy("g").agg(
            count(lit(1)).as("n_rows"),
            sum("v").as("exact_sum"),
            expr("count_if(h % 16 = 0)").as("n_sample"),
            expr("CAST(coalesce(SUM(CASE WHEN h % 16 = 0 THEN v END), 0) AS BIGINT)").as("sum_s"),
            expr("CAST(coalesce(SUM(CASE WHEN h % 16 = 0 THEN v * v END), 0) AS BIGINT)").as("sum_sq_s"))
          .select(col("g"), col("n_rows"), col("n_sample"), col("exact_sum"),
            expr("16 * sum_s").as("est_sum"),
            expr("CAST(abs(16 * sum_s - exact_sum) * 1000000 div greatest(1, exact_sum) AS BIGINT)").as("err_ppm"),
            expr("CAST(floor(1.96 * sqrt(CAST(240 * sum_sq_s AS DOUBLE))) AS BIGINT)").as("ci95"),
            expr("abs(16 * sum_s - exact_sum) <= CAST(floor(1.96 * sqrt(CAST(240 * sum_sq_s AS DOUBLE))) AS BIGINT)").as("within_ci"))
          .orderBy("g")
      },
      Some("WITH v AS (SELECT l_returnflag AS g, CAST(floor(l_extendedprice) AS BIGINT) AS v, " +
        s"$oRowHash AS h FROM lineitem), " +
        "a AS (SELECT g, count(*) AS n_rows, CAST(SUM(v) AS BIGINT) AS exact_sum, " +
        "CAST(count_if(h % 16 = 0) AS BIGINT) AS n_sample, " +
        "CAST(coalesce(SUM(CASE WHEN h % 16 = 0 THEN v END), 0) AS BIGINT) AS sum_s, " +
        "CAST(coalesce(SUM(CASE WHEN h % 16 = 0 THEN v * v END), 0) AS BIGINT) AS sum_sq_s " +
        "FROM v GROUP BY 1) " +
        "SELECT g, n_rows, n_sample, exact_sum, 16 * sum_s AS est_sum, " +
        "CAST(abs(16 * sum_s - exact_sum) * 1000000 // greatest(1, exact_sum) AS BIGINT) AS err_ppm, " +
        "CAST(floor(1.96 * sqrt(CAST(240 * sum_sq_s AS DOUBLE))) AS BIGINT) AS ci95, " +
        "abs(16 * sum_s - exact_sum) <= CAST(floor(1.96 * sqrt(CAST(240 * sum_sq_s AS DOUBLE))) AS BIGINT) AS within_ci " +
        "FROM a ORDER BY g")),

    // Approximate query processing, stratified flavor: a pilot pass
    // counts each ship-year stratum, an adaptive rate k/64 targets
    // ~2000 sampled rows per stratum (clamped to census for small
    // strata — at sf0.001 every stratum IS a census and the error is
    // exactly 0; at sf0.1 k=2), and the sample pass estimates the
    // stratum sum. This is the estimator uniform sampling can't give
    // you: rare strata keep full accuracy while huge ones pay ~2000
    // rows regardless of size. The pilot output is stratum-count-sized
    // (tiny — broadcast back), so the op is two scans total, the
    // second pre-filtered by the broadcast rate table.
    Op("rel_stratified_estimate",
      (s, d) => {
        val v = T.t(s, d, "lineitem")
          .select(expr("CAST(year(CAST(l_shipdate AS DATE)) AS INT)").as("g"),
            expr("CAST(floor(l_extendedprice) AS BIGINT)").as("v"),
            expr(rowHash).as("h"))
        val ex = v.groupBy("g").agg(count(lit(1)).as("n_rows"), sum("v").as("exact_sum"))
          .localCheckpoint()
        val rt = ex.select(col("g"),
          expr("CAST(least(64, greatest(1, (64 * 2000 + n_rows - 1) div n_rows)) AS BIGINT)").as("k"))
        val sm = v.join(broadcast(rt), "g").where("h % 64 < k")
          .groupBy("g").agg(count(lit(1)).as("n_sample"),
            coalesce(sum("v"), lit(0L)).as("sum_s"))
        ex.join(rt, "g").join(sm, Seq("g"), "left")
          .select(col("g"), col("n_rows"), col("k"),
            expr("CAST(coalesce(n_sample, 0) AS BIGINT)").as("n_sample"), col("exact_sum"),
            expr("CAST(coalesce(sum_s * 64 div k, 0) AS BIGINT)").as("est_sum"),
            expr("CAST(abs(coalesce(sum_s * 64 div k, 0) - exact_sum) * 1000000 " +
              "div greatest(1, exact_sum) AS BIGINT)").as("err_ppm"))
          .orderBy("g")
      },
      Some("WITH v AS (SELECT CAST(year(CAST(l_shipdate AS DATE)) AS INTEGER) AS g, " +
        "CAST(floor(l_extendedprice) AS BIGINT) AS v, " +
        s"$oRowHash AS h FROM lineitem), " +
        "ex AS (SELECT g, count(*) AS n_rows, CAST(SUM(v) AS BIGINT) AS exact_sum FROM v GROUP BY 1), " +
        "rt AS (SELECT g, CAST(least(64, greatest(1, (64 * 2000 + n_rows - 1) // n_rows)) AS BIGINT) AS k FROM ex), " +
        "sm AS (SELECT v.g, count(*) AS n_sample, CAST(coalesce(SUM(v), 0) AS BIGINT) AS sum_s " +
        "FROM v JOIN rt ON v.g = rt.g WHERE v.h % 64 < rt.k GROUP BY 1) " +
        "SELECT ex.g, n_rows, rt.k, CAST(coalesce(n_sample, 0) AS BIGINT) AS n_sample, exact_sum, " +
        "CAST(coalesce(sum_s * 64 // rt.k, 0) AS BIGINT) AS est_sum, " +
        "CAST(abs(coalesce(sum_s * 64 // rt.k, 0) - exact_sum) * 1000000 // greatest(1, exact_sum) AS BIGINT) AS err_ppm " +
        "FROM ex JOIN rt ON ex.g = rt.g LEFT JOIN sm ON ex.g = sm.g ORDER BY ex.g")),

    // A/B experiment readout: users md5-hash into control/treatment
    // (derandomized — assignment survives restarts and engines agree),
    // and a Welch t-statistic per event type over PER-USER totals: the
    // unit of randomization is the user, so events aggregate to one
    // observation per (event_type, user) first — treating clustered
    // per-user events as independent samples would understate the
    // variance and inflate t. Two shuffles (user rollup, then type
    // rollup), both map-side-combining. Sums of squares accumulate in
    // DECIMAL(38,0) — mergeable, overflow-proof past 1e19 fixed-point
    // units per user — and convert to DOUBLE only inside the final
    // one-row-per-type t formula, where both engines evaluate the
    // identical IEEE tree.
    Op("rel_ab_welch_ttest",
      (s, d) => {
        T.eventsFp(s, d)
          .withColumn("arm", expr(
            s"${T.h32("CAST(user_id AS STRING)")} % 2"))
          .groupBy("event_type", "user_id", "arm")
          .agg(expr("CAST(SUM(v div 1000) AS BIGINT)").as("uv")) // 1e-3 fixed point
          .groupBy("event_type").agg(
            expr("count_if(arm = 0)").as("n0"),
            expr("count_if(arm = 1)").as("n1"),
            expr("CAST(coalesce(SUM(CASE WHEN arm = 0 THEN uv END), 0) AS BIGINT)").as("s0"),
            expr("CAST(coalesce(SUM(CASE WHEN arm = 1 THEN uv END), 0) AS BIGINT)").as("s1"),
            expr("CAST(coalesce(SUM(CASE WHEN arm = 0 THEN CAST(uv AS DECIMAL(19,0)) * CAST(uv AS DECIMAL(19,0)) END), 0) AS DECIMAL(38,0))").as("q0"),
            expr("CAST(coalesce(SUM(CASE WHEN arm = 1 THEN CAST(uv AS DECIMAL(19,0)) * CAST(uv AS DECIMAL(19,0)) END), 0) AS DECIMAL(38,0))").as("q1"))
          .where("n0 > 1 AND n1 > 1")
          .withColumn("var0", expr(
            "(CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * s0 / n0) / (n0 - 1)"))
          .withColumn("var1", expr(
            "(CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1)"))
          .withColumn("se2", expr("var0 / n0 + var1 / n1"))
          .select(col("event_type"), col("n0"), col("n1"),
            expr("CAST(floor(CAST(s0 AS DOUBLE) / n0 * 1000) AS BIGINT)").as("mean0_fp"),
            expr("CAST(floor(CAST(s1 AS DOUBLE) / n1 * 1000) AS BIGINT)").as("mean1_fp"),
            expr("CASE WHEN se2 > 0 THEN CAST(floor(" +
              "(CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0) / sqrt(se2) * 1000000) " +
              "AS BIGINT) ELSE 0 END").as("t_fp"))
          .orderBy("event_type")
      },
      Some("WITH v AS (SELECT event_type, user_id, " +
        "CAST(floor(value * 1000000) AS BIGINT) // 1000 AS v3, " +
        s"${T.oH32("CAST(user_id AS VARCHAR)")} % 2 AS arm " +
        "FROM events), " +
        "pu AS (SELECT event_type, user_id, arm, CAST(SUM(v3) AS BIGINT) AS uv " +
        "FROM v GROUP BY 1, 2, 3), " +
        "a AS (SELECT event_type, " +
        "CAST(count_if(arm = 0) AS BIGINT) AS n0, CAST(count_if(arm = 1) AS BIGINT) AS n1, " +
        "CAST(coalesce(SUM(CASE WHEN arm = 0 THEN uv END), 0) AS BIGINT) AS s0, " +
        "CAST(coalesce(SUM(CASE WHEN arm = 1 THEN uv END), 0) AS BIGINT) AS s1, " +
        "CAST(coalesce(SUM(CASE WHEN arm = 0 THEN CAST(uv AS DECIMAL(19,0)) * CAST(uv AS DECIMAL(19,0)) END), 0) AS DECIMAL(38,0)) AS q0, " +
        "CAST(coalesce(SUM(CASE WHEN arm = 1 THEN CAST(uv AS DECIMAL(19,0)) * CAST(uv AS DECIMAL(19,0)) END), 0) AS DECIMAL(38,0)) AS q1 " +
        "FROM pu GROUP BY 1), " +
        "b AS (SELECT *, " +
        "(CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * s0 / n0) / (n0 - 1) AS var0, " +
        "(CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1) AS var1 " +
        "FROM a WHERE n0 > 1 AND n1 > 1), " +
        "c AS (SELECT *, var0 / n0 + var1 / n1 AS se2 FROM b) " +
        "SELECT event_type, n0, n1, " +
        "CAST(floor(CAST(s0 AS DOUBLE) / n0 * 1000) AS BIGINT) AS mean0_fp, " +
        "CAST(floor(CAST(s1 AS DOUBLE) / n1 * 1000) AS BIGINT) AS mean1_fp, " +
        "CASE WHEN se2 > 0 THEN CAST(floor(" +
        "(CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0) / sqrt(se2) * 1000000) " +
        "AS BIGINT) ELSE 0 END AS t_fp " +
        "FROM c ORDER BY event_type")),

    // CUPED variance reduction (the modern experimentation-platform
    // companion to the t-test): each user's pre-period sum is the
    // control covariate for their post-period sum; theta = cov/var on
    // the pooled users, and BOTH the adjusted effect and the adjusted
    // variance are derived ALGEBRAICALLY from per-arm integer /
    // DECIMAL(38) sums — var(y-θx) = var(y) - 2θcov + θ²var(x) — so no
    // second pass ever touches per-user doubles and partition order
    // cannot perturb the result. Two shuffles total: the per-user
    // aggregate and a 2-row arm rollup.
    Op("rel_ab_cuped",
      (s, d) => {
        val ev = T.eventsFp(s, d).select(col("user_id"), col("us"),
          expr("v div 1000").as("v3"))
        val b = ev.agg(expr("min(us) + (max(us) - min(us)) div 2").as("mid"))
        val pu = ev.crossJoin(broadcast(b)).groupBy("user_id").agg(
          expr("CAST(coalesce(SUM(CASE WHEN us < mid THEN v3 END), 0) AS BIGINT)").as("x"),
          expr("CAST(coalesce(SUM(CASE WHEN us >= mid THEN v3 END), 0) AS BIGINT)").as("y"))
          .withColumn("arm", expr(
            s"${T.h32("CAST(user_id AS STRING)")} % 2"))
        pu.agg(
          expr("count_if(arm = 0)").as("n0"), expr("count_if(arm = 1)").as("n1"),
          expr("CAST(coalesce(SUM(CASE WHEN arm = 0 THEN x END), 0) AS BIGINT)").as("sx0"),
          expr("CAST(coalesce(SUM(CASE WHEN arm = 1 THEN x END), 0) AS BIGINT)").as("sx1"),
          expr("CAST(coalesce(SUM(CASE WHEN arm = 0 THEN y END), 0) AS BIGINT)").as("sy0"),
          expr("CAST(coalesce(SUM(CASE WHEN arm = 1 THEN y END), 0) AS BIGINT)").as("sy1"),
          expr("CAST(coalesce(SUM(CAST(x AS DECIMAL(38,0)) * y), 0) AS DECIMAL(38,0))").as("sxy"),
          expr("CAST(coalesce(SUM(CAST(x AS DECIMAL(38,0)) * x), 0) AS DECIMAL(38,0))").as("sxx"),
          expr("CAST(coalesce(SUM(CAST(y AS DECIMAL(38,0)) * y), 0) AS DECIMAL(38,0))").as("syy"))
          .where("n0 > 1 AND n1 > 1")
          .withColumn("n", expr("n0 + n1"))
          .withColumn("sx", expr("CAST(sx0 + sx1 AS BIGINT)"))
          .withColumn("sy", expr("CAST(sy0 + sy1 AS BIGINT)"))
          .withColumn("covxy", expr("CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n"))
          .withColumn("varx", expr("CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n"))
          .withColumn("vary", expr("CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n"))
          .withColumn("theta", expr("CASE WHEN varx > 0 THEN covxy / varx ELSE 0 END"))
          .select(col("n0"), col("n1"),
            expr("CAST(floor(theta * 1000000) AS BIGINT)").as("theta_fp"),
            expr("CAST(floor((CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0) * 1000) AS BIGINT)").as("diff_raw_fp"),
            expr("CAST(floor((CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0 " +
              "- theta * (CAST(sx1 AS DOUBLE) / n1 - CAST(sx0 AS DOUBLE) / n0)) * 1000) AS BIGINT)").as("diff_adj_fp"),
            expr("CASE WHEN vary > 0 THEN CAST(floor((1.0 - (vary - 2 * theta * covxy " +
              "+ theta * theta * varx) / vary) * 1000000) AS BIGINT) ELSE 0 END").as("var_reduction_ppm"))
      },
      Some("WITH ev AS (SELECT user_id, epoch_us(ts) AS us, " +
        "CAST(floor(value * 1000000) AS BIGINT) // 1000 AS v3 FROM events), " +
        "b AS (SELECT min(us) + (max(us) - min(us)) // 2 AS mid FROM ev), " +
        "pu AS (SELECT user_id, " +
        "CAST(coalesce(SUM(CASE WHEN us < b.mid THEN v3 END), 0) AS BIGINT) AS x, " +
        "CAST(coalesce(SUM(CASE WHEN us >= b.mid THEN v3 END), 0) AS BIGINT) AS y " +
        "FROM ev, b GROUP BY user_id), " +
        s"pa AS (SELECT x, y, ${T.oH32("CAST(user_id AS VARCHAR)")} % 2 AS arm FROM pu), " +
        "ag AS (SELECT CAST(count_if(arm = 0) AS BIGINT) AS n0, CAST(count_if(arm = 1) AS BIGINT) AS n1, " +
        "CAST(coalesce(SUM(CASE WHEN arm = 0 THEN x END), 0) AS BIGINT) AS sx0, " +
        "CAST(coalesce(SUM(CASE WHEN arm = 1 THEN x END), 0) AS BIGINT) AS sx1, " +
        "CAST(coalesce(SUM(CASE WHEN arm = 0 THEN y END), 0) AS BIGINT) AS sy0, " +
        "CAST(coalesce(SUM(CASE WHEN arm = 1 THEN y END), 0) AS BIGINT) AS sy1, " +
        "CAST(coalesce(SUM(CAST(x AS DECIMAL(38,0)) * y), 0) AS DECIMAL(38,0)) AS sxy, " +
        "CAST(coalesce(SUM(CAST(x AS DECIMAL(38,0)) * x), 0) AS DECIMAL(38,0)) AS sxx, " +
        "CAST(coalesce(SUM(CAST(y AS DECIMAL(38,0)) * y), 0) AS DECIMAL(38,0)) AS syy FROM pa), " +
        "st AS (SELECT *, n0 + n1 AS n, CAST(sx0 + sx1 AS BIGINT) AS sx, " +
        "CAST(sy0 + sy1 AS BIGINT) AS sy FROM ag WHERE n0 > 1 AND n1 > 1), " +
        "th AS (SELECT *, CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n AS covxy, " +
        "CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n AS varx, " +
        "CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS vary FROM st), " +
        "fin AS (SELECT *, CASE WHEN varx > 0 THEN covxy / varx ELSE 0 END AS theta FROM th) " +
        "SELECT n0, n1, CAST(floor(theta * 1000000) AS BIGINT) AS theta_fp, " +
        "CAST(floor((CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0) * 1000) AS BIGINT) AS diff_raw_fp, " +
        "CAST(floor((CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0 " +
        "- theta * (CAST(sx1 AS DOUBLE) / n1 - CAST(sx0 AS DOUBLE) / n0)) * 1000) AS BIGINT) AS diff_adj_fp, " +
        "CASE WHEN vary > 0 THEN CAST(floor((1.0 - (vary - 2 * theta * covxy " +
        "+ theta * theta * varx) / vary) * 1000000) AS BIGINT) ELSE 0 END AS var_reduction_ppm " +
        "FROM fin")),

    // Seasonal-naive forecast backtest: hourly event counts, a
    // hour-of-week mean forecast trained on weeks 0-2, tested on week
    // 3, scored as MASE against the one-week-lag naive baseline — the
    // standard "is this forecast better than doing nothing" metric.
    // Counting happens on the corpus ONCE (keyed (type, hour-index),
    // missing hours restored as zero by a calendar-sized grid join);
    // every train/test/score step after that touches only the 672-row
    // per-type grid. All integer fixed-point, engine-identical.
    Op("rel_forecast_snaive_mase",
      (s, d) => {
        val ev = T.eventsFp(s, d).select("event_type", "us")
        val b = ev.agg(min("us").as("anchor"))
        val cnt = ev.crossJoin(broadcast(b))
          .withColumn("hidx", expr("(us - anchor) div 3600000000"))
          .where("hidx < 672")
          .groupBy("event_type", "hidx").agg(count(lit(1)).as("y"))
          .localCheckpoint()
        val grid = cnt.select("event_type").distinct()
          .crossJoin(s.range(672).select(col("id").as("hidx")))
        val g2 = grid.join(cnt, Seq("event_type", "hidx"), "left")
          .select(col("event_type"), col("hidx"),
            expr("hidx div 168").as("wk"), expr("hidx % 168").as("how"),
            expr("CAST(coalesce(y, 0) AS BIGINT)").as("y"))
          .localCheckpoint()
        val f = g2.where("wk < 3").groupBy("event_type", "how")
          .agg(expr("CAST(SUM(y) * 1000 div 3 AS BIGINT)").as("f_fp"))
        val nv = g2.where("wk IN (1, 2)").as("a")
          .join(g2.as("p"), expr("a.event_type = p.event_type AND p.hidx = a.hidx - 168"))
          .groupBy(col("a.event_type").as("event_type"))
          .agg(expr("CAST(SUM(abs(a.y - p.y)) * 1000 div 336 AS BIGINT)").as("denom_fp"))
        val tm = g2.where("wk = 3")
          .join(f, Seq("event_type", "how"))
          .groupBy("event_type")
          .agg(expr("CAST(SUM(abs(y * 1000 - f_fp)) div 168 AS BIGINT)").as("test_mae_fp"))
        nv.join(tm, "event_type")
          .select(col("event_type"), col("denom_fp"), col("test_mae_fp"),
            expr("CASE WHEN denom_fp > 0 THEN CAST(test_mae_fp * 1000000 div denom_fp " +
              "AS BIGINT) ELSE 0 END").as("mase_ppm"))
          .orderBy("event_type")
      },
      Some("WITH ev AS (SELECT event_type, epoch_us(ts) AS us FROM events), " +
        "b AS (SELECT min(us) AS anchor FROM ev), " +
        "c AS (SELECT event_type, (us - b.anchor) // 3600000000 AS hidx FROM ev, b " +
        "WHERE (us - b.anchor) // 3600000000 < 672), " +
        "cnt AS (SELECT event_type, hidx, count(*) AS y FROM c GROUP BY 1, 2), " +
        "t AS (SELECT DISTINCT event_type FROM cnt), " +
        "grid AS (SELECT t.event_type, g.range AS hidx FROM t, range(0, 672) g), " +
        "g2 AS (SELECT grid.event_type, grid.hidx, grid.hidx // 168 AS wk, grid.hidx % 168 AS how, " +
        "CAST(coalesce(cnt.y, 0) AS BIGINT) AS y FROM grid LEFT JOIN cnt " +
        "ON grid.event_type = cnt.event_type AND grid.hidx = cnt.hidx), " +
        "f AS (SELECT event_type, how, CAST(SUM(y) * 1000 // 3 AS BIGINT) AS f_fp " +
        "FROM g2 WHERE wk < 3 GROUP BY 1, 2), " +
        "nv AS (SELECT a.event_type, CAST(SUM(abs(a.y - p.y)) * 1000 // 336 AS BIGINT) AS denom_fp " +
        "FROM g2 a JOIN g2 p ON a.event_type = p.event_type AND p.hidx = a.hidx - 168 " +
        "WHERE a.wk IN (1, 2) GROUP BY 1), " +
        "tm AS (SELECT g2.event_type, CAST(SUM(abs(g2.y * 1000 - f.f_fp)) // 168 AS BIGINT) AS test_mae_fp " +
        "FROM g2 JOIN f ON g2.event_type = f.event_type AND g2.how = f.how " +
        "WHERE g2.wk = 3 GROUP BY 1) " +
        "SELECT nv.event_type, nv.denom_fp, tm.test_mae_fp, " +
        "CASE WHEN nv.denom_fp > 0 THEN CAST(tm.test_mae_fp * 1000000 // nv.denom_fp AS BIGINT) " +
        "ELSE 0 END AS mase_ppm " +
        "FROM nv JOIN tm ON nv.event_type = tm.event_type ORDER BY nv.event_type")),

    // Kolmogorov-Smirnov two-sample drift test: is this half-period's
    // value distribution the same as the last one's, per event type?
    // D = max |ECDF_a - ECDF_b| computed entirely in integers over the
    // compressed histogram (|cumA*nB - cumB*nA| avoids every division
    // until the final ppm), with the value attaining the supremum
    // reported alongside — the drift monitor that needs no binning
    // choices at all.
    Op("rel_ks_drift_test",
      (s, d) => {
        val h = driftHistogram(s, d)
        val wCum = Window.partitionBy("event_type").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wTot = Window.partitionBy("event_type")
        val wMax = Window.partitionBy("event_type")
          .orderBy(expr(
            "abs(CAST(cuma AS DECIMAL(38,0)) * nb - CAST(cumb AS DECIMAL(38,0)) * na)").desc,
            col("v"))
        h.withColumn("cuma", sum("ca").over(wCum))
          .withColumn("cumb", sum("cb").over(wCum))
          .withColumn("na", sum("ca").over(wTot))
          .withColumn("nb", sum("cb").over(wTot))
          .where("na > 0 AND nb > 0")
          .withColumn("rn", row_number().over(wMax))
          .where("rn = 1")
          .select(col("event_type"), col("na").as("n_a"), col("nb").as("n_b"),
            col("v").as("ks_at_fp"),
            expr("CAST(abs(CAST(cuma AS DECIMAL(38,0)) * nb - CAST(cumb AS DECIMAL(38,0)) * na) " +
              "* 1000000 div (CAST(na AS DECIMAL(38,0)) * nb) AS BIGINT)").as("ks_ppm"))
          .orderBy("event_type")
      },
      Some(s"WITH $oDriftHist, " +
        "c AS (SELECT *, CAST(SUM(ca) OVER w AS BIGINT) AS cuma, " +
        "CAST(SUM(cb) OVER w AS BIGINT) AS cumb, " +
        "CAST(SUM(ca) OVER (PARTITION BY event_type) AS BIGINT) AS na, " +
        "CAST(SUM(cb) OVER (PARTITION BY event_type) AS BIGINT) AS nb FROM h " +
        "WINDOW w AS (PARTITION BY event_type ORDER BY v ROWS UNBOUNDED PRECEDING)), " +
        "d AS (SELECT event_type, v, na, nb, " +
        "abs(CAST(cuma AS HUGEINT) * nb - CAST(cumb AS HUGEINT) * na) AS dd, " +
        "row_number() OVER (PARTITION BY event_type ORDER BY " +
        "abs(CAST(cuma AS HUGEINT) * nb - CAST(cumb AS HUGEINT) * na) DESC, v) AS rn " +
        "FROM c WHERE na > 0 AND nb > 0) " +
        "SELECT event_type, na AS n_a, nb AS n_b, v AS ks_at_fp, " +
        "CAST(dd * 1000000 // (CAST(na AS HUGEINT) * nb) AS BIGINT) AS ks_ppm " +
        "FROM d WHERE rn = 1 ORDER BY event_type")),

    // Population Stability Index on reference-decile buckets: edges are
    // side A's exact deciles (order statistics off the cumulated
    // histogram), bucket membership is a broadcast <=9-edge join, and
    // the PSI terms are Laplace-smoothed ((c+1)/(n+10): no empty-bucket
    // infinities, fully deterministic) then QUANTIZED to 1e-9 BEFORE
    // the per-type sum — ten doubles summed in engine-defined order
    // would be the one nondeterminism this file bans.
    Op("rel_psi_drift",
      (s, d) => {
        val h = driftHistogram(s, d)
        val wCum = Window.partitionBy("event_type").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val nn = h.groupBy("event_type").agg(
          expr("CAST(SUM(ca) AS BIGINT)").as("na"), expr("CAST(SUM(cb) AS BIGINT)").as("nb"))
        val c = h.withColumn("cuma", sum("ca").over(wCum))
        val e = c.join(broadcast(nn), "event_type").where("na > 0")
          .crossJoin(s.range(1, 10).select(col("id").as("i")))
          .where("cuma * 10 >= i * na")
          .groupBy("event_type", "i").agg(min("v").as("edge"))
        val bk = h.as("h").join(broadcast(e).as("e"),
            expr("h.event_type = e.event_type AND e.edge <= h.v"), "left")
          .groupBy(col("h.event_type").as("event_type"), col("h.v"),
            col("h.ca"), col("h.cb"))
          .agg(count(col("e.edge")).as("bucket"))
        val g = bk.groupBy("event_type", "bucket")
          .agg(expr("CAST(SUM(ca) AS BIGINT)").as("ba"), expr("CAST(SUM(cb) AS BIGINT)").as("bb"))
        g.join(broadcast(nn), "event_type").where("na > 0 AND nb > 0")
          .withColumn("term_fp", expr(
            "CAST(floor((CAST(bb + 1 AS DOUBLE) / (nb + 10) - CAST(ba + 1 AS DOUBLE) / (na + 10)) " +
              "* ln((CAST(bb + 1 AS DOUBLE) / (nb + 10)) / (CAST(ba + 1 AS DOUBLE) / (na + 10))) " +
              "* 1000000000) AS BIGINT)"))
          .groupBy("event_type")
          .agg(expr("CAST(SUM(term_fp) div 1000 AS BIGINT)").as("psi_fp"),
            count(lit(1)).as("n_buckets"))
          .orderBy("event_type")
      },
      Some(s"WITH $oDriftHist, " +
        "nn AS (SELECT event_type, CAST(SUM(ca) AS BIGINT) AS na, " +
        "CAST(SUM(cb) AS BIGINT) AS nb FROM h GROUP BY 1), " +
        "c AS (SELECT *, CAST(SUM(ca) OVER (PARTITION BY event_type ORDER BY v " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cuma FROM h), " +
        "e AS (SELECT c.event_type, i.range AS i, min(v) AS edge " +
        "FROM c JOIN nn USING(event_type), range(1, 10) i " +
        "WHERE nn.na > 0 AND c.cuma * 10 >= i.range * nn.na GROUP BY 1, 2), " +
        "bk AS (SELECT h.event_type, h.v, h.ca, h.cb, count(e.edge) AS bucket " +
        "FROM h LEFT JOIN e ON h.event_type = e.event_type AND e.edge <= h.v " +
        "GROUP BY 1, 2, 3, 4), " +
        "g AS (SELECT event_type, bucket, CAST(SUM(ca) AS BIGINT) AS ba, " +
        "CAST(SUM(cb) AS BIGINT) AS bb FROM bk GROUP BY 1, 2), " +
        "terms AS (SELECT g.event_type, CAST(floor(" +
        "(CAST(bb + 1 AS DOUBLE) / (nb + 10) - CAST(ba + 1 AS DOUBLE) / (na + 10)) " +
        "* ln((CAST(bb + 1 AS DOUBLE) / (nb + 10)) / (CAST(ba + 1 AS DOUBLE) / (na + 10))) " +
        "* 1000000000) AS BIGINT) AS term_fp " +
        "FROM g JOIN nn ON g.event_type = nn.event_type WHERE nn.na > 0 AND nn.nb > 0) " +
        "SELECT event_type, CAST(SUM(term_fp) // 1000 AS BIGINT) AS psi_fp, " +
        "count(*) AS n_buckets FROM terms GROUP BY 1 ORDER BY 1")),

    // Kaplan-Meier survival: time from a user's first event to their
    // first 'error', right-censored at last activity for users who
    // never error — the reliability curve (works unchanged for churn
    // once the corpus has any). The heavy work is ONE per-user
    // aggregate; the lifetable is day-grid-sized, and the product
    // estimator is an ln-cumsum with each term QUANTIZED to 1e-12
    // fixed point before the ordered window sum — a raw running double
    // sum drifted by 1 ulp between engines and flipped a floor at
    // sf0.01 (measured, not hypothetical). d_t >= n_t (everyone at
    // risk dies) pins survival to an exact 0 via a flag, not a -inf.
    Op("rel_survival_km",
      (s, d) => {
        val u = T.eventsFp(s, d).groupBy("user_id").agg(
          min("us").as("first_us"), max("us").as("last_us"),
          min(when(col("event_type") === "error", col("us"))).as("err_us"))
          .select(expr("CASE WHEN err_us IS NOT NULL THEN (err_us - first_us) div 86400000000 " +
            "ELSE (last_us - first_us) div 86400000000 END").as("dur"),
            expr("CASE WHEN err_us IS NOT NULL THEN 0 ELSE 1 END").as("cens"))
          .localCheckpoint()
        val tot = u.agg(count(lit(1)).as("n_users"), max("dur").as("maxd"))
        val days = tot.select(explode(expr("sequence(0, maxd)")).as("t"), col("n_users"))
        val dd = u.groupBy(col("dur").as("t")).agg(
          expr("CAST(count_if(cens = 0) AS BIGINT)").as("dth"),
          count(lit(1)).as("lv"))
        // global windows — but over the lifetable (<= max-duration-in-days
        // + 1 rows, calendar-bounded), never over corpus-sized data
        val wCum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
        days.join(dd, Seq("t"), "left")
          .select(col("t"), col("n_users"),
            expr("CAST(coalesce(dth, 0) AS BIGINT)").as("dth"),
            expr("CAST(coalesce(lv, 0) AS BIGINT)").as("lv"))
          .withColumn("n_risk", expr("n_users - CAST(coalesce(" +
            "SUM(lv) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)"))
          .withColumn("lnsum_fp", sum(expr(
            "CASE WHEN n_risk > 0 AND dth < n_risk THEN " +
              "CAST(floor(ln(CAST(n_risk - dth AS DOUBLE) / n_risk) * 1000000000000) AS BIGINT) " +
              "ELSE CAST(0 AS BIGINT) END"))
            .over(wCum))
          .withColumn("dead", max(expr(
            "CASE WHEN dth >= n_risk AND n_risk > 0 THEN 1 ELSE 0 END")).over(wCum))
          .select(col("t"), col("n_risk"), col("dth").as("n_events"),
            expr("CASE WHEN dead = 1 THEN 0 " +
              "ELSE CAST(floor(exp(CAST(lnsum_fp AS DOUBLE) / 1000000000000) * 1000000) AS BIGINT) END")
              .as("survival_ppm"))
          .orderBy("t")
      },
      Some("WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events), " +
        "u AS (SELECT user_id, min(us) AS first_us, max(us) AS last_us, " +
        "min(CASE WHEN event_type = 'error' THEN us END) AS err_us FROM ev GROUP BY 1), " +
        "du AS (SELECT CASE WHEN err_us IS NOT NULL THEN (err_us - first_us) // 86400000000 " +
        "ELSE (last_us - first_us) // 86400000000 END AS dur, " +
        "CASE WHEN err_us IS NOT NULL THEN 0 ELSE 1 END AS cens FROM u), " +
        "tot AS (SELECT count(*) AS n_users, max(dur) AS maxd FROM du), " +
        "days AS (SELECT unnest(generate_series(0, maxd)) AS t, n_users FROM tot), " +
        "dd AS (SELECT dur AS t, CAST(count_if(cens = 0) AS BIGINT) AS dth, " +
        "count(*) AS lv FROM du GROUP BY 1), " +
        "g AS (SELECT days.t, days.n_users, CAST(coalesce(dd.dth, 0) AS BIGINT) AS dth, " +
        "CAST(coalesce(dd.lv, 0) AS BIGINT) AS lv FROM days LEFT JOIN dd ON days.t = dd.t), " +
        "r AS (SELECT t, dth, CAST(n_users - coalesce(SUM(lv) OVER " +
        "(ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk FROM g), " +
        "sv AS (SELECT t, dth, n_risk, " +
        "SUM(CASE WHEN n_risk > 0 AND dth < n_risk THEN " +
        "CAST(floor(ln(CAST(n_risk - dth AS DOUBLE) / n_risk) * 1000000000000) AS BIGINT) " +
        "ELSE CAST(0 AS BIGINT) END) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS lnsum_fp, " +
        "max(CASE WHEN dth >= n_risk AND n_risk > 0 THEN 1 ELSE 0 END) OVER " +
        "(ORDER BY t ROWS UNBOUNDED PRECEDING) AS dead FROM r) " +
        "SELECT t, n_risk, dth AS n_events, " +
        "CASE WHEN dead = 1 THEN 0 ELSE CAST(floor(exp(CAST(lnsum_fp AS DOUBLE) / 1000000000000) " +
        "* 1000000) AS BIGINT) END AS survival_ppm " +
        "FROM sv ORDER BY t")),

    // Value-concentration diagnostics: the Gini coefficient of per-user
    // value per event type (how whale-dominated is each stream). The
    // rank weighting 2*sum(i*s) needs a per-type sort of USER SUMS (one
    // row per user — never raw events); ties in s share consecutive
    // ranks, which the identity is invariant to.
    Op("rel_value_gini",
      (s, d) => {
        val pu = T.eventsFp(s, d)
          .groupBy("event_type", "user_id")
          .agg(expr("CAST(SUM(v div 1000) AS BIGINT)").as("s"))
        val wRank = Window.partitionBy("event_type").orderBy("s", "user_id")
        pu.withColumn("i", row_number().over(wRank).cast("bigint"))
          .groupBy("event_type").agg(
            count(lit(1)).as("n"), expr("CAST(SUM(s) AS BIGINT)").as("total_fp"),
            expr("CAST(SUM(CAST(i AS DECIMAL(38,0)) * s) AS DECIMAL(38,0))").as("ws"))
          .select(col("event_type"), col("n"), col("total_fp"),
            expr("CASE WHEN n > 0 AND total_fp > 0 THEN CAST(floor(" +
              "(2.0 * ws - (n + 1.0) * total_fp) / (CAST(n AS DOUBLE) * total_fp) * 1000000) " +
              "AS BIGINT) ELSE 0 END").as("gini_ppm"))
          .orderBy("event_type")
      },
      Some("WITH ev AS (SELECT event_type, user_id, " +
        "CAST(floor(value * 1000000) AS BIGINT) // 1000 AS v3 FROM events), " +
        "pu AS (SELECT event_type, user_id, CAST(SUM(v3) AS BIGINT) AS s FROM ev GROUP BY 1, 2), " +
        "rk AS (SELECT event_type, s, CAST(row_number() OVER " +
        "(PARTITION BY event_type ORDER BY s, user_id) AS BIGINT) AS i FROM pu), " +
        "ag AS (SELECT event_type, count(*) AS n, CAST(SUM(s) AS BIGINT) AS total_fp, " +
        "CAST(SUM(CAST(i AS HUGEINT) * s) AS HUGEINT) AS ws FROM rk GROUP BY 1) " +
        "SELECT event_type, n, total_fp, " +
        "CASE WHEN n > 0 AND total_fp > 0 THEN CAST(floor(" +
        "(2.0 * ws - (n + 1.0) * total_fp) / (CAST(n AS DOUBLE) * total_fp) * 1000000) " +
        "AS BIGINT) ELSE 0 END AS gini_ppm FROM ag ORDER BY event_type")),

    // Per-user EWMA smoothed value state — the "current smoothed
    // metric per entity" a monitoring/personalization pipeline keeps.
    // Dyadic alpha = 1/2 truncated at 8 lags makes the smoother EXACT
    // integer arithmetic: weights 2^(7-j) summed then ONE div 255
    // (= the 1/(1 - 2^-8)-normalized truncated EWMA) — no float
    // recursion, so engines and partitionings agree bit-for-bit. Both
    // windows (lag chain, per-user count) sit on ONE user_id exchange;
    // output is one row per qualifying user, never per event.
    Op("rel_window_ewma",
      (s, d) => {
        val wAsc = Window.partitionBy("user_id").orderBy("us", "event_id")
        val wAll = Window.partitionBy("user_id")
        T.eventsFp(s, d)
          .withColumn("rn", row_number().over(wAsc))
          .withColumn("wsum", (0 to 7)
            .map(j => coalesce(lag(col("v"), j).over(wAsc), lit(0L)) * lit(1L << (7 - j)))
            .reduce(_ + _))
          .withColumn("n_events", count(lit(1)).over(wAll))
          .where("rn = n_events AND n_events >= 8")
          .select(col("user_id"), col("n_events"),
            expr("wsum div 255").as("ewma_fp"))
          .orderBy("user_id")
      },
      Some("WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS us, " +
        "CAST(floor(value * 1000000) AS BIGINT) AS v FROM events), " +
        "l AS (SELECT user_id, row_number() OVER w AS rn, " +
        "count(*) OVER (PARTITION BY user_id) AS n_events, " +
        (0 to 7).map(j =>
          s"coalesce(lag(v, $j) OVER w, 0) * ${1L << (7 - j)}").mkString(" + ") +
        " AS wsum FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)) " +
        "SELECT user_id, n_events, CAST(wsum // 255 AS BIGINT) AS ewma_fp FROM l " +
        "WHERE rn = n_events AND n_events >= 8 ORDER BY user_id")),

    // CUSUM changepoint detection on the hourly event-rate series per
    // type: deviations from the per-type mean accumulate as
    // y*H - total (PRE-SCALED by the hour count, so the running sum is
    // exact integer — no mean division ever happens), and the hour
    // attaining max |CUSUM| is the level-shift point; the peak is
    // normalized to ppm of total*H through DECIMAL(38)/HUGEINT (the
    // only product that can exceed int64). Complements KS/PSI: those
    // ask IF the distribution moved, CUSUM asks WHEN the rate moved.
    // The hour grid (zero-count hours included — a silent outage IS a
    // level shift) is calendar-sized, never event-sized.
    Op("rel_changepoint_cusum",
      (s, d) => {
        val ev = T.eventsFp(s, d)
        val b = ev.agg(min("us").as("anchor"))
        val cnt = ev.crossJoin(broadcast(b))
          .select(col("event_type"), expr("(us - anchor) div 3600000000").as("hidx"))
          .groupBy("event_type", "hidx").agg(count(lit(1)).as("y"))
        val grid = cnt.groupBy("event_type").agg(max("hidx").as("maxh"))
          .select(col("event_type"), explode(expr("sequence(0, maxh)")).as("hidx"))
        val g = grid.join(cnt, Seq("event_type", "hidx"), "left")
          .select(col("event_type"), col("hidx"),
            coalesce(col("y"), lit(0L)).as("y"))
        val tot = g.groupBy("event_type").agg(
          count(lit(1)).as("nh"), expr("CAST(SUM(y) AS BIGINT)").as("total"))
        val wCum = Window.partitionBy("event_type").orderBy("hidx")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wMax = Window.partitionBy("event_type")
          .orderBy(abs(col("cusum")).desc, col("hidx"))
        g.join(broadcast(tot), "event_type")
          .withColumn("cusum", sum(expr("y * nh - total")).over(wCum))
          .withColumn("rn", row_number().over(wMax))
          .where("rn = 1")
          .select(col("event_type"), col("nh").as("n_hours"), col("total"),
            col("hidx").as("cp_hidx"),
            expr("CAST(abs(CAST(cusum AS DECIMAL(38,0))) * 1000000 " +
              "div (CAST(total AS DECIMAL(38,0)) * nh) AS BIGINT)").as("cusum_peak_ppm"))
          .orderBy("event_type")
      },
      Some("WITH ev AS (SELECT event_type, epoch_us(ts) AS us FROM events), " +
        "b AS (SELECT min(us) AS anchor FROM ev), " +
        "cnt AS (SELECT event_type, (us - b.anchor) // 3600000000 AS hidx, count(*) AS y " +
        "FROM ev, b GROUP BY 1, 2), " +
        "hm AS (SELECT event_type, max(hidx) AS maxh FROM cnt GROUP BY 1), " +
        "grid AS (SELECT event_type, unnest(generate_series(0, maxh)) AS hidx FROM hm), " +
        "g AS (SELECT grid.event_type, grid.hidx, CAST(coalesce(cnt.y, 0) AS BIGINT) AS y " +
        "FROM grid LEFT JOIN cnt ON grid.event_type = cnt.event_type AND grid.hidx = cnt.hidx), " +
        "tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nh, " +
        "CAST(SUM(y) AS BIGINT) AS total FROM g GROUP BY 1), " +
        "c AS (SELECT g.event_type, g.hidx, tot.nh, tot.total, " +
        "SUM(g.y * tot.nh - tot.total) OVER (PARTITION BY g.event_type ORDER BY g.hidx " +
        "ROWS UNBOUNDED PRECEDING) AS cusum FROM g JOIN tot USING (event_type)), " +
        "dd AS (SELECT *, row_number() OVER (PARTITION BY event_type " +
        "ORDER BY abs(cusum) DESC, hidx) AS rn FROM c) " +
        "SELECT event_type, nh AS n_hours, total, hidx AS cp_hidx, " +
        "CAST(abs(CAST(cusum AS HUGEINT)) * 1000000 // (CAST(total AS HUGEINT) * nh) AS BIGINT) " +
        "AS cusum_peak_ppm FROM dd WHERE rn = 1 ORDER BY event_type")),

    // Market-basket affinity: which part pairs co-occur in orders more
    // often than independence predicts. Pairs are generated WITHIN a
    // basket (self-join on l_orderkey after distinct-ing to one row
    // per (order, part)), so the blow-up is bounded by max basket size
    // (7 lines in this schema) — per-order work is O(b²) with tiny b,
    // never O(|parts|²). Per-part supports are a |parts|-sized dim
    // aggregate, broadcast against the pair stream; lift is exact
    // integer ppm via DECIMAL(38)/HUGEINT (supp_ab * n_orders * 1e6
    // overflows int64 once n_orders passes ~1e10). Top-100 under a
    // total (support, lift, p1, p2) order.
    Op("rel_market_basket",
      (s, d) => {
        // one scan + one distinct, materialized once: items feeds FIVE
        // consumers (both self-join sides, both supports, n_orders) —
        // without the checkpoint each re-scans lineitem and re-shuffles
        // the distinct
        val items = T.t(s, d, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .distinct().localCheckpoint()
        val tot = items.agg(count_distinct(col("ok")).as("n_orders"))
        val supp = items.groupBy("pk").agg(count(lit(1)).as("supp"))
        val a = items.select(col("ok"), col("pk").as("p1"))
        val b = items.select(col("ok"), col("pk").as("p2"))
        a.join(b, Seq("ok")).where("p1 < p2")
          .groupBy("p1", "p2").agg(count(lit(1)).as("supp_ab"))
          .where("supp_ab >= 2")
          .join(broadcast(supp.select(col("pk").as("p1"), col("supp").as("supp1"))), Seq("p1"))
          .join(broadcast(supp.select(col("pk").as("p2"), col("supp").as("supp2"))), Seq("p2"))
          .crossJoin(broadcast(tot))
          .withColumn("lift_ppm", expr(
            "CAST(CAST(supp_ab AS DECIMAL(38,0)) * n_orders * 1000000 " +
              "div (CAST(supp1 AS DECIMAL(38,0)) * supp2) AS BIGINT)"))
          .select("p1", "p2", "supp_ab", "supp1", "supp2", "lift_ppm")
          .orderBy(desc("supp_ab"), desc("lift_ppm"), col("p1"), col("p2"))
          .limit(100)
      },
      Some("WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem), " +
        "tot AS (SELECT count(DISTINCT ok) AS n_orders FROM items), " +
        "supp AS (SELECT pk, count(*) AS supp FROM items GROUP BY 1), " +
        "pairs AS (SELECT a.pk AS p1, b.pk AS p2, count(*) AS supp_ab " +
        "FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk " +
        "GROUP BY 1, 2 HAVING count(*) >= 2) " +
        "SELECT p1, p2, supp_ab, s1.supp AS supp1, s2.supp AS supp2, " +
        "CAST(CAST(supp_ab AS HUGEINT) * n_orders * 1000000 " +
        "// (CAST(s1.supp AS HUGEINT) * s2.supp) AS BIGINT) AS lift_ppm " +
        "FROM pairs JOIN supp s1 ON pairs.p1 = s1.pk JOIN supp s2 ON pairs.p2 = s2.pk, tot " +
        "ORDER BY supp_ab DESC, lift_ppm DESC, p1, p2 LIMIT 100")),

    // RFM segmentation: quintile scores on recency / frequency /
    // monetary per customer, reported as segment sizes. The three
    // quintile assignments are EXACT ntile(5) semantics but NOT global
    // windows: each dimension's rank comes from DistOrder.rankCum
    // (quantile-bucketed parallel rank — every WindowExec in the plan
    // is partitioned by bucket, widest task ~1/64 of the customers)
    // and the score is a codegen CASE over the rank. Monetary is 1e-2
    // fixed point; every score order carries a custkey tiebreak so
    // both engines bucket identically.
    Op("rel_rfm_segmentation",
      (s, d) => {
        val o = T.t(s, d, "orders")
        val mx = o.agg(expr("max(CAST(o_orderdate AS DATE))").as("maxd"))
        val rfm = o.crossJoin(broadcast(mx)).groupBy("o_custkey").agg(
          expr("CAST(datediff(min(maxd), max(CAST(o_orderdate AS DATE))) AS INT)").as("recency_days"),
          count(lit(1)).as("frequency"),
          expr("sum(CAST(floor(o_totalprice * 100) AS BIGINT))").as("monetary_cents"))
          .localCheckpoint() // one orders scan feeds all three rankings
        val rk = graft.api.DistOrder.rankCum(rfm,
          col("recency_days"), Seq(col("recency_days").asc, col("o_custkey")),
          rnCol = "rn_r")
        val fk = graft.api.DistOrder.rankCum(rk.df,
          -col("frequency"), Seq(col("frequency").desc, col("o_custkey")),
          rnCol = "rn_f")
        val mk = graft.api.DistOrder.rankCum(fk.df,
          -col("monetary_cents"), Seq(col("monetary_cents").desc, col("o_custkey")),
          rnCol = "rn_m")
        val n = rk.n
        mk.df
          .withColumn("r_score", graft.api.DistOrder.ntileOf("rn_r", n, 5))
          .withColumn("f_score", graft.api.DistOrder.ntileOf("rn_f", n, 5))
          .withColumn("m_score", graft.api.DistOrder.ntileOf("rn_m", n, 5))
          .groupBy("r_score", "f_score", "m_score").agg(
            count(lit(1)).as("n_customers"),
            expr("CAST(sum(CAST(monetary_cents AS DECIMAL(38,0))) div count(*) AS BIGINT)")
              .as("avg_monetary_cents"))
          .orderBy("r_score", "f_score", "m_score")
      },
      Some("WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS maxd FROM orders), " +
        "rfm AS (SELECT o_custkey, " +
        "CAST(min(maxd) - max(CAST(o_orderdate AS DATE)) AS INTEGER) AS recency_days, " +
        "count(*) AS frequency, " +
        "CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS monetary_cents " +
        "FROM orders, mx GROUP BY 1), " +
        "scored AS (SELECT *, " +
        "CAST(ntile(5) OVER (ORDER BY recency_days ASC, o_custkey) AS INTEGER) AS r_score, " +
        "CAST(ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS INTEGER) AS f_score, " +
        "CAST(ntile(5) OVER (ORDER BY monetary_cents DESC, o_custkey) AS INTEGER) AS m_score FROM rfm) " +
        "SELECT r_score, f_score, m_score, count(*) AS n_customers, " +
        "CAST(sum(CAST(monetary_cents AS HUGEINT)) // count(*) AS BIGINT) AS avg_monetary_cents " +
        "FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3")),

    // Hour-of-day seasonality profile per event type: traffic index
    // (that hour's share of the type's events vs uniform, in ppm) and
    // the hour's mean value (1e-6 fixed point). ONE scan feeds the
    // (type, hour) aggregate; the per-type totals ride a window over
    // the |types|*24-row RESULT, not the event stream. Hour comes from
    // integer epoch-microsecond math ((us div 3.6e9) % 24) — no
    // timezone/calendar dependency between engines.
    Op("rel_seasonality_profile",
      (s, d) => {
        val g = T.eventsFp(s, d)
          .withColumn("hh", expr("CAST((us div 3600000000) % 24 AS INT)"))
          .groupBy("event_type", "hh").agg(
            count(lit(1)).as("n"),
            expr("CAST(coalesce(sum(CAST(v AS DECIMAL(38,0))), 0) AS DECIMAL(38,0))").as("sv"))
        val wT = Window.partitionBy("event_type")
        g.withColumn("n_t", sum("n").over(wT))
          .withColumn("traffic_index_ppm",
            expr("CAST(CAST(n AS DECIMAL(38,0)) * 24 * 1000000 div n_t AS BIGINT)"))
          .withColumn("mean_v_micro", expr("CAST(sv div greatest(1, n) AS BIGINT)"))
          .select("event_type", "hh", "n", "traffic_index_ppm", "mean_v_micro")
          .orderBy("event_type", "hh")
      },
      Some("WITH ev AS (SELECT event_type, epoch_us(ts) AS us, " +
        "CAST(floor(value * 1000000) AS BIGINT) AS v FROM events), " +
        "g AS (SELECT event_type, CAST((us // 3600000000) % 24 AS INTEGER) AS hh, " +
        "count(*) AS n, CAST(coalesce(sum(CAST(v AS HUGEINT)), 0) AS HUGEINT) AS sv " +
        "FROM ev GROUP BY 1, 2) " +
        "SELECT event_type, hh, n, " +
        "CAST(CAST(n AS HUGEINT) * 24 * 1000000 // sum(n) OVER (PARTITION BY event_type) AS BIGINT) " +
        "AS traffic_index_ppm, " +
        "CAST(sv // greatest(1, n) AS BIGINT) AS mean_v_micro " +
        "FROM g ORDER BY event_type, hh")),

    // Double-exponential-smoothing (Holt) forecast BACKTEST on the
    // daily order-count series: level and trend are both 8-lag dyadic
    // EWMAs (level over y, trend over the first difference), frozen at
    // an anchor 7 observations before the series end; the op reports
    // forecast vs actual for the 7 held-out steps with MASE against
    // the training mean absolute difference. Everything after the
    // daily aggregate runs on the |days|-sized series (~thousands of
    // rows at ANY corpus scale — a global window over a daily series
    // is not a scale risk; the fact-table scan is the only big job).
    Op("rel_forecast_des",
      (s, d) => {
        val w = Window.orderBy("day")
        val daily = T.t(s, d, "orders")
          .groupBy(expr("CAST(o_orderdate AS DATE)").as("day"))
          .agg(count(lit(1)).as("y"))
        val base = daily
          .withColumn("rn", row_number().over(w))
          .withColumn("n_days", count(lit(1)).over(
            Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
          .withColumn("dy", col("y") - lag("y", 1).over(w))
          .withColumn("lnum", (0 to 7)
            .map(j => coalesce(lag(col("y"), j).over(w), lit(0L)) * lit(1L << (7 - j)))
            .reduce(_ + _))
          .withColumn("tnum", (0 to 7)
            .map(j => coalesce(lag(col("dy"), j).over(w), lit(0L)) * lit(1L << (7 - j)))
            .reduce(_ + _))
        val anchor = base.where("rn = n_days - 7 AND rn >= 9")
          .select(col("rn").as("arn"), col("lnum"), col("tnum"))
        val tr = base.crossJoin(broadcast(anchor.select("arn")))
          .where("rn >= 2 AND rn <= arn")
          .agg(sum(abs(col("dy"))).as("scale_sum"), count(lit(1)).as("n_tr"))
        base.select("rn", "y").crossJoin(broadcast(anchor))
          .withColumn("h", expr("CAST(rn - arn AS BIGINT)"))
          .where("h >= 1 AND h <= 7")
          .withColumn("forecast", expr("(lnum + h * tnum) div 255"))
          .withColumn("abs_err", expr("abs(forecast - y)"))
          .crossJoin(broadcast(tr))
          .withColumn("mase_ppm", expr(
            "CAST(CAST(abs_err AS DECIMAL(38,0)) * n_tr * 1000000 " +
              "div greatest(1, scale_sum) AS BIGINT)"))
          .select(col("h"), col("forecast"), col("y").as("actual"),
            col("abs_err"), col("mase_ppm"))
          .orderBy("h")
      },
      Some("WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS y " +
        "FROM orders GROUP BY 1), " +
        "base AS (SELECT row_number() OVER w AS rn, count(*) OVER () AS n_days, y, " +
        "y - lag(y, 1) OVER w AS dy, " +
        (0 to 7).map(j => s"coalesce(lag(y, $j) OVER w, 0) * ${1L << (7 - j)}")
          .mkString(" + ") + " AS lnum, " +
        (0 to 7).map(j => s"coalesce(lag(y - lag_y, $j) OVER w, 0) * ${1L << (7 - j)}")
          .mkString(" + ") + " AS tnum " +
        "FROM (SELECT day, y, lag(y, 1) OVER (ORDER BY day) AS lag_y FROM daily) " +
        "WINDOW w AS (ORDER BY day)), " +
        "anchor AS (SELECT rn AS arn, lnum, tnum FROM base WHERE rn = n_days - 7 AND rn >= 9), " +
        "tr AS (SELECT sum(abs(dy)) AS scale_sum, count(*) AS n_tr " +
        "FROM base, anchor WHERE rn >= 2 AND rn <= arn) " +
        "SELECT CAST(rn - arn AS BIGINT) AS h, " +
        "(anchor.lnum + CAST(rn - arn AS BIGINT) * anchor.tnum) // 255 AS forecast, y AS actual, " +
        "abs((anchor.lnum + CAST(rn - arn AS BIGINT) * anchor.tnum) // 255 - y) AS abs_err, " +
        "CAST(CAST(abs((anchor.lnum + CAST(rn - arn AS BIGINT) * anchor.tnum) // 255 - y) AS HUGEINT) " +
        "* n_tr * 1000000 // greatest(1, scale_sum) AS BIGINT) AS mase_ppm " +
        "FROM base, anchor, tr WHERE rn - arn >= 1 AND rn - arn <= 7 ORDER BY h")),

    // Benford first-digit audit on order totals — the classic
    // fabricated-data / broken-generator screen: naturally-occurring
    // multi-magnitude amounts follow P(d) = log10(1 + 1/d); uniform or
    // hand-typed data does not. First digit comes from the BIGINT
    // floor's decimal rendering (identical across engines — no
    // float log10 in the comparison path); expected shares are the
    // public Benford constants in ppm. One map-side-combinable
    // 9-group aggregate; deviation_ppm is the per-digit |obs - exp|.
    // (TPC-H totalprice is range-bounded, so it deviates — the AUDIT
    // format is the operator; the verdict depends on the data.)
    Op("rel_benford_audit",
      (s, d) => {
        val exp = Seq(301030L, 176091L, 124939L, 96910L, 79181L,
          66947L, 57992L, 51153L, 45757L)
        val expCase = exp.zipWithIndex
          .map { case (p, i) => s"WHEN ${i + 1} THEN ${p}L" }
          .mkString("CASE digit ", " ", " END")
        T.t(s, d, "orders")
          .where("o_totalprice >= 1")
          .withColumn("digit", expr(
            "CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS STRING), 1, 1) AS INT)"))
          .groupBy("digit").agg(count(lit(1)).as("n"))
          .withColumn("total", sum("n").over(
            Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
          .withColumn("observed_ppm", expr(
            "CAST(CAST(n AS DECIMAL(38,0)) * 1000000 div total AS BIGINT)"))
          .withColumn("benford_ppm", expr(expCase))
          .withColumn("deviation_ppm", expr("abs(observed_ppm - benford_ppm)"))
          .select("digit", "n", "observed_ppm", "benford_ppm", "deviation_ppm")
          .orderBy("digit")
      },
      Some("WITH g AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit, " +
        "count(*) AS n FROM orders WHERE o_totalprice >= 1 GROUP BY 1), " +
        "t AS (SELECT digit, n, CAST(sum(n) OVER () AS BIGINT) AS total FROM g), " +
        "e(digit, benford_ppm) AS (VALUES (1, CAST(301030 AS BIGINT)), (2, 176091), (3, 124939), " +
        "(4, 96910), (5, 79181), (6, 66947), (7, 57992), (8, 51153), (9, 45757)) " +
        "SELECT t.digit, n, CAST(CAST(n AS HUGEINT) * 1000000 // total AS BIGINT) AS observed_ppm, " +
        "benford_ppm, abs(CAST(CAST(n AS HUGEINT) * 1000000 // total AS BIGINT) - benford_ppm) AS deviation_ppm " +
        "FROM t JOIN e ON t.digit = e.digit ORDER BY t.digit")),

    // Revenue concentration (Pareto / Lorenz points): the share of
    // total revenue held by the top 1% / 10% / 50% of customers —
    // the "do 20% of customers drive 80% of revenue" read, and the
    // skew number that sizes customer-keyed partitioning. Customer
    // revenue is 1e-2 fixed point; ranks carry a custkey tiebreak;
    // the cut row per percentile is rn == ceil(n * p) picked with
    // integer ceil math, so both engines choose the identical
    // customer. Rank AND running revenue come from DistOrder.rankCum
    // (quantile-bucketed parallel rank + prefix sums) — no global
    // window anywhere; n and the revenue total are the helper's exact
    // driver-side scalars, burned in as literals.
    Op("rel_pareto_concentration",
      (s, d) => {
        val rev = T.t(s, d, "orders")
          .groupBy("o_custkey")
          .agg(expr("sum(CAST(floor(o_totalprice * 100) AS BIGINT))").as("r"))
        val rk = graft.api.DistOrder.rankCum(rev,
          -col("r"), Seq(desc("r"), col("o_custkey")), value = Some(col("r")))
        val n = rk.n
        val c1 = (n + 99) / 100
        val c10 = (n + 9) / 10
        val c50 = (n + 1) / 2
        rk.df.where(col("rn") === c1 || col("rn") === c10 || col("rn") === c50)
          .withColumn("pct", expr(
            s"CASE WHEN rn = $c1 THEN 1 WHEN rn = $c10 THEN 10 ELSE 50 END"))
          .groupBy("pct").agg( // small n can collapse cut rows; keep ONE per pct
            min("rn").as("k_customers_i"),
            expr("CAST(min(cum) AS BIGINT)").as("cum_cents"))
          .select(col("pct"),
            expr("CAST(k_customers_i AS BIGINT)").as("k_customers"),
            expr("CAST(CAST(cum_cents AS DECIMAL(38,0)) * 1000000 " +
              s"div greatest(1, ${rk.total}) AS BIGINT)").as("share_ppm"))
          .orderBy("pct")
      },
      Some("WITH rev AS (SELECT o_custkey, " +
        "CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS r " +
        "FROM orders GROUP BY 1), " +
        "t AS (SELECT r, o_custkey, row_number() OVER w AS rn, count(*) OVER () AS n, " +
        "CAST(sum(r) OVER (ORDER BY r DESC, o_custkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum, " +
        "CAST(sum(r) OVER () AS BIGINT) AS tot FROM rev " +
        "WINDOW w AS (ORDER BY r DESC, o_custkey)) " +
        "SELECT pct, CAST(min(rn) AS BIGINT) AS k_customers, " +
        "CAST(CAST(min(cum) AS HUGEINT) * 1000000 // greatest(1, min(tot)) AS BIGINT) AS share_ppm " +
        "FROM (SELECT *, CASE WHEN rn = (n + 99) // 100 THEN 1 " +
        "WHEN rn = (n + 9) // 10 THEN 10 ELSE 50 END AS pct FROM t " +
        "WHERE rn = (n + 99) // 100 OR rn = (n + 9) // 10 OR rn = (n + 1) // 2) " +
        "GROUP BY pct ORDER BY pct")),

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

    // Chi-squared independence test (market segment x nation band on
    // customer) — the categorical companion to rel_ks_drift_test /
    // rel_psi_drift / rel_ab_welch_ttest: per-cell observed counts,
    // expected under independence, and the chi2 contribution, all in
    // integer fixed point ((o*n - r*c)^2 * 1e6 div (r*c*n) — no
    // cross-engine float summation to trust; DECIMAL(38) headroom
    // holds to ~1e8 rows x 1e8 cell counts, normalize first beyond).
    // One map-side-combinable groupBy builds the 25-cell contingency;
    // margins and the total are bounded broadcast joins off it.
    Op("rel_chi2_independence",
      (s, d) => {
        val cell = T.t(s, d, "customer")
          .groupBy(col("c_mktsegment"), expr("c_nationkey % 5").as("nat_band"))
          .agg(count(lit(1)).as("o"))
        val rm = cell.groupBy("c_mktsegment").agg(sum("o").as("r"))
        val cm = cell.groupBy("nat_band").agg(sum("o").as("c"))
        val nn = cell.agg(sum("o").as("n"))
        val dlt = "(CAST(o AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * c)"
        cell.join(broadcast(rm), "c_mktsegment")
          .join(broadcast(cm), "nat_band")
          .crossJoin(broadcast(nn))
          .select(col("c_mktsegment"), col("nat_band"), col("o").as("n_obs"),
            expr("CAST(CAST(r AS DECIMAL(38,0)) * c * 1000000 div n AS BIGINT)")
              .as("expected_ppm"),
            expr(s"CAST($dlt * $dlt * 1000000 div " +
              "(CAST(r AS DECIMAL(38,0)) * c * n) AS BIGINT)").as("contrib_ppm"))
          .orderBy("c_mktsegment", "nat_band")
      },
      Some("WITH cell AS (SELECT c_mktsegment, c_nationkey % 5 AS nat_band, " +
        "count(*) AS o FROM customer GROUP BY 1, 2), " +
        "r AS (SELECT c_mktsegment, sum(o) AS r FROM cell GROUP BY 1), " +
        "c AS (SELECT nat_band, sum(o) AS c FROM cell GROUP BY 1), " +
        "nn AS (SELECT sum(o) AS n FROM cell) " +
        "SELECT cell.c_mktsegment, cell.nat_band, o AS n_obs, " +
        "CAST(CAST(r.r AS HUGEINT) * c.c * 1000000 // nn.n AS BIGINT) AS expected_ppm, " +
        "CAST((CAST(o AS HUGEINT) * nn.n - CAST(r.r AS HUGEINT) * c.c) * " +
        "(CAST(o AS HUGEINT) * nn.n - CAST(r.r AS HUGEINT) * c.c) * 1000000 // " +
        "(CAST(r.r AS HUGEINT) * c.c * nn.n) AS BIGINT) AS contrib_ppm " +
        "FROM cell JOIN r USING (c_mktsegment) JOIN c USING (nat_band), nn " +
        "ORDER BY c_mktsegment, nat_band")),

    // HOLT-WINTERS additive seasonal forecast — the seasonal companion
    // to rel_forecast_des: level + trend via the same 8-tap geometric
    // windows (alpha ~ 0.5, integer-exact), plus a weekly seasonal
    // index per day-of-week = the mean deviation of y from its
    // CENTERED 7-day moving average over the training span (held-out
    // last week never peeks: dev rows stop 3 days before the anchor so
    // the centered window sees no test actuals). All integer fixed
    // point; the one portability trap is negative integer division
    // (Spark `div` truncates toward zero, flooring engines differ), so
    // every div rides a large positive offset — numerators stay
    // positive and trunc == floor on both engines. Day-of-week derives
    // from an epoch subtraction, not dayofweek() (whose origin
    // convention differs across engines).
    Op("rel_forecast_hw",
      (s, d) => {
        val w = Window.orderBy("day")
        val K = 1000000000000L // positivity offset for exact cross-engine div
        val daily = T.t(s, d, "orders")
          .groupBy(expr("CAST(o_orderdate AS DATE)").as("day"))
          .agg(count(lit(1)).as("y"))
        val base = daily
          .withColumn("rn", row_number().over(w))
          .withColumn("n_days", count(lit(1)).over(
            Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
          .withColumn("dy", col("y") - lag("y", 1).over(w))
          .withColumn("lnum", (0 to 7)
            .map(j => coalesce(lag(col("y"), j).over(w), lit(0L)) * lit(1L << (7 - j)))
            .reduce(_ + _))
          .withColumn("tnum", (0 to 7)
            .map(j => coalesce(lag(col("dy"), j).over(w), lit(0L)) * lit(1L << (7 - j)))
            .reduce(_ + _))
          .withColumn("dowk", expr("datediff(day, DATE '1992-01-01') % 7"))
          .withColumn("ma7sum", sum("y").over(w.rowsBetween(-3, 3)))
          .withColumn("ma7cnt", count(lit(1)).over(w.rowsBetween(-3, 3)))
        val anchor = base.where("rn = n_days - 7 AND rn >= 16")
          .select(col("rn").as("arn"), col("lnum").as("alnum"), col("tnum").as("atnum"))
        val season = base.crossJoin(broadcast(anchor.select("arn")))
          .where("ma7cnt = 7 AND rn <= arn - 3")
          .groupBy("dowk")
          .agg(sum(lit(7L) * col("y") - col("ma7sum")).as("dev_sum"),
            count(lit(1)).as("dev_cnt"))
        base.select("rn", "y", "dowk").crossJoin(broadcast(anchor))
          .withColumn("h", expr("CAST(rn - arn AS BIGINT)"))
          .where("h >= 1 AND h <= 7")
          .join(broadcast(season), Seq("dowk"), "left")
          .withColumn("s_adj", expr(
            s"(coalesce(dev_sum, 0) + ${7 * K} * coalesce(dev_cnt, 1)) " +
              s"div (7 * coalesce(dev_cnt, 1)) - $K"))
          .withColumn("forecast", expr(
            s"(alnum + h * atnum + ${255 * K}) div 255 - $K + s_adj"))
          .withColumn("abs_err", expr("abs(forecast - y)"))
          .select(col("h"), col("dowk").cast("long").as("dowk"), col("forecast"),
            col("y").as("actual"), col("abs_err"))
          .orderBy("h")
      },
      Some("WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS y " +
        "FROM orders GROUP BY 1), " +
        "lagd AS (SELECT day, y, lag(y, 1) OVER (ORDER BY day) AS lag_y FROM daily), " +
        "base AS (SELECT row_number() OVER w AS rn, count(*) OVER () AS n_days, day, y, " +
        (0 to 7).map(j => s"coalesce(lag(y, $j) OVER w, 0) * ${1L << (7 - j)}")
          .mkString(" + ") + " AS lnum, " +
        (0 to 7).map(j => s"coalesce(lag(y - lag_y, $j) OVER w, 0) * ${1L << (7 - j)}")
          .mkString(" + ") + " AS tnum, " +
        "(day - DATE '1992-01-01') % 7 AS dowk, " +
        "sum(y) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS ma7sum, " +
        "count(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS ma7cnt " +
        "FROM lagd WINDOW w AS (ORDER BY day)), " +
        "anchor AS (SELECT rn AS arn, lnum AS alnum, tnum AS atnum FROM base " +
        "WHERE rn = n_days - 7 AND rn >= 16), " +
        "season AS (SELECT dowk, CAST(sum(7 * y - ma7sum) AS BIGINT) AS dev_sum, " +
        "count(*) AS dev_cnt " +
        "FROM base, anchor WHERE ma7cnt = 7 AND rn <= arn - 3 GROUP BY 1) " +
        "SELECT CAST(rn - arn AS BIGINT) AS h, base.dowk, " +
        "CAST((alnum + CAST(rn - arn AS BIGINT) * atnum + 255000000000000) // 255 " +
        "- 1000000000000 + " +
        "((coalesce(dev_sum, 0) + 7000000000000 * coalesce(dev_cnt, 1)) " +
        "// (7 * coalesce(dev_cnt, 1)) - 1000000000000) AS BIGINT) AS forecast, " +
        "y AS actual, " +
        "CAST(abs((alnum + CAST(rn - arn AS BIGINT) * atnum + 255000000000000) // 255 " +
        "- 1000000000000 + " +
        "((coalesce(dev_sum, 0) + 7000000000000 * coalesce(dev_cnt, 1)) " +
        "// (7 * coalesce(dev_cnt, 1)) - 1000000000000) - y) AS BIGINT) AS abs_err " +
        "FROM base CROSS JOIN anchor LEFT JOIN season ON season.dowk = base.dowk " +
        "WHERE rn - arn >= 1 AND rn - arn <= 7 ORDER BY h")))
}
