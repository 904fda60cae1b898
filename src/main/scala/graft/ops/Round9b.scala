package graft.ops

import graft.{Op, Tables => T}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-9b operators: classic commerce analytics (market-basket lift,
  * RFM segmentation), irregular-time-series statistics (time-weighted
  * averages, hour-of-day seasonality), and corpus/embedding audits
  * (tokenizer fertility by language, matryoshka-truncation recall).
  *
  * Same determinism discipline as Round8b/Round9: integer ppm /
  * fixed-point end-to-end, DECIMAL(38,0) (Spark) / HUGEINT (DuckDB)
  * wherever a product of BIGINTs could overflow, total ORDER BY over a
  * unique key, and identical expression trees on both engines for the
  * few unavoidable DOUBLEs (cosine similarity).
  */
object Round9b {

  import org.apache.spark.sql.{DataFrame, SparkSession}

  /** events with 1e-6 fixed-point value and epoch-microsecond ts (the
    * shared event-family projection; oracle twin is the `ev` CTE).
    */
  private def eventsFp(s: SparkSession, d: String): DataFrame =
    T.events(s, d).select(col("event_type"), col("user_id"), col("event_id"),
      expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"),
      expr("CAST(floor(value * 1000000) AS BIGINT)").as("v"))

  private val oEv =
    "ev AS (SELECT event_type, user_id, event_id, epoch_us(ts) AS us, " +
      "CAST(floor(value * 1000000) AS BIGINT) AS v FROM events)"

  val ops: Seq[Op] = Seq(

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
        eventsFp(s, d)
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
      Some(s"WITH $oEv, " +
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

    // Hour-of-day seasonality profile per event type: traffic index
    // (that hour's share of the type's events vs uniform, in ppm) and
    // the hour's mean value (1e-6 fixed point). ONE scan feeds the
    // (type, hour) aggregate; the per-type totals ride a window over
    // the |types|*24-row RESULT, not the event stream. Hour comes from
    // integer epoch-microsecond math ((us div 3.6e9) % 24) — no
    // timezone/calendar dependency between engines.
    Op("rel_seasonality_profile",
      (s, d) => {
        val g = eventsFp(s, d)
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

    // Tokenizer fertility by language: tokens per 100 chars (ppm) per
    // lang bucket — the standard check that a tokenizer doesn't
    // over-fragment some languages (fertility outliers = wasted
    // context budget). Uses the house regex tokenizer (same class
    // pattern as llm_token_count); one scan, one |langs|-sized
    // aggregate; the 1e8-scaled ratio rides DECIMAL(38)/HUGEINT (sum
    // of tokens * 1e8 passes int64 around 1e11 corpus tokens).
    Op("llm_token_fertility",
      (s, d) => T.t(s, d, "documents")
        .groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          expr("sum(CAST(size(regexp_extract_all(text, '[a-z]+|[A-Z]+|[0-9]+', 0)) AS BIGINT))")
            .as("tokens"),
          expr("sum(CAST(length(text) AS BIGINT))").as("chars"))
        .withColumn("fertility_ppm", expr(
          "CAST(CAST(tokens AS DECIMAL(38,0)) * 100 * 1000000 div greatest(1, chars) AS BIGINT)"))
        .withColumn("mean_tokens", expr("tokens div n_docs"))
        .orderBy("lang"),
      Some("SELECT lang, count(*) AS n_docs, " +
        "CAST(sum(CAST(len(regexp_extract_all(text, '[a-z]+|[A-Z]+|[0-9]+', 0)) AS BIGINT)) AS BIGINT) AS tokens, " +
        "CAST(sum(CAST(length(text) AS BIGINT)) AS BIGINT) AS chars, " +
        "CAST(CAST(sum(CAST(len(regexp_extract_all(text, '[a-z]+|[A-Z]+|[0-9]+', 0)) AS BIGINT)) AS HUGEINT) " +
        "* 100 * 1000000 // greatest(1, CAST(sum(CAST(length(text) AS BIGINT)) AS BIGINT)) AS BIGINT) AS fertility_ppm, " +
        "CAST(sum(CAST(len(regexp_extract_all(text, '[a-z]+|[A-Z]+|[0-9]+', 0)) AS BIGINT)) " +
        "// count(*) AS BIGINT) AS mean_tokens " +
        "FROM documents GROUP BY 1 ORDER BY 1")),

    // Matryoshka (MRL) truncation recall audit: top-10 neighbours by
    // cosine on the FIRST 32 of 64 dims vs the full-dim truth, for 5
    // broadcast probes — the measurement that decides whether an index
    // can store half-width vectors (2x memory/IO at serving time) for
    // a tolerable recall loss. Both rank windows sit on ONE probe_id
    // exchange over the 5x|vectors| scored stream; the cosine is the
    // registered sequential-fold Catalyst expression, bit-matched by
    // DuckDB's list_reduce left fold.
    Op("llm_mrl_recall",
      (s, d) => {
        val emb = T.t(s, d, "embeddings")
        val probes = emb.where("vec_id < 5")
          .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
        val wf = Window.partitionBy("probe_id").orderBy(desc("sim_full"), col("vec_id"))
        val wh = Window.partitionBy("probe_id").orderBy(desc("sim_half"), col("vec_id"))
        T.spread(emb).crossJoin(broadcast(probes)).where("vec_id <> probe_id")
          .withColumn("sim_full", expr("cosine_sim(embedding, p_emb)"))
          .withColumn("sim_half", expr(
            "cosine_sim(slice(embedding, 1, 32), slice(p_emb, 1, 32))"))
          .withColumn("rf", row_number().over(wf))
          .withColumn("rh", row_number().over(wh))
          .where("rf <= 10 OR rh <= 10")
          .groupBy("probe_id").agg(
            expr("CAST(count_if(rf <= 10 AND rh <= 10) AS BIGINT)").as("n_overlap"))
          .withColumn("recall_ppm", expr("n_overlap * 1000000 div 10"))
          .orderBy("probe_id")
      },
      Some("WITH p AS (SELECT vec_id AS probe_id, embedding AS p_emb FROM embeddings WHERE vec_id < 5), " +
        "scored AS (SELECT probe_id, vec_id, " +
        s"${Round3.oSimSql("embedding", "p_emb")} AS sim_full, " +
        s"${Round3.oSimSql("embedding[1:32]", "p_emb[1:32]")} AS sim_half " +
        "FROM embeddings, p WHERE vec_id <> probe_id), " +
        "rk AS (SELECT probe_id, vec_id, " +
        "row_number() OVER (PARTITION BY probe_id ORDER BY sim_full DESC, vec_id) AS rf, " +
        "row_number() OVER (PARTITION BY probe_id ORDER BY sim_half DESC, vec_id) AS rh FROM scored) " +
        "SELECT probe_id, CAST(count_if(rf <= 10 AND rh <= 10) AS BIGINT) AS n_overlap, " +
        "CAST(count_if(rf <= 10 AND rh <= 10) AS BIGINT) * 1000000 // 10 AS recall_ppm " +
        "FROM rk WHERE rf <= 10 OR rh <= 10 GROUP BY 1 ORDER BY 1")),

    // Parquet footer-stats integrity audit: per-column value and null
    // counts read from the ROW-GROUP METADATA (parquet-hadoop footer
    // API, no data pages touched), verified against the data by the
    // oracle. Footer stats are what every stats-based file/row-group
    // skip trusts — min/max pruning, null-aware rewrites, bloom
    // routing — so "footer == data" is the audit that makes skipping
    // safe to enable. The driver-side loop is bounded by metadata size
    // (row-groups x columns), never rows.
    Op("src_parquet_rowgroup_stats",
      (s, d) => {
        import scala.jdk.CollectionConverters._
        import org.apache.hadoop.fs.Path
        val conf = s.sparkContext.hadoopConfiguration
        val root = new Path(s"$d/lineitem.parquet")
        val hfs = root.getFileSystem(conf)
        val files =
          if (hfs.getFileStatus(root).isDirectory)
            hfs.listStatus(root).map(_.getPath)
              .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
          else Array(root)
        val chunks = files.flatMap { fp =>
          val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(fp, conf))
          try rd.getFooter.getBlocks.asScala.flatMap(b => b.getColumns.asScala.map(c =>
            (c.getPath.toDotString, c.getValueCount,
              Option(c.getStatistics).filter(!_.isEmpty).map(_.getNumNulls).getOrElse(0L))))
          finally rd.close()
        }
        import s.implicits._
        chunks.toSeq.groupBy(_._1).toSeq
          .map { case (name, cs) => (name, cs.map(_._2).sum, cs.map(_._3).sum) }
          .sortBy(_._1)
          .toDF("col_name", "n_values", "n_nulls")
      },
      Some(Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
          "l_shipdate")
        .map(c => s"SELECT '$c' AS col_name, count(*) AS n_values, " +
          s"count(*) - count($c) AS n_nulls FROM lineitem")
        .mkString("", " UNION ALL ", " ORDER BY col_name"))),

    // Store vacuum driven end-to-end under the oracle: build a StoreIO
    // generation, plant the two real crash-debris shapes (an orphaned
    // staged write whose writer died pre-swap, and a stale `-old`
    // retiree alongside a live current), vacuum, and audit — debris
    // counts plus the store row count read BACK from the store, so the
    // oracle also proves vacuum never touched live data. The
    // crash-window fallback (`-old` with NO current) is pinned
    // untouchable by Round9bSpec.
    Op("core_store_vacuum",
      (s, d) => {
        val dir = s"target/tmp/vacstore_${d.replaceAll("[^A-Za-z0-9]", "_")}"
        graft.api.StoreIO.delete(s, dir)
        val data = T.t(s, d, "lineitem").where("l_orderkey % 10 = 0")
          .select("l_orderkey", "l_linenumber", "l_quantity")
        graft.api.StoreIO.swapIn(data, s, s"$dir/t")
        data.limit(5).write.mode("overwrite").parquet(s"$dir/t-staged-deadbeef")
        data.limit(3).write.mode("overwrite").parquet(s"$dir/t-old")
        val (nStaged, nOld) = graft.api.StoreIO.vacuum(s, dir)
        val rows = graft.api.StoreIO.read(s, dir, "t").count()
        import s.implicits._
        Seq((nStaged.toLong, nOld.toLong, rows))
          .toDF("n_staged_removed", "n_old_removed", "rows_store")
      },
      Some("SELECT CAST(1 AS BIGINT) AS n_staged_removed, " +
        "CAST(1 AS BIGINT) AS n_old_removed, " +
        "(SELECT count(*) FROM lineitem WHERE l_orderkey % 10 = 0) AS rows_store")))
}
