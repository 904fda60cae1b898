package graft.ops

import graft.{Op, Tables => T}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** SURVEY.md §2-D — the store and DML operators: MERGE/DELETE/UPDATE
  * SQL, the UpsertStore's time travel, changefeeds, maintenance, restore
  * and clone, the incremental materialized view, write-audit-publish and
  * the DQ history. Every op writes its store under `target/tmp` and
  * reads the result back before the store is deleted.
  */
object StoreOps {

  /** The 6-expectation DQ panel as stack() args, shared by the two
    * runs of core_dq_trend (ppm against a declared threshold;
    * discount_le_5pct keeps its deliberately-failing 99% bar).
    */
  private val panelStack =
    "stack(6, " +
      "'completeness_quantity', CAST(qty_nn * 1000000 div greatest(1, n) AS BIGINT), CAST(1000000 AS BIGINT), " +
      "'range_discount', CAST(disc_rng * 1000000 div greatest(1, n) AS BIGINT), CAST(1000000 AS BIGINT), " +
      "'set_returnflag', CAST(rf_set * 1000000 div greatest(1, n) AS BIGINT), CAST(1000000 AS BIGINT), " +
      "'positive_price', CAST(price_pos * 1000000 div greatest(1, n) AS BIGINT), CAST(1000000 AS BIGINT), " +
      "'discount_le_5pct', CAST(disc_low * 1000000 div greatest(1, n) AS BIGINT), CAST(990000 AS BIGINT), " +
      "'unique_orderline', CAST(ol_keys * 1000000 div greatest(1, n) AS BIGINT), CAST(1000000 AS BIGINT)" +
      ") AS (expectation, metric_ppm, threshold_ppm)"

  private val oPanelRows = Seq(
    ("completeness_quantity", "qty_nn", 1000000),
    ("range_discount", "disc_rng", 1000000),
    ("set_returnflag", "rf_set", 1000000),
    ("positive_price", "price_pos", 1000000),
    ("discount_le_5pct", "disc_low", 990000),
    ("unique_orderline", "ol_keys", 1000000))

  /** Latest-order-per-customer seed frame with exact integer money
    * (cents) — the shared fixture for the DML ops, so every oracle is
    * integer-exact on both engines.
    */
  private def seedSrc(s: org.apache.spark.sql.SparkSession, d: String) =
    T.t(s, d, "orders").select(
      col("o_custkey"), col("o_orderkey"),
      expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("total_cents"),
      expr("o_orderkey % 100").as("disc_cents"))

  /** DuckDB CTE `l`: the same latest-per-customer seed. */
  private val oSeed =
    "f AS (SELECT o_custkey, o_orderkey, " +
      "CAST(floor(o_totalprice * 100) AS BIGINT) AS total_cents, " +
      "o_orderkey % 100 AS disc_cents, " +
      "row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn " +
      "FROM orders), " +
      "l AS (SELECT o_custkey, o_orderkey, total_cents, disc_cents FROM f WHERE rn = 1)"

  /** `orders (o_custkey, o_orderkey, o_totalprice)` split into CDC
    * batches by the column `b = o_orderkey % mod`.
    */
  private def ordersBatches(s: SparkSession, d: String, mod: Int = 3): DataFrame =
    T.t(s, d, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("b", pmod(col("o_orderkey"), lit(mod)))

  /** Commits batch `b` of [[ordersBatches]] into the 8-bucket
    * UpsertStore at `dir` (latest o_orderkey per o_custkey) as batch id
    * `b<b>`; false when the store's ledger already holds that id.
    */
  private def commitBatch(t: DataFrame, dir: String, b: Int): Boolean =
    graft.api.UpsertStore.update(t.where(col("b") === b).drop("b"), dir,
      "o_custkey", "o_orderkey", nBuckets = 8, batchId = Some(s"b$b"))

  /** Runs `body` on a fresh directory `target/tmp/<name>_<id>`; its
    * result is pinned with `localCheckpoint` before the directory is
    * deleted.
    */
  private def withStore(s: SparkSession, name: String)(body: String => DataFrame): DataFrame = {
    val dir = s"target/tmp/${name}_${java.util.UUID.randomUUID().toString.take(8)}"
    val got = body(dir).localCheckpoint()
    graft.api.StoreIO.delete(s, dir)
    got
  }

  val ops: Seq[Op] = Seq(

    // DQ metrics TREND — the Deequ-metrics-repository shape as a
    // query: the same expectation panel core_dq_expectations computes,
    // evaluated over two consecutive "runs" (the shipdate-midpoint
    // halves of lineitem — a deterministic stand-in for run N-1 vs
    // run N), then the per-expectation delta with a regression alert
    // (ok flipped to failing, or metric dropped > 1000 ppm). ONE scan
    // computes both runs' panels as conditional aggregates on a 2-row
    // groupBy; everything after the agg touches 12 rows. The
    // persistent companion (graft.api.DqHistory: append each real
    // run's panel under a StoreIO generation + replay ledger, trend
    // the two most recent) runs this exact delta math over stored
    // history — spec-pinned to agree.
    Op("core_dq_trend",
      (s, d) => {
        val b = T.t(s, d, "lineitem").agg(expr(
          "date_add(CAST(min(l_shipdate) AS DATE), " +
            "CAST(datediff(CAST(max(l_shipdate) AS DATE), CAST(min(l_shipdate) AS DATE)) div 2 AS INT))")
          .as("mid"))
        val p = T.t(s, d, "lineitem").crossJoin(broadcast(b))
          .withColumn("h", expr("CASE WHEN CAST(l_shipdate AS DATE) < mid THEN 1 ELSE 2 END"))
          .groupBy("h").agg(
            count(lit(1)).as("n"),
            count(col("l_quantity")).as("qty_nn"),
            expr("count_if(l_discount >= 0 AND l_discount <= 0.1)").as("disc_rng"),
            expr("count_if(l_returnflag IN ('A','N','R'))").as("rf_set"),
            expr("count_if(l_extendedprice > 0)").as("price_pos"),
            expr("count_if(l_discount <= 0.05)").as("disc_low"),
            // injective integer pair key (TPC-H pins l_linenumber in 1..7):
            // no per-row string concat/alloc on the 100-TB scan
            countDistinct(expr("l_orderkey * 10 + l_linenumber")).as("ol_keys"))
          .select(col("h"), expr(panelStack))
          .localCheckpoint() // 12 rows; feeds both sides of the run join
        val r1 = p.where("h = 1")
          .select(col("expectation"), col("threshold_ppm"), col("metric_ppm").as("prev_ppm"))
        val r2 = p.where("h = 2").select(col("expectation"), col("metric_ppm"))
        r1.join(r2, "expectation")
          .withColumn("delta_ppm", expr("metric_ppm - prev_ppm"))
          .withColumn("regressed", expr(
            "(prev_ppm >= threshold_ppm AND metric_ppm < threshold_ppm) OR delta_ppm < -1000"))
          .select("expectation", "threshold_ppm", "prev_ppm", "metric_ppm",
            "delta_ppm", "regressed")
          .orderBy("expectation")
      },
      Some("WITH bb AS (SELECT CAST(min(l_shipdate) AS DATE) + " +
        "CAST((CAST(max(l_shipdate) AS DATE) - CAST(min(l_shipdate) AS DATE)) // 2 AS INTEGER) AS mid " +
        "FROM lineitem), " +
        "m AS (SELECT CASE WHEN CAST(l_shipdate AS DATE) < bb.mid THEN 1 ELSE 2 END AS h, " +
        "count(*) AS n, count(l_quantity) AS qty_nn, " +
        "count_if(l_discount >= 0 AND l_discount <= 0.1) AS disc_rng, " +
        "count_if(l_returnflag IN ('A','N','R')) AS rf_set, " +
        "count_if(l_extendedprice > 0) AS price_pos, " +
        "count_if(l_discount <= 0.05) AS disc_low, " +
        "count(DISTINCT l_orderkey * 10 + l_linenumber) AS ol_keys " +
        "FROM lineitem, bb GROUP BY 1), " +
        "p AS (" + oPanelRows.map { case (nm, c, thr) =>
          s"SELECT h, '$nm' AS expectation, " +
            s"CAST($c * 1000000 // greatest(1, n) AS BIGINT) AS metric_ppm, " +
            s"CAST($thr AS BIGINT) AS threshold_ppm FROM m"
        }.mkString(" UNION ALL ") + ") " +
        "SELECT p1.expectation, p1.threshold_ppm, p1.metric_ppm AS prev_ppm, " +
        "p2.metric_ppm AS metric_ppm, p2.metric_ppm - p1.metric_ppm AS delta_ppm, " +
        "((p1.metric_ppm >= p1.threshold_ppm AND p2.metric_ppm < p1.threshold_ppm) " +
        "OR p2.metric_ppm - p1.metric_ppm < -1000) AS regressed " +
        "FROM p p1 JOIN p p2 ON p1.expectation = p2.expectation AND p1.h = 1 AND p2.h = 2 " +
        "ORDER BY p1.expectation")),

    // The persistent UpsertStore driven END-TO-END under the oracle:
    // orders split into three CDC batches (o_orderkey % 3, applied in
    // order) merge into a fresh bucketed store keyed o_custkey with
    // o_orderkey as the version; the final table must equal the
    // declarative MERGE semantics — per key, the greatest version
    // within the LAST batch that carried the key (batch rows override
    // stored rows; within a batch the greatest version wins). This
    // puts the store's bucket routing, staged swaps and ledger on the
    // same correctness gate as every relational operator, not just
    // under unit specs.
    Op("core_upsert_store",
      (s, d) => {
        withStore(s, "upsert_op") { dir =>
          val t = ordersBatches(s, d)
          (0 to 2).foreach(commitBatch(t, dir, _))
          graft.api.UpsertStore.read(s, dir)
        }.orderBy("o_custkey")
      },
      Some("WITH t AS (SELECT o_custkey, o_orderkey, o_totalprice, o_orderkey % 3 AS b FROM orders), " +
        "m AS (SELECT o_custkey, max(b) AS mb FROM t GROUP BY 1), " +
        "f AS (SELECT t.o_custkey, t.o_orderkey, t.o_totalprice, " +
        "row_number() OVER (PARTITION BY t.o_custkey ORDER BY t.o_orderkey DESC) AS rn " +
        "FROM t JOIN m ON t.o_custkey = m.o_custkey AND t.b = m.mb) " +
        "SELECT o_custkey, o_orderkey, o_totalprice FROM f WHERE rn = 1 ORDER BY o_custkey")),

    // GDPR/right-to-be-forgotten erasure as a TARGETED-PARTITION
    // rewrite: events land user-bucketed (pmod(user_id, 16) — the
    // layout a deletion-heavy store chooses so an erasure request maps
    // to partitions, not a table scan), the erasure set (user_id % 50
    // = 0) resolves to its touched buckets, and ONLY those partitions
    // are rewritten via dynamic partition overwrite. The report reads
    // rows_after back from the store itself — the audit trail proves
    // the rewrite, not the plan. At 100 TB this is the difference
    // between rewriting ~3 partitions and rewriting the corpus.
    Op("core_erasure_partition_rewrite",
      (s, d) => {
        withStore(s, "erase") { dir =>
          val ev = T.events(s, d).select(col("user_id"), col("event_id"), col("value"))
            .withColumn("bucket", pmod(col("user_id"), lit(16)).cast("int"))
          ev.write.partitionBy("bucket").mode("overwrite").parquet(dir)
          val touched = ev.where("user_id % 50 = 0")
            .select("bucket").distinct().collect().map(_.getInt(0)).sorted
          ev.where(col("bucket").isin(touched.toIndexedSeq: _*))
            .where("NOT (user_id % 50 = 0)")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket").parquet(dir)
          // dynamic overwrite CANNOT erase a partition it writes no rows
          // for (no key, no overwrite) — a bucket whose every row was
          // erased would silently survive; those must be deleted
          // explicitly. The real-table analogue of Delta's deletion
          // vectors / REPLACE WHERE.
          val survivors = ev.where(col("bucket").isin(touched.toIndexedSeq: _*))
            .where("NOT (user_id % 50 = 0)")
            .select("bucket").distinct().collect().map(_.getInt(0)).toSet
          touched.filterNot(survivors).foreach(b =>
            graft.api.StoreIO.delete(s, s"$dir/bucket=$b"))
          val before = ev.where(col("bucket").isin(touched.toIndexedSeq: _*))
            .groupBy("bucket").agg(
              count(lit(1)).as("rows_before"),
              expr("count_if(user_id % 50 = 0)").as("rows_erased"))
          val after =
            if (touched.isEmpty) // empty corpus: nothing written, nothing to read back
              before.select(col("bucket")).withColumn("rows_after", lit(0L))
            else s.read.parquet(dir)
              .where(col("bucket").isin(touched.toIndexedSeq: _*))
              .groupBy(col("bucket").cast("int").as("bucket"))
              .agg(count(lit(1)).as("rows_after"))
          before.join(after, Seq("bucket"), "left")
            .select(col("bucket"), col("rows_before"), col("rows_erased"),
              coalesce(col("rows_after"), lit(0L)).as("rows_after"))
        }.orderBy("bucket")
      },
      Some("WITH ev AS (SELECT user_id, CAST(user_id % 16 AS INTEGER) AS bucket FROM events), " +
        "t AS (SELECT DISTINCT bucket FROM ev WHERE user_id % 50 = 0) " +
        "SELECT ev.bucket, count(*) AS rows_before, " +
        "CAST(count_if(ev.user_id % 50 = 0) AS BIGINT) AS rows_erased, " +
        "CAST(count(*) - count_if(ev.user_id % 50 = 0) AS BIGINT) AS rows_after " +
        "FROM ev JOIN t USING (bucket) GROUP BY ev.bucket ORDER BY ev.bucket")),

    // Store vacuum driven end-to-end under the oracle: build a StoreIO
    // generation, plant the two real crash-debris shapes (an orphaned
    // staged write whose writer died pre-swap, and a stale `-old`
    // retiree alongside a live current), vacuum, and audit — debris
    // counts plus the store row count read BACK from the store, so the
    // oracle also proves vacuum never touched live data. The
    // crash-window fallback (`-old` with NO current) is pinned
    // untouchable by a spec.
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
        "(SELECT count(*) FROM lineitem WHERE l_orderkey % 10 = 0) AS rows_store")),

    // Write-Audit-Publish driven end-to-end under the oracle — the
    // pattern that keeps bad batches OUT of a serving table: write the
    // batch to a STAGED location, audit the staged files by reading
    // them back (not the in-memory frame — the audit must cover what
    // was actually persisted), and only then atomically promote the
    // staged directory as the table's next generation. A failed audit
    // deletes the staging and leaves the table exactly as it was
    // (a spec pins the abort path). The audit here is a 3-check
    // panel (non-empty, quantity completeness, positive price) over
    // one scan of the staged parquet.
    Op("core_wap_publish",
      (s, d) => {
        import s.implicits._
        val dir = s"target/tmp/wap_${d.replaceAll("[^A-Za-z0-9]", "_")}"
        graft.api.StoreIO.delete(s, dir)
        val batch = T.t(s, d, "lineitem").where("l_orderkey % 7 = 0")
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        val checks = Seq[(String, org.apache.spark.sql.DataFrame => Boolean)](
          "non_empty" -> (df => df.limit(1).count() > 0),
          "quantity_complete" ->
            (df => df.where("l_quantity IS NULL").limit(1).count() == 0),
          "price_positive" ->
            (df => df.where("l_extendedprice <= 0").limit(1).count() == 0))
        val report = graft.api.Wap.publish(s, batch, dir, "t", checks)
        val rows =
          if (report.published) graft.api.StoreIO.read(s, dir, "t").count() else 0L
        Seq((report.published, report.checksPassed.toLong,
            report.checksFailed.toLong, rows))
          .toDF("published", "checks_passed", "checks_failed", "rows_live")
      },
      Some("SELECT true AS published, CAST(3 AS BIGINT) AS checks_passed, " +
        "CAST(0 AS BIGINT) AS checks_failed, " +
        "(SELECT count(*) FROM lineitem WHERE l_orderkey % 7 = 0) AS rows_live")),

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
        withStore(s, "merge_sql") { dir =>
          val t = ordersBatches(s, d)
          (0 to 2).foreach { b =>
            t.where(col("b") === b).drop("b")
              .createOrReplaceTempView(s"graft_merge_src_$b")
            graft.api.MergeSql.run(s,
              s"MERGE INTO '$dir' AS t USING graft_merge_src_$b AS s " +
                "ON t.o_custkey = s.o_custkey LATEST BY o_orderkey " +
                "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
              nBuckets = 8, batchId = Some(s"b$b")): Unit
          }
          graft.api.MergeSql.readTarget(s, dir)
        }.orderBy("o_custkey")
      },
      Some("WITH t AS (SELECT o_custkey, o_orderkey, o_totalprice, o_orderkey % 3 AS b FROM orders), " +
        "m AS (SELECT o_custkey, max(b) AS mb FROM t GROUP BY 1), " +
        "f AS (SELECT t.o_custkey, t.o_orderkey, t.o_totalprice, " +
        "row_number() OVER (PARTITION BY t.o_custkey ORDER BY t.o_orderkey DESC) AS rn " +
        "FROM t JOIN m ON t.o_custkey = m.o_custkey AND t.b = m.mb) " +
        "SELECT o_custkey, o_orderkey, o_totalprice FROM f WHERE rn = 1 ORDER BY o_custkey")),

    // The second mutation-SQL verb: DELETE FROM '<dir>' WHERE <pred>
    // against the upsert store (the GDPR-erasure / retention-sweep
    // shape as SQL text). Builds the store through one MERGE, deletes
    // a customer slice, reads back — per-bucket rewrite of only the
    // buckets holding matches, under lease + ledger, every promotion
    // an atomic swap.
    Op("core_delete_sql",
      (s, d) => {
        withStore(s, "delete_sql") { dir =>
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
          graft.api.MergeSql.readTarget(s, dir)
        }.orderBy("o_custkey")
      },
      Some("WITH f AS (SELECT o_custkey, o_orderkey, o_totalprice, " +
        "row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn " +
        "FROM orders) " +
        "SELECT o_custkey, o_orderkey, o_totalprice FROM f " +
        "WHERE rn = 1 AND o_custkey % 10 <> 3 ORDER BY o_custkey")),

    // CDC TOMBSTONES through the MERGE surface: the source carries a
    // change-op flag and the statement's `WHEN MATCHED AND op = 'D'
    // THEN DELETE` clause (the third standard MERGE clause) removes a
    // key whose LATEST change is a delete — the Debezium-feed shape
    // applied in one statement. Version arbitration runs BEFORE the
    // tombstone split, so a delete superseded by a later update in the
    // same batch correctly upserts.
    Op("core_merge_tombstones",
      (s, d) => {
        withStore(s, "merge_cdc") { dir =>
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
          graft.api.MergeSql.readTarget(s, dir)
        }.orderBy("o_custkey")
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
        val t = ordersBatches(s, d)
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

    // The THIRD mutation-SQL verb, completing the MERGE/DELETE/UPDATE
    // DML triad: `UPDATE '<dir>' SET col = expr, ... WHERE pred`
    // against the upsert store. Assignment right-hand sides evaluate
    // against the PRE-UPDATE row (ANSI): the op's second assignment
    // zeroes the column the first one reads, and the oracle pins that
    // both saw the old values. Only buckets with matches gain a new
    // generation, under lease + ledger; a replay with the same batchId
    // is a no-op (asserted inline — 0 rows on the second run).
    Op("core_update_sql",
      (s, d) => {
        withStore(s, "update_sql") { dir =>
          seedSrc(s, d).createOrReplaceTempView("graft_update_src")
          graft.api.MergeSql.run(s,
            s"MERGE INTO '$dir' USING graft_update_src ON t.o_custkey = s.o_custkey " +
              "LATEST BY o_orderkey WHEN MATCHED THEN UPDATE SET * " +
              "WHEN NOT MATCHED THEN INSERT *",
            nBuckets = 8, batchId = Some("seed")): Unit
          val sql = s"UPDATE '$dir' SET total_cents = total_cents + disc_cents, " +
            "disc_cents = CAST(0 AS BIGINT) WHERE o_custkey % 5 = 0"
          graft.api.MergeSql.runUpdate(s, sql, batchId = Some("u1")): Unit
          val n2 = graft.api.MergeSql.runUpdate(s, sql, batchId = Some("u1"))
          require(n2 == 0L, s"replayed UPDATE must be a ledger no-op, touched $n2")
          graft.api.MergeSql.readTarget(s, dir)
        }.orderBy("o_custkey")
      },
      Some(s"WITH $oSeed " +
        "SELECT o_custkey, o_orderkey, " +
        "CASE WHEN o_custkey % 5 = 0 THEN total_cents + disc_cents ELSE total_cents END AS total_cents, " +
        "CASE WHEN o_custkey % 5 = 0 THEN CAST(0 AS BIGINT) ELSE disc_cents END AS disc_cents " +
        "FROM l ORDER BY o_custkey")),

    // MERGE's full-sync clause: `WHEN NOT MATCHED BY SOURCE AND <pred>
    // THEN DELETE` — the snapshot-reconciliation shape (source is the
    // new full state; stored keys it no longer carries are swept,
    // here conditionally: every 7th customer is contractually
    // retained). Matched keys take the source row as usual; the clause
    // inherently visits every bucket, which is exactly what a
    // full-snapshot reconcile means.
    Op("core_merge_full_sync",
      (s, d) => {
        withStore(s, "full_sync") { dir =>
          seedSrc(s, d).select("o_custkey", "o_orderkey", "total_cents")
            .createOrReplaceTempView("graft_sync_seed")
          graft.api.MergeSql.run(s,
            s"MERGE INTO '$dir' USING graft_sync_seed ON t.o_custkey = s.o_custkey " +
              "LATEST BY o_orderkey WHEN MATCHED THEN UPDATE SET * " +
              "WHEN NOT MATCHED THEN INSERT *",
            nBuckets = 8, batchId = Some("seed")): Unit
          seedSrc(s, d).where("o_custkey % 3 <> 1")
            .select(col("o_custkey"), col("o_orderkey"),
              (col("total_cents") + 1).as("total_cents"))
            .createOrReplaceTempView("graft_sync_snap")
          graft.api.MergeSql.run(s,
            s"MERGE INTO '$dir' USING graft_sync_snap ON t.o_custkey = s.o_custkey " +
              "LATEST BY o_orderkey WHEN MATCHED THEN UPDATE SET * " +
              "WHEN NOT MATCHED THEN INSERT * " +
              "WHEN NOT MATCHED BY SOURCE AND o_custkey % 7 <> 0 THEN DELETE",
            nBuckets = 8, batchId = Some("sync")): Unit
          graft.api.MergeSql.readTarget(s, dir)
        }.orderBy("o_custkey")
      },
      Some(s"WITH $oSeed " +
        "SELECT o_custkey, o_orderkey, total_cents + 1 AS total_cents FROM l " +
        "WHERE o_custkey % 3 <> 1 " +
        "UNION ALL " +
        "SELECT o_custkey, o_orderkey, total_cents FROM l " +
        "WHERE o_custkey % 3 = 1 AND o_custkey % 7 = 0 " +
        "ORDER BY o_custkey")),

    // TIME TRAVEL over the generation-log store: three CDC batches
    // commit as seqs 1..3; `readAsOf(2)` reconstructs the two-batch
    // state (per bucket, the newest generation <= 2 — buckets first
    // touched by batch 3 contribute nothing, exactly the state a
    // reader at that commit saw), while the plain read serves seq 3.
    // Both snapshots ship under one oracle, tagged — the DuckDB side
    // replays the two- and three-batch latest-wins semantics directly.
    Op("core_store_time_travel",
      (s, d) => {
        withStore(s, "time_travel") { dir =>
          val t = ordersBatches(s, d)
          (0 to 2).foreach(commitBatch(t, dir, _))
          require(graft.api.UpsertStore.snapshotSeq(s, dir) == 3L,
            "three batches must commit as seqs 1..3")
          val asof = graft.api.UpsertStore.readAsOf(s, dir, 2L)
            .withColumn("snap", lit("asof2"))
          val cur = graft.api.UpsertStore.read(s, dir)
            .withColumn("snap", lit("current"))
          asof.unionByName(cur)
        }.orderBy("snap", "o_custkey")
      },
      Some("WITH t AS (SELECT o_custkey, o_orderkey, o_totalprice, o_orderkey % 3 AS b FROM orders), " +
        "m2 AS (SELECT o_custkey, max(b) AS mb FROM t WHERE b <= 1 GROUP BY 1), " +
        "f2 AS (SELECT t.o_custkey, t.o_orderkey, t.o_totalprice, " +
        "row_number() OVER (PARTITION BY t.o_custkey ORDER BY t.o_orderkey DESC) AS rn " +
        "FROM t JOIN m2 ON t.o_custkey = m2.o_custkey AND t.b = m2.mb), " +
        "m3 AS (SELECT o_custkey, max(b) AS mb FROM t GROUP BY 1), " +
        "f3 AS (SELECT t.o_custkey, t.o_orderkey, t.o_totalprice, " +
        "row_number() OVER (PARTITION BY t.o_custkey ORDER BY t.o_orderkey DESC) AS rn " +
        "FROM t JOIN m3 ON t.o_custkey = m3.o_custkey AND t.b = m3.mb) " +
        "SELECT o_custkey, o_orderkey, o_totalprice, 'asof2' AS snap FROM f2 WHERE rn = 1 " +
        "UNION ALL " +
        "SELECT o_custkey, o_orderkey, o_totalprice, 'current' AS snap FROM f3 WHERE rn = 1 " +
        "ORDER BY snap, o_custkey")),

    // SCHEMA EVOLUTION on the store: batch 2 ADDS a column (and is
    // deliberately a SMALL key slice into a 32-bucket store, so most
    // buckets keep their pre-evolution generations on disk). The
    // merged read surfaces the new column across generation schemas
    // (parquet schema merge) with NULL backfill for keys whose newest
    // row predates it — the Delta-style additive evolution a
    // long-lived CDC target needs.
    Op("core_store_schema_evolution",
      (s, d) => {
        withStore(s, "schema_evo") { dir =>
          val t = ordersBatches(s, d, 2)
          graft.api.UpsertStore.update(
            t.where("b = 0").select("o_custkey", "o_orderkey"),
            dir, "o_custkey", "o_orderkey", nBuckets = 32, batchId = Some("v1")): Unit
          graft.api.UpsertStore.update(
            t.where("b = 1 AND o_custkey % 10 = 7")
              .select("o_custkey", "o_orderkey", "o_totalprice"),
            dir, "o_custkey", "o_orderkey", nBuckets = 32, batchId = Some("v2")): Unit
          val r = graft.api.UpsertStore.read(s, dir)
          // a degenerate fixture (empty/one-row) may never run batch 2, so
          // the column never evolves in — surface it as all-NULL then
          val evolved =
            if (r.columns.contains("o_totalprice")) r
            else r.withColumn("o_totalprice", lit(null).cast("double"))
          evolved
            .select("o_custkey", "o_orderkey", "o_totalprice")
        }.orderBy("o_custkey")
      },
      Some("WITH t AS (SELECT o_custkey, o_orderkey, o_totalprice, o_orderkey % 2 AS b FROM orders), " +
        "u AS (SELECT o_custkey, o_orderkey, o_totalprice, 1 AS src FROM t " +
        "WHERE b = 1 AND o_custkey % 10 = 7 " +
        "UNION ALL SELECT o_custkey, o_orderkey, o_totalprice, 0 AS src FROM t WHERE b = 0), " +
        "m AS (SELECT o_custkey, max(src) AS ms FROM u GROUP BY 1), " +
        "f AS (SELECT u.o_custkey, u.o_orderkey, u.o_totalprice, u.src, " +
        "row_number() OVER (PARTITION BY u.o_custkey ORDER BY u.o_orderkey DESC) AS rn " +
        "FROM u JOIN m ON u.o_custkey = m.o_custkey AND u.src = m.ms) " +
        "SELECT o_custkey, o_orderkey, " +
        "CASE WHEN src = 1 THEN o_totalprice ELSE NULL END AS o_totalprice " +
        "FROM f WHERE rn = 1 ORDER BY o_custkey")),

    // KEEP-N RETENTION: four batches commit as seqs 1..4; retain(2)
    // advances the reconstruction horizon (base_seq) to 3 — asOf(3)
    // and asOf(4) stay reconstructable, older history is retired and
    // a deeper readAsOf fails loudly (spec-pinned). The op ships the
    // horizon numbers plus row counts at the horizon and head; the
    // counts are data-derived and the oracle replays them, the
    // core_store_stats pattern.
    Op("core_store_retention",
      (s, d) => {
        val dir = s"target/tmp/retention_${java.util.UUID.randomUUID().toString.take(8)}"
        val t = T.t(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"))
          .withColumn("b", pmod(col("o_orderkey"), lit(4)))
        (0 to 3).foreach { b =>
          graft.api.UpsertStore.update(
            t.where(col("b") === b).drop("b"), dir, "o_custkey", "o_orderkey",
            nBuckets = 8, batchId = Some(s"b$b"),
            retainCommits = Int.MaxValue): Unit
        }
        graft.api.UpsertStore.retain(s, dir, keepCommits = 2)
        val base = graft.api.UpsertStore.baseSeq(s, dir)
        val head = graft.api.UpsertStore.snapshotSeq(s, dir)
        val nCur = graft.api.UpsertStore.read(s, dir).count()
        val nBase = graft.api.UpsertStore.readAsOf(s, dir, base).count()
        graft.api.StoreIO.delete(s, dir)
        import s.implicits._
        Seq((base, head, nCur, nBase))
          .toDF("base_seq", "snapshot_seq", "rows_current", "rows_asof_base")
      },
      Some("SELECT CAST(3 AS BIGINT) AS base_seq, CAST(4 AS BIGINT) AS snapshot_seq, " +
        "(SELECT count(DISTINCT o_custkey) FROM orders) AS rows_current, " +
        "(SELECT count(DISTINCT o_custkey) FROM orders WHERE o_orderkey % 4 <= 2) AS rows_asof_base")),

    // BUCKET-PRUNED POINT LOOKUP: the probe keys route through the
    // store's own hash, so only the buckets they land in are read and
    // semi-joined — the O(probe) read path that justifies key
    // bucketing (a spec pins that the physical scan touches only the
    // probed buckets' paths). Probe set: every ~97th customer.
    Op("core_store_point_lookup",
      (s, d) => {
        withStore(s, "lookup") { dir =>
          graft.api.UpsertStore.update(
            T.t(s, d, "orders").select("o_custkey", "o_orderkey", "o_totalprice"),
            dir, "o_custkey", "o_orderkey", nBuckets = 16, batchId = Some("seed")): Unit
          val probes = T.t(s, d, "orders")
            .where("o_custkey % 97 = 0").select("o_custkey").distinct()
          graft.api.UpsertStore.lookup(probes, dir, "o_custkey")
        }.orderBy("o_custkey")
      },
      Some("WITH f AS (SELECT o_custkey, o_orderkey, o_totalprice, " +
        "row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn " +
        "FROM orders) " +
        "SELECT o_custkey, o_orderkey, o_totalprice FROM f " +
        "WHERE rn = 1 AND o_custkey % 97 = 0 ORDER BY o_custkey")),

    // CHANGEFEED OUT of the generation log (the read twin of
    // core_apply_changefeed): row-level insert/update/delete between
    // commit 1 (first batch) and commit 3 (second batch + a DELETE
    // sweep). Buckets whose newest-generation path is identical at
    // both seqs are skipped unread, so the diff costs O(changed
    // buckets); keys whose winning row did not change emit nothing
    // (including insert-then-delete inside the window — snapshot-diff
    // semantics).
    Op("core_store_changefeed",
      (s, d) => {
        withStore(s, "changefeed") { dir =>
          val t = ordersBatches(s, d)
          (0 to 1).foreach(commitBatch(t, dir, _))
          graft.api.UpsertStore.delete(s, dir, expr("o_custkey % 10 = 3"),
            batchId = Some("sweep")): Unit
          graft.api.UpsertStore
            .changesBetween(s, dir, fromSeq = 1L, toSeq = 3L, key = "o_custkey")
        }.orderBy("o_custkey")
      },
      Some("WITH t AS (SELECT o_custkey, o_orderkey, o_totalprice, o_orderkey % 3 AS b " +
        "FROM orders WHERE o_orderkey % 3 <= 1), " +
        "s1 AS (SELECT o_custkey, o_orderkey, o_totalprice FROM " +
        "(SELECT o_custkey, o_orderkey, o_totalprice, " +
        "row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn " +
        "FROM t WHERE b = 0) WHERE rn = 1), " +
        "m AS (SELECT o_custkey, max(b) AS mb FROM t GROUP BY 1), " +
        "s3 AS (SELECT o_custkey, o_orderkey, o_totalprice FROM " +
        "(SELECT t.o_custkey, t.o_orderkey, t.o_totalprice, " +
        "row_number() OVER (PARTITION BY t.o_custkey ORDER BY t.o_orderkey DESC) AS rn " +
        "FROM t JOIN m ON t.o_custkey = m.o_custkey AND t.b = m.mb) " +
        "WHERE rn = 1 AND o_custkey % 10 <> 3) " +
        "SELECT CASE WHEN s1.o_custkey IS NULL THEN 'insert' " +
        "WHEN s3.o_custkey IS NULL THEN 'delete' ELSE 'update' END AS change, " +
        "coalesce(s3.o_custkey, s1.o_custkey) AS o_custkey, " +
        "coalesce(s3.o_orderkey, s1.o_orderkey) AS o_orderkey, " +
        "coalesce(s3.o_totalprice, s1.o_totalprice) AS o_totalprice " +
        "FROM s1 FULL OUTER JOIN s3 ON s1.o_custkey = s3.o_custkey " +
        "WHERE s1.o_custkey IS NULL OR s3.o_custkey IS NULL " +
        "OR s1.o_orderkey IS DISTINCT FROM s3.o_orderkey " +
        "OR s1.o_totalprice IS DISTINCT FROM s3.o_totalprice " +
        "ORDER BY o_custkey")),

    // INCREMENTAL CHANGEFEED CONSUMPTION — the CDC-consumer loop over
    // the store (changesSince + commitCursor): run 1 consumes the
    // 2-batch state as its initial load (every row an insert, cursor
    // advances 0 -> 2); batch 3 and a DELETE sweep land; run 2
    // consumes exactly the delta (cursor 2 -> 4). At-least-once by
    // construction: the cursor only advances after the consumer has
    // its batch; a replayed window re-derives the identical changes.
    Op("core_store_incremental_consume",
      (s, d) => {
        val base = s"target/tmp/consume_${java.util.UUID.randomUUID().toString.take(8)}"
        val dir = s"$base/table"
        val cursor = s"$base/cursor.json"
        val t = ordersBatches(s, d)
        (0 to 1).foreach(commitBatch(t, dir, _))
        val (run1, head1) = graft.api.UpsertStore
          .changesSince(s, dir, "o_custkey", cursor)
        val r1 = run1.withColumn("run", lit("r1")).localCheckpoint()
        graft.api.UpsertStore.commitCursor(s, cursor, head1)
        commitBatch(t, dir, 2): Unit
        graft.api.UpsertStore.delete(s, dir, expr("o_custkey % 10 = 3"),
          batchId = Some("sweep")): Unit
        val (run2, head2) = graft.api.UpsertStore
          .changesSince(s, dir, "o_custkey", cursor)
        val r2 = run2.withColumn("run", lit("r2")).localCheckpoint()
        graft.api.UpsertStore.commitCursor(s, cursor, head2)
        graft.api.StoreIO.delete(s, base)
        r1.unionByName(r2).orderBy("run", "o_custkey")
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

    // SMALL-FILE COMPACTION (the Delta OPTIMIZE analog): a CDC batch's
    // staged write leaves up to shuffle.partitions part files per
    // bucket; optimize() rewrites over-fragmented buckets to their
    // size-appropriate file count as ONE new commit, content
    // unchanged (the oracle pins it), file-count reduction asserted
    // engine-side. Pre-compaction states stay time-travelable.
    Op("core_store_optimize",
      (s, d) => {
        withStore(s, "optimize") { dir =>
          graft.api.UpsertStore.update(
            T.t(s, d, "orders").select("o_custkey", "o_orderkey", "o_totalprice"),
            dir, "o_custkey", "o_orderkey", nBuckets = 8, batchId = Some("seed")): Unit
          def maxFiles(): Int = {
            val f = graft.api.StoreIO.fs(s, dir)
            (0 until 8).map { b =>
              val p = new org.apache.hadoop.fs.Path(s"$dir/b$b")
              if (!f.exists(p)) 0
              else f.listStatus(p).filter(_.isDirectory).map(_.getPath)
                .map(g => f.listStatus(g)
                  .count(st => !st.isDirectory && st.getPath.getName.startsWith("part-")))
                .maxOption.getOrElse(0)
            }.maxOption.getOrElse(0)
          }
          val before = maxFiles()
          graft.api.UpsertStore.optimize(s, dir): Unit
          val after = maxFiles()
          require(after <= math.max(1, before),
            s"optimize must not fragment: $before -> $after files/bucket")
          graft.api.UpsertStore.read(s, dir)
        }.orderBy("o_custkey")
      },
      Some("WITH f AS (SELECT o_custkey, o_orderkey, o_totalprice, " +
        "row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn " +
        "FROM orders) " +
        "SELECT o_custkey, o_orderkey, o_totalprice FROM f WHERE rn = 1 " +
        "ORDER BY o_custkey")),

    // The MAINTENANCE SQL verbs closing the store's SQL-text surface
    // (OPTIMIZE / VACUUM ... RETAIN N COMMITS beside MERGE/DELETE/
    // UPDATE), plus VERSION AS OF read-back: four batches land via
    // MERGE, VACUUM RETAIN 2 advances the horizon to seq 3, OPTIMIZE
    // compacts, and the op ships the seq-3 snapshot and the current
    // table under one oracle — the SQL path driving retention, time
    // travel and compaction end-to-end.
    Op("core_store_maintenance_sql",
      (s, d) => {
        withStore(s, "maint_sql") { dir =>
          val t = ordersBatches(s, d, 4)
          (0 to 3).foreach { b =>
            t.where(col("b") === b).drop("b")
              .createOrReplaceTempView(s"graft_maint_src_$b")
            graft.api.MergeSql.run(s,
              s"MERGE INTO '$dir' USING graft_maint_src_$b ON t.o_custkey = s.o_custkey " +
                "LATEST BY o_orderkey WHEN MATCHED THEN UPDATE SET * " +
                "WHEN NOT MATCHED THEN INSERT *",
              nBuckets = 8, batchId = Some(s"b$b")): Unit
          }
          val horizon = graft.api.MergeSql.runMaintenance(s,
            s"VACUUM '$dir' RETAIN 2 COMMITS")
          require(horizon == 3L, s"RETAIN 2 of 4 commits must set base_seq 3, got $horizon")
          graft.api.MergeSql.runMaintenance(s, s"OPTIMIZE '$dir'"): Unit
          val asof = graft.api.MergeSql.readTarget(s, dir, versionAsOf = Some(3L))
            .withColumn("snap", lit("asof3"))
          val cur = graft.api.MergeSql.readTarget(s, dir)
            .withColumn("snap", lit("current"))
          asof.unionByName(cur)
        }.orderBy("snap", "o_custkey")
      },
      Some("WITH t AS (SELECT o_custkey, o_orderkey, o_totalprice, o_orderkey % 4 AS b FROM orders), " +
        "m3 AS (SELECT o_custkey, max(b) AS mb FROM t WHERE b <= 2 GROUP BY 1), " +
        "f3 AS (SELECT t.o_custkey, t.o_orderkey, t.o_totalprice, " +
        "row_number() OVER (PARTITION BY t.o_custkey ORDER BY t.o_orderkey DESC) AS rn " +
        "FROM t JOIN m3 ON t.o_custkey = m3.o_custkey AND t.b = m3.mb), " +
        "m4 AS (SELECT o_custkey, max(b) AS mb FROM t GROUP BY 1), " +
        "f4 AS (SELECT t.o_custkey, t.o_orderkey, t.o_totalprice, " +
        "row_number() OVER (PARTITION BY t.o_custkey ORDER BY t.o_orderkey DESC) AS rn " +
        "FROM t JOIN m4 ON t.o_custkey = m4.o_custkey AND t.b = m4.mb) " +
        "SELECT o_custkey, o_orderkey, o_totalprice, 'asof3' AS snap FROM f3 WHERE rn = 1 " +
        "UNION ALL " +
        "SELECT o_custkey, o_orderkey, o_totalprice, 'current' AS snap FROM f4 WHERE rn = 1 " +
        "ORDER BY snap, o_custkey")),

    // MERGE's full-sync UPDATE arm: `WHEN NOT MATCHED BY SOURCE AND
    // <pred> THEN UPDATE SET ...` — flag stale rows instead of (or
    // beside) sweeping them. Stored keys absent from the snapshot:
    // every 7th customer gets its discount column rewritten FROM the
    // pre-update row (ANSI), even customers are swept by the DELETE
    // arm, and where both arms match, UPDATE wins (first-match-wins in
    // the fixed clause order — the oracle pins a customer divisible by
    // both 7 and 2 as updated, not deleted). Replay with the same
    // batchId asserted a no-op inline.
    Op("core_merge_full_sync_update",
      (s, d) => {
        withStore(s, "sync_upd") { dir =>
          seedSrc(s, d).createOrReplaceTempView("graft_syncu_seed")
          graft.api.MergeSql.run(s,
            s"MERGE INTO '$dir' USING graft_syncu_seed ON t.o_custkey = s.o_custkey " +
              "LATEST BY o_orderkey WHEN MATCHED THEN UPDATE SET * " +
              "WHEN NOT MATCHED THEN INSERT *",
            nBuckets = 8, batchId = Some("seed")): Unit
          seedSrc(s, d).where("o_custkey % 3 <> 1")
            .select(col("o_custkey"), col("o_orderkey"),
              (col("total_cents") + 1).as("total_cents"), col("disc_cents"))
            .createOrReplaceTempView("graft_syncu_snap")
          val sync =
            s"MERGE INTO '$dir' USING graft_syncu_snap ON t.o_custkey = s.o_custkey " +
              "LATEST BY o_orderkey WHEN MATCHED THEN UPDATE SET * " +
              "WHEN NOT MATCHED THEN INSERT * " +
              "WHEN NOT MATCHED BY SOURCE AND o_custkey % 7 = 0 " +
              "THEN UPDATE SET disc_cents = total_cents " +
              "WHEN NOT MATCHED BY SOURCE AND o_custkey % 2 = 0 THEN DELETE"
          graft.api.MergeSql.run(s, sync, nBuckets = 8, batchId = Some("sync")): Unit
          require(!graft.api.MergeSql.run(s, sync, nBuckets = 8, batchId = Some("sync")),
            "replayed full-sync MERGE must be a ledger no-op")
          graft.api.MergeSql.readTarget(s, dir)
        }.orderBy("o_custkey")
      },
      Some(s"WITH $oSeed " +
        "SELECT o_custkey, o_orderkey, total_cents + 1 AS total_cents, disc_cents " +
        "FROM l WHERE o_custkey % 3 <> 1 " +
        "UNION ALL " +
        "SELECT o_custkey, o_orderkey, total_cents, total_cents AS disc_cents " +
        "FROM l WHERE o_custkey % 3 = 1 AND o_custkey % 7 = 0 " +
        "UNION ALL " +
        "SELECT o_custkey, o_orderkey, total_cents, disc_cents " +
        "FROM l WHERE o_custkey % 3 = 1 AND o_custkey % 7 <> 0 AND o_custkey % 2 <> 0 " +
        "ORDER BY o_custkey")),

    // TIMESTAMP AS OF on the SQL surface — the wall-clock time-travel
    // form analysts actually type, resolved through the commit log's
    // ts_ms to the newest commit at-or-before the instant. Three CDC
    // batches commit as seqs 1..3 (a short sleep pins strictly
    // increasing timestamps); both literal forms — epoch millis and a
    // quoted UTC 'yyyy-MM-dd HH:mm:ss.SSS' — read back the seq-2
    // snapshot under one oracle.
    Op("core_store_timestamp_as_of",
      (s, d) => {
        withStore(s, "ts_asof") { dir =>
          val t = ordersBatches(s, d)
          (0 to 2).foreach { b =>
            commitBatch(t, dir, b)
            Thread.sleep(15) // commit timestamps must strictly increase
          }
          val ts = graft.api.UpsertStore.commits(s, dir)
            .select("seq", "ts_ms").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          require(ts(3L) > ts(2L), "commit timestamps must strictly increase")
          val quoted = java.time.Instant.ofEpochMilli(ts(2L))
            .atOffset(java.time.ZoneOffset.UTC).toLocalDateTime
            .format(java.time.format.DateTimeFormatter
              .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
          val viaMillis = graft.api.MergeSql.runSelect(s,
            s"SELECT * FROM '$dir' TIMESTAMP AS OF ${ts(2L)}")
            .withColumn("form", lit("millis"))
          val viaQuoted = graft.api.MergeSql.runSelect(s,
            s"SELECT * FROM '$dir' TIMESTAMP AS OF '$quoted'")
            .withColumn("form", lit("quoted"))
          viaMillis.unionByName(viaQuoted)
        }.orderBy("form", "o_custkey")
      },
      Some("WITH t AS (SELECT o_custkey, o_orderkey, o_totalprice, o_orderkey % 3 AS b FROM orders), " +
        "m2 AS (SELECT o_custkey, max(b) AS mb FROM t WHERE b <= 1 GROUP BY 1), " +
        "f2 AS (SELECT t.o_custkey, t.o_orderkey, t.o_totalprice, " +
        "row_number() OVER (PARTITION BY t.o_custkey ORDER BY t.o_orderkey DESC) AS rn " +
        "FROM t JOIN m2 ON t.o_custkey = m2.o_custkey AND t.b = m2.mb) " +
        "SELECT o_custkey, o_orderkey, o_totalprice, 'millis' AS form FROM f2 WHERE rn = 1 " +
        "UNION ALL " +
        "SELECT o_custkey, o_orderkey, o_totalprice, 'quoted' AS form FROM f2 WHERE rn = 1 " +
        "ORDER BY form, o_custkey")),

    // OPTIMIZE ... ZORDER BY: compaction that also CLUSTERS — every
    // bucket rewrites as one commit whose files cover contiguous
    // ranges of the cluster key (range partition on (bucket, morton
    // key) + sort within partitions), so a stats-pruning reader skips
    // files the way Delta's OPTIMIZE ZORDER buys. The SQL grammar form
    // runs first; a second pass with a tiny file target forces
    // multi-file buckets and the op audits engine-side that per-file
    // key spans within a bucket are near-disjoint slices (sum of
    // spans <~ bucket span, vs ~span x nFiles unclustered). Content
    // and time travel are pinned unchanged by the oracle.
    Op("core_store_optimize_zorder",
      (s, d) => {
        withStore(s, "opt_z") { dir =>
          graft.api.UpsertStore.update(
            T.t(s, d, "orders").select("o_custkey", "o_orderkey", "o_totalprice"),
            dir, "o_custkey", "o_orderkey", nBuckets = 8, batchId = Some("seed")): Unit
          graft.api.MergeSql.runMaintenance(s,
            s"OPTIMIZE '$dir' ZORDER BY (o_orderkey)"): Unit
          graft.api.UpsertStore.optimize(s, dir,
            targetFileBytes = 16L * 1024, zorderBy = Seq("o_orderkey")): Unit
          // clustering audit: within each bucket, per-file o_orderkey
          // ranges must be near-disjoint (only meaningful with several
          // files; degenerate fixtures skip the check, not the op)
          val perFile = graft.api.UpsertStore.read(s, dir)
            .groupBy(regexp_extract(input_file_name(), "/(b\\d+)/g\\d{12}/", 1).as("bk"),
              input_file_name().as("fn"))
            .agg(min("o_orderkey").as("mn"), max("o_orderkey").as("mx"))
            .groupBy("bk").agg(
              count(lit(1)).as("nf"),
              sum(col("mx") - col("mn")).as("sum_span"),
              (max("mx") - min("mn")).as("span"))
            .collect()
          perFile.filter(r => r.getLong(1) >= 3 && r.getLong(3) > 0).foreach { r =>
            require(r.getLong(2) <= 2 * r.getLong(3),
              s"bucket ${r.getString(0)}: files not z-clustered " +
                s"(sum of per-file spans ${r.getLong(2)} vs bucket span ${r.getLong(3)})")
          }
          // pre-optimize history must still reconstruct (time travel
          // unaffected by clustering commits)
          val n1 = graft.api.UpsertStore.readAsOf(s, dir, 1L).count()
          val nc = graft.api.UpsertStore.read(s, dir).count()
          require(n1 == nc, s"optimize must not change content: $n1 vs $nc rows")
          graft.api.UpsertStore.read(s, dir)
        }.orderBy("o_custkey")
      },
      Some("WITH f AS (SELECT o_custkey, o_orderkey, o_totalprice, " +
        "row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn " +
        "FROM orders) " +
        "SELECT o_custkey, o_orderkey, o_totalprice FROM f WHERE rn = 1 " +
        "ORDER BY o_custkey")),

    // CONSUMER BOOTSTRAP ON A RETAINED STORE — the round-11 ADVICE
    // fix pinned as an op: four batches commit, retention advances the
    // horizon to seq 3, and only THEN does a brand-new consumer attach
    // (no cursor). It must receive the FULL snapshot as inserts — the
    // pre-fix behavior diffed from the horizon snapshot and silently
    // omitted every row already present and unchanged at base_seq,
    // losing most of the table with no error.
    Op("core_changefeed_bootstrap",
      (s, d) => {
        withStore(s, "cf_boot") { base =>
          val dir = s"$base/table"
          val t = T.t(s, d, "orders")
            .select(col("o_custkey"), col("o_orderkey"))
            .withColumn("b", pmod(col("o_orderkey"), lit(4)))
          (0 to 3).foreach { b =>
            graft.api.UpsertStore.update(
              t.where(col("b") === b).drop("b"), dir, "o_custkey", "o_orderkey",
              nBuckets = 8, batchId = Some(s"b$b"),
              retainCommits = Int.MaxValue): Unit
          }
          graft.api.UpsertStore.retain(s, dir, keepCommits = 2)
          require(graft.api.UpsertStore.baseSeq(s, dir) == 3L,
            "retention must advance the horizon to seq 3")
          val (changes, head) = graft.api.UpsertStore
            .changesSince(s, dir, "o_custkey", s"$base/cursor.json")
          require(head == 4L, s"head must be seq 4, got $head")
          changes
        }.orderBy("o_custkey")
      },
      Some("WITH t AS (SELECT o_custkey, o_orderkey, o_orderkey % 4 AS b FROM orders), " +
        "m AS (SELECT o_custkey, max(b) AS mb FROM t GROUP BY 1), " +
        "f AS (SELECT t.o_custkey, t.o_orderkey, " +
        "row_number() OVER (PARTITION BY t.o_custkey ORDER BY t.o_orderkey DESC) AS rn " +
        "FROM t JOIN m ON t.o_custkey = m.o_custkey AND t.b = m.mb) " +
        "SELECT 'insert' AS change, o_custkey, o_orderkey FROM f WHERE rn = 1 " +
        "ORDER BY o_custkey")),

    // RESTORE — Delta's undo verb: `RESTORE '<dir>' TO VERSION AS OF
    // 2` republishes the seq-2 state as a NEW head commit (seq 4), so
    // a bad merge is undone WITHOUT losing the history after it —
    // asOf(3) still serves the pre-restore head until retention
    // retires it. O(1) jobs: only buckets whose head generation
    // differs from the asof one are copied back; the op ships both the
    // restored current table and the still-travelable pre-restore
    // snapshot under one oracle.
    Op("core_store_restore",
      (s, d) => {
        withStore(s, "restore") { dir =>
          val t = ordersBatches(s, d)
          (0 to 2).foreach(commitBatch(t, dir, _))
          val newHead = graft.api.MergeSql.runMaintenance(s,
            s"RESTORE '$dir' TO VERSION AS OF 2")
          require(newHead == 4L, s"restore must commit as head 4, got $newHead")
          val restored = graft.api.UpsertStore.read(s, dir)
            .withColumn("snap", lit("restored"))
          val pre = graft.api.UpsertStore.readAsOf(s, dir, 3L)
            .withColumn("snap", lit("pre"))
          pre.unionByName(restored)
        }.orderBy("snap", "o_custkey")
      },
      Some("WITH t AS (SELECT o_custkey, o_orderkey, o_totalprice, o_orderkey % 3 AS b FROM orders), " +
        "m2 AS (SELECT o_custkey, max(b) AS mb FROM t WHERE b <= 1 GROUP BY 1), " +
        "f2 AS (SELECT t.o_custkey, t.o_orderkey, t.o_totalprice, " +
        "row_number() OVER (PARTITION BY t.o_custkey ORDER BY t.o_orderkey DESC) AS rn " +
        "FROM t JOIN m2 ON t.o_custkey = m2.o_custkey AND t.b = m2.mb), " +
        "m3 AS (SELECT o_custkey, max(b) AS mb FROM t GROUP BY 1), " +
        "f3 AS (SELECT t.o_custkey, t.o_orderkey, t.o_totalprice, " +
        "row_number() OVER (PARTITION BY t.o_custkey ORDER BY t.o_orderkey DESC) AS rn " +
        "FROM t JOIN m3 ON t.o_custkey = m3.o_custkey AND t.b = m3.mb) " +
        "SELECT o_custkey, o_orderkey, o_totalprice, 'pre' AS snap FROM f3 WHERE rn = 1 " +
        "UNION ALL " +
        "SELECT o_custkey, o_orderkey, o_totalprice, 'restored' AS snap FROM f2 WHERE rn = 1 " +
        "ORDER BY snap, o_custkey")),

    // Deep CLONE at a version — the dev/test branch verb: `CLONE
    // '<src>' TO '<dst>' VERSION AS OF 2` builds a NEW store holding
    // the seq-2 state (one generation per bucket, base_seq pinned
    // there). The carried ledger is TRIMMED to the cloned version:
    // a replay of a batch the clone contains is a no-op (asserted
    // inline), while later source batches re-apply as fresh data.
    // Source and clone then evolve independently — a sweep on the
    // source leaves the clone untouched, pinned by the oracle.
    Op("core_store_clone",
      (s, d) => {
        withStore(s, "clone") { base =>
          val dir = s"$base/src"
          val dst = s"$base/branch"
          val t = ordersBatches(s, d)
          (0 to 2).foreach(commitBatch(t, dir, _))
          val v = graft.api.MergeSql.runMaintenance(s,
            s"CLONE '$dir' TO '$dst' VERSION AS OF 2")
          require(v == 2L, s"clone must report version 2, got $v")
          require(!commitBatch(t, dst, 1),
            "replay of a contained batch into the clone must be a ledger no-op")
          graft.api.UpsertStore.delete(s, dir, expr("o_custkey % 10 = 3"),
            batchId = Some("sweep")): Unit
          graft.api.UpsertStore.read(s, dst).withColumn("snap", lit("clone"))
            .unionByName(
              graft.api.UpsertStore.read(s, dir).withColumn("snap", lit("src")))
        }.orderBy("snap", "o_custkey")
      },
      Some("WITH t AS (SELECT o_custkey, o_orderkey, o_totalprice, o_orderkey % 3 AS b FROM orders), " +
        "m2 AS (SELECT o_custkey, max(b) AS mb FROM t WHERE b <= 1 GROUP BY 1), " +
        "f2 AS (SELECT t.o_custkey, t.o_orderkey, t.o_totalprice, " +
        "row_number() OVER (PARTITION BY t.o_custkey ORDER BY t.o_orderkey DESC) AS rn " +
        "FROM t JOIN m2 ON t.o_custkey = m2.o_custkey AND t.b = m2.mb), " +
        "m3 AS (SELECT o_custkey, max(b) AS mb FROM t GROUP BY 1), " +
        "f3 AS (SELECT t.o_custkey, t.o_orderkey, t.o_totalprice, " +
        "row_number() OVER (PARTITION BY t.o_custkey ORDER BY t.o_orderkey DESC) AS rn " +
        "FROM t JOIN m3 ON t.o_custkey = m3.o_custkey AND t.b = m3.mb) " +
        "SELECT o_custkey, o_orderkey, o_totalprice, 'clone' AS snap FROM f2 WHERE rn = 1 " +
        "UNION ALL " +
        "SELECT o_custkey, o_orderkey, o_totalprice, 'src' AS snap FROM f3 " +
        "WHERE rn = 1 AND o_custkey % 10 <> 3 " +
        "ORDER BY snap, o_custkey")),

    // DESCRIBE HISTORY: the commit log as a queryable table — one row
    // per state-changing commit with its seq, kind and applied-batch
    // id (timestamps excluded: wall-clock). A scripted
    // merge/merge/delete/restore sequence yields a fully deterministic
    // audit trail on EVERY fixture (ledgered mutations commit even
    // when they change nothing, which is exactly what makes their
    // replays exact no-ops).
    Op("core_store_history",
      (s, d) => {
        withStore(s, "history") { dir =>
          val t = ordersBatches(s, d, 2)
          (0 to 1).foreach(commitBatch(t, dir, _))
          graft.api.UpsertStore.delete(s, dir, expr("o_custkey % 10 = 3"),
            batchId = Some("sweep")): Unit
          graft.api.UpsertStore.restore(s, dir, 1L, batchId = Some("rst")): Unit
          graft.api.UpsertStore.commits(s, dir)
            .select("seq", "kind", "batch_id")
        }.orderBy("seq")
      },
      Some("SELECT * FROM (VALUES (CAST(1 AS BIGINT), 'merge', 'b0'), " +
        "(2, 'merge', 'b1'), (3, 'delete', 'sweep'), (4, 'restore', 'rst')) " +
        "AS t(seq, kind, batch_id) ORDER BY seq")),

    // CDF IMAGE FEED (Delta CDF parity): an update emits BOTH rows —
    // update_preimage (replaced values) and update_postimage (new
    // ones) — beside insert/delete. The pair is what downstream
    // incremental maintenance consumes (subtract pre, add post), and
    // what the after-image-only feed cannot express when an update
    // moves a row between groups. Same bucket-path pruning as the
    // plain changefeed; the pair explodes from ONE joined row.
    Op("core_store_cdf_images",
      (s, d) => {
        withStore(s, "cdf_img") { dir =>
          val t = ordersBatches(s, d)
          (0 to 1).foreach(commitBatch(t, dir, _))
          graft.api.UpsertStore.delete(s, dir, expr("o_custkey % 10 = 3"),
            batchId = Some("sweep")): Unit
          graft.api.UpsertStore
            .changesBetweenImages(s, dir, fromSeq = 1L, toSeq = 3L, key = "o_custkey")
        }.orderBy("o_custkey", "change")
      },
      Some("WITH t AS (SELECT o_custkey, o_orderkey, o_totalprice, o_orderkey % 3 AS b " +
        "FROM orders WHERE o_orderkey % 3 <= 1), " +
        "s1 AS (SELECT o_custkey, o_orderkey, o_totalprice FROM " +
        "(SELECT o_custkey, o_orderkey, o_totalprice, " +
        "row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn " +
        "FROM t WHERE b = 0) WHERE rn = 1), " +
        "m AS (SELECT o_custkey, max(b) AS mb FROM t GROUP BY 1), " +
        "s3 AS (SELECT o_custkey, o_orderkey, o_totalprice FROM " +
        "(SELECT t.o_custkey, t.o_orderkey, t.o_totalprice, " +
        "row_number() OVER (PARTITION BY t.o_custkey ORDER BY t.o_orderkey DESC) AS rn " +
        "FROM t JOIN m ON t.o_custkey = m.o_custkey AND t.b = m.mb) " +
        "WHERE rn = 1 AND o_custkey % 10 <> 3), " +
        "cls AS (SELECT s1.o_custkey AS k1, s1.o_orderkey AS ok1, s1.o_totalprice AS tp1, " +
        "s3.o_custkey AS k3, s3.o_orderkey AS ok3, s3.o_totalprice AS tp3 " +
        "FROM s1 FULL OUTER JOIN s3 ON s1.o_custkey = s3.o_custkey " +
        "WHERE s1.o_custkey IS NULL OR s3.o_custkey IS NULL " +
        "OR s1.o_orderkey IS DISTINCT FROM s3.o_orderkey " +
        "OR s1.o_totalprice IS DISTINCT FROM s3.o_totalprice) " +
        "SELECT CASE WHEN k3 IS NULL THEN 'delete' ELSE 'update_preimage' END AS change, " +
        "k1 AS o_custkey, ok1 AS o_orderkey, tp1 AS o_totalprice FROM cls WHERE k1 IS NOT NULL " +
        "UNION ALL " +
        "SELECT CASE WHEN k1 IS NULL THEN 'insert' ELSE 'update_postimage' END AS change, " +
        "k3 AS o_custkey, ok3 AS o_orderkey, tp3 AS o_totalprice FROM cls WHERE k3 IS NOT NULL " +
        "ORDER BY o_custkey, change")),

    // INCREMENTAL MATERIALIZED VIEW — grouped sum/count maintained
    // from the CDF image feed, never recomputed from the fact table:
    // refresh 1 seeds from the snapshot; batch 3 + a delete sweep
    // land; refresh 2 folds exactly the image window (subtract
    // preimages, add postimages — the group key derives from
    // o_orderkey, so every updated customer MOVES groups and both
    // sides must adjust). The oracle is the from-scratch recompute
    // over the final store state: incremental == full, exactly. A
    // third refresh with nothing new is a no-op (asserted inline).
    Op("core_incremental_matview",
      (s, d) => {
        withStore(s, "matview") { base =>
          val dir = s"$base/fact"
          val view = s"$base/view"
          val t = T.t(s, d, "orders")
            .select(col("o_custkey"), col("o_orderkey"),
              expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
            .withColumn("b", pmod(col("o_orderkey"), lit(3)))
          def batch(b: Int): Unit = graft.api.UpsertStore.update(
            t.where(col("b") === b).drop("b"), dir, "o_custkey", "o_orderkey",
            nBuckets = 8, batchId = Some(s"b$b")): Unit
          def refresh(): Long = graft.api.MatView.refresh(s, dir, "o_custkey", view,
            groupCols = Seq("grp" -> pmod(col("o_orderkey"), lit(10))),
            sumCols = Seq("cents"))
          batch(0); batch(1)
          require(refresh() == 2L, "first refresh must reach head 2")
          batch(2)
          graft.api.UpsertStore.delete(s, dir, expr("o_custkey % 10 = 3"),
            batchId = Some("sweep")): Unit
          require(refresh() == 4L, "second refresh must reach head 4")
          require(refresh() == 4L, "refresh with nothing new must be a no-op")
          graft.api.MatView.read(s, view)
        }.orderBy("grp")
      },
      Some("WITH t AS (SELECT o_custkey, o_orderkey, " +
        "CAST(floor(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey % 3 AS b FROM orders), " +
        "m AS (SELECT o_custkey, max(b) AS mb FROM t GROUP BY 1), " +
        "f AS (SELECT t.o_custkey, t.o_orderkey, t.cents, " +
        "row_number() OVER (PARTITION BY t.o_custkey ORDER BY t.o_orderkey DESC) AS rn " +
        "FROM t JOIN m ON t.o_custkey = m.o_custkey AND t.b = m.mb), " +
        "cur AS (SELECT o_custkey, o_orderkey, cents FROM f " +
        "WHERE rn = 1 AND o_custkey % 10 <> 3) " +
        "SELECT o_orderkey % 10 AS grp, count(*) AS n_rows, " +
        "CAST(sum(cents) AS BIGINT) AS sum_cents " +
        "FROM cur GROUP BY 1 ORDER BY grp")),

    // CHECK CONSTRAINTS (Delta parity): `ALTER '<dir>' ADD CONSTRAINT
    // nonneg CHECK (total_cents >= 0)` validates the EXISTING table
    // first (a green ADD is a guarantee), then every write validates
    // its staged output BEFORE any generation publishes — the
    // violating merge here throws with the constraint name, the store
    // stays at its prior state and its commit seq does not advance
    // (asserted inline). After DROP CONSTRAINT the same batch applies.
    Op("core_store_constraints",
      (s, d) => {
        import s.implicits._
        withStore(s, "constraints") { dir =>
          seedSrc(s, d).createOrReplaceTempView("graft_cons_seed")
          graft.api.MergeSql.run(s,
            s"MERGE INTO '$dir' USING graft_cons_seed ON t.o_custkey = s.o_custkey " +
              "LATEST BY o_orderkey WHEN MATCHED THEN UPDATE SET * " +
              "WHEN NOT MATCHED THEN INSERT *",
            nBuckets = 8, batchId = Some("seed")): Unit
          require(graft.api.MergeSql.runMaintenance(s,
            s"ALTER '$dir' ADD CONSTRAINT nonneg CHECK (total_cents >= 0)") == 1L)
          graft.api.MergeSql.runUpdate(s,
            s"UPDATE '$dir' SET total_cents = total_cents + 1 WHERE o_custkey % 2 = 0",
            batchId = Some("u1")): Unit
          val badRow = Seq((-7L, 0L, -5L, 0L))
            .toDF("o_custkey", "o_orderkey", "total_cents", "disc_cents")
          val rejected =
            try { graft.api.UpsertStore.update(badRow, dir, "o_custkey", "o_orderkey",
              nBuckets = 8, batchId = Some("bad")): Unit; false }
            catch { case e: IllegalArgumentException =>
              e.getMessage.contains("CHECK constraint nonneg") }
          require(rejected, "a violating merge batch must be rejected by name")
          require(graft.api.UpsertStore.snapshotSeq(s, dir) == 2L,
            "a rejected batch must not advance the commit seq")
          require(graft.api.MergeSql.runMaintenance(s,
            s"ALTER '$dir' DROP CONSTRAINT nonneg") == 0L)
          graft.api.UpsertStore.update(badRow, dir, "o_custkey", "o_orderkey",
            nBuckets = 8, batchId = Some("bad")): Unit
          graft.api.UpsertStore.read(s, dir)
        }.orderBy("o_custkey")
      },
      Some(s"WITH $oSeed " +
        "SELECT o_custkey, o_orderkey, " +
        "CASE WHEN o_custkey % 2 = 0 THEN total_cents + 1 ELSE total_cents END AS total_cents, " +
        "disc_cents FROM l " +
        "UNION ALL SELECT CAST(-7 AS BIGINT), CAST(0 AS BIGINT), " +
        "CAST(-5 AS BIGINT), CAST(0 AS BIGINT) " +
        "ORDER BY o_custkey")),

    // ROW-LEVEL AUDIT HISTORY (UpsertStore.rowVersions): a probed
    // key's full value timeline over the retention window, in ONE
    // bucket-pruned scan of every retained generation of ONLY its
    // bucket — the query the immutable generation log answers that a
    // mutate-in-place table cannot. Each probed customer appears once
    // per commit that rewrote its bucket while present (single-bucket
    // store here so every commit rewrites — the semantics under test;
    // bucket pruning is spec-pinned separately). Oracle replays the
    // per-commit last-batch-wins states.
    Op("core_store_row_history",
      (s, d) => {
        withStore(s, "row_hist") { dir =>
          val t = T.t(s, d, "orders")
            .select(col("o_custkey"), col("o_orderkey"))
            .withColumn("b", pmod(col("o_orderkey"), lit(3)))
          (0 to 2).foreach { b =>
            graft.api.UpsertStore.update(
              t.where(col("b") === b).drop("b"), dir, "o_custkey", "o_orderkey",
              nBuckets = 1, batchId = Some(s"b$b")): Unit
          }
          val probes = T.t(s, d, "orders")
            .where("o_custkey % 101 = 0").select("o_custkey").distinct()
          graft.api.UpsertStore.rowVersions(probes, dir, "o_custkey")
            .select("o_custkey", "commit_seq", "o_orderkey")
        }.orderBy("o_custkey", "commit_seq")
      },
      Some("WITH t AS (SELECT o_custkey, o_orderkey, o_orderkey % 3 AS b FROM orders), " +
        "f AS (SELECT h.commit_seq, t.o_custkey, t.o_orderkey, " +
        "row_number() OVER (PARTITION BY h.commit_seq, t.o_custkey " +
        "ORDER BY t.b DESC, t.o_orderkey DESC) AS rn " +
        "FROM (VALUES (1), (2), (3)) h(commit_seq) JOIN t ON t.b < h.commit_seq) " +
        "SELECT o_custkey, CAST(commit_seq AS BIGINT) AS commit_seq, o_orderkey " +
        "FROM f WHERE rn = 1 AND o_custkey % 101 = 0 " +
        "ORDER BY o_custkey, commit_seq")),

    // DESCRIBE '<dir>' — the store's catalog card from metadata alone
    // (no data read): layout properties, every column with its type
    // (meta-recorded schema, including one evolved in by batch 2), and
    // the CHECK constraints. Fully deterministic on every fixture —
    // ledgered commits advance the seq whether or not rows flowed.
    Op("core_store_describe",
      (s, d) => {
        withStore(s, "describe") { dir =>
          val t = T.t(s, d, "orders")
          graft.api.UpsertStore.update(
            t.select("o_custkey", "o_orderkey"), dir, "o_custkey", "o_orderkey",
            nBuckets = 8, batchId = Some("b0")): Unit
          graft.api.UpsertStore.update(
            t.select(col("o_custkey"), col("o_orderkey"),
              expr("CAST(o_orderkey % 100 AS BIGINT)").as("disc_cents")),
            dir, "o_custkey", "o_orderkey", nBuckets = 8, batchId = Some("b1")): Unit
          graft.api.MergeSql.runMaintenance(s,
            s"ALTER '$dir' ADD CONSTRAINT nonneg CHECK (disc_cents >= 0 OR disc_cents IS NULL)"): Unit
          graft.api.MergeSql.runDescribe(s, s"DESCRIBE '$dir'")
        }.orderBy("name")
      },
      Some("SELECT * FROM (VALUES " +
        "('base_seq', '0'), ('col:disc_cents', 'bigint'), " +
        "('col:o_custkey', 'bigint'), ('col:o_orderkey', 'bigint'), " +
        "('constraint:nonneg', 'disc_cents >= 0 OR disc_cents IS NULL'), " +
        "('n_buckets', '8'), ('snapshot_seq', '2')) " +
        "AS t(name, value) ORDER BY name")),

    // ANALYZE '<dir>' — catalog statistics for the store, persisted in
    // the metadata (the Delta/Iceberg posture): one scan computes
    // per-column n_nonnull / sketch ndv / min-max / n_rows over the
    // current snapshot; tableStats() then serves them from meta.json
    // with ZERO data access (the op reads the persisted copy, not the
    // scan's return — pinning the round trip). NDV is HLL++-sketched
    // (exact multi-column count(DISTINCT) Expand-replicates the fact
    // table — see Stats.columnStats), so its parity check is the
    // error-bound boolean: the persisted estimate must land within 15%
    // of the exact NDV the op recomputes over the latest-wins state,
    // which the oracle rebuilds independently.
    Op("core_store_analyze",
      (s, d) => {
        withStore(s, "analyze") { dir =>
          val t = ordersBatches(s, d, 2)
          (0 to 1).foreach(commitBatch(t, dir, _))
          val nCols = graft.api.MergeSql.runMaintenance(s, s"ANALYZE '$dir'")
          require(nCols == 3L, s"ANALYZE must cover 3 columns, got $nCols")
          val (seq, stats) = graft.api.UpsertStore.tableStats(s, dir)
            .getOrElse(sys.error("ANALYZE must persist stats"))
          require(seq == 2L, s"stats must be tagged with the analyzed seq, got $seq")
          val exact = graft.api.Stats.columnStats(
              graft.api.UpsertStore.read(s, dir),
              Seq("o_custkey", "o_orderkey", "o_totalprice"), exactNdv = true)
            .select(col("column"), col("ndv").as("ndv_exact"))
          stats.join(exact, Seq("column"))
            .select(col("column"), col("n_nonnull"),
              (abs(col("ndv") - col("ndv_exact")) <=
                col("ndv_exact") * lit(0.15)).as("ndv_within_bounds"),
              col("n_rows"))
        }.orderBy("column")
      },
      Some("WITH t AS (SELECT o_custkey, o_orderkey, o_totalprice, o_orderkey % 2 AS b FROM orders), " +
        "m AS (SELECT o_custkey, max(b) AS mb FROM t GROUP BY 1), " +
        "f AS (SELECT t.o_custkey, t.o_orderkey, t.o_totalprice, " +
        "row_number() OVER (PARTITION BY t.o_custkey ORDER BY t.o_orderkey DESC) AS rn " +
        "FROM t JOIN m ON t.o_custkey = m.o_custkey AND t.b = m.mb), " +
        "cur AS (SELECT o_custkey, o_orderkey, o_totalprice FROM f WHERE rn = 1) " +
        "SELECT 'o_custkey' AS \"column\", count(o_custkey) AS n_nonnull, " +
        "true AS ndv_within_bounds, (SELECT count(*) FROM cur) AS n_rows FROM cur " +
        "UNION ALL SELECT 'o_orderkey', count(o_orderkey), " +
        "true, (SELECT count(*) FROM cur) FROM cur " +
        "UNION ALL SELECT 'o_totalprice', count(o_totalprice), " +
        "true, (SELECT count(*) FROM cur) FROM cur " +
        "ORDER BY \"column\"")))
}
