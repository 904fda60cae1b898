package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persistent data-quality metrics repository — the Deequ
  * metrics-repository shape over [[StoreIO]] generations: each
  * pipeline run appends its expectation panel (expectation,
  * metric_ppm, threshold_ppm, ok) stamped with a monotone `run_seq`,
  * and [[trend]] reads the deltas between the two most recent runs per
  * expectation — the store a DQ dashboard tails and a regression alert
  * gates on. Appends commit a ledgered generation
  * (StoreIO.commitGen: `gen/runs` + `gen/state.json`, one rename), so
  * a replayed append (foreachBatch redelivery, retried orchestrator
  * task) is a full no-op that runs no Spark job; the table grows by
  * one panel per run, so reads stay tiny however large the corpus the
  * panels describe.
  */
object DqHistory {

  def exists(spark: SparkSession, dir: String): Boolean =
    StoreIO.hasTable(spark, dir, "runs")

  /** Append one run's panel. Returns false (untouched store) when
    * `batchId` is already in the applied ledger.
    */
  def append(
      panel: DataFrame,
      dir: String,
      runSeq: Long,
      batchId: Option[String] = None,
      leaseStaleMs: Long = 600000L): Boolean =
    StoreIO.withLease(panel.sparkSession, dir, leaseStaleMs) {
    val spark = panel.sparkSession
    val stamped = panel.withColumn("run_seq", lit(runSeq))
    if (!exists(spark, dir)) {
      StoreIO.commitGen(spark, dir, batchId.toSeq, Some("runs" -> stamped))
      return true
    }
    val led = StoreIO.ledgerOf(spark, dir)
    if (batchId.exists(led.contains)) return false
    // idempotent per run: a redelivery under a different batch id (an
    // orchestrator retry that minted a new one) drops any existing rows
    // for this run_seq before re-appending, so it converges to ONE
    // panel per run (like UpsertStore's merge) instead of a duplicate
    // that would make trend() compare a run to itself
    StoreIO.commitGen(spark, dir, led ++ batchId, Some("runs" ->
      read(spark, dir).where(col("run_seq") =!= runSeq).unionByName(stamped)))
    true
  }

  def read(spark: SparkSession, dir: String): DataFrame =
    StoreIO.readTable(spark, dir, "runs")

  /** Latest-vs-previous delta per expectation: (expectation,
    * threshold_ppm, prev_run_seq, run_seq, prev_ppm, metric_ppm,
    * delta_ppm, regressed). `regressed` = the expectation flipped
    * ok -> failing, or its metric dropped by more than `alertDropPpm`.
    * Expectations present in only one run are skipped (no delta to
    * report).
    */
  def trend(spark: SparkSession, dir: String, alertDropPpm: Long = 1000L): DataFrame = {
    val w = Window.partitionBy("expectation").orderBy(col("run_seq").desc)
    read(spark, dir)
      .withColumn("rn", row_number().over(w))
      .where("rn <= 2")
      .groupBy("expectation")
      .agg(
        count(lit(1)).as("n_runs"),
        max(when(col("rn") === 1, col("threshold_ppm"))).as("threshold_ppm"),
        max(when(col("rn") === 2, col("run_seq"))).as("prev_run_seq"),
        max(when(col("rn") === 1, col("run_seq"))).as("run_seq"),
        max(when(col("rn") === 2, col("metric_ppm"))).as("prev_ppm"),
        max(when(col("rn") === 1, col("metric_ppm"))).as("metric_ppm"),
        max(when(col("rn") === 2, col("ok"))).as("prev_ok"),
        max(when(col("rn") === 1, col("ok"))).as("ok"))
      .where("n_runs = 2")
      .withColumn("delta_ppm", col("metric_ppm") - col("prev_ppm"))
      .withColumn("regressed",
        (col("prev_ok") && !col("ok")) || col("delta_ppm") < lit(-alertDropPpm))
      .select("expectation", "threshold_ppm", "prev_run_seq", "run_seq",
        "prev_ppm", "metric_ppm", "delta_ppm", "regressed")
      .orderBy("expectation")
  }
}
