package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One operator from SURVEY.md §2: a stable key, the Spark query, and the
  * equivalent DuckDB oracle SQL (None for ops whose semantics the oracle
  * cannot reproduce deterministically, e.g. HLL sketches).
  *
  * Contract (driver t2): `query(spark, sfDir)` is written to parquet and
  * hash-compared against DuckDB running `oracle` over views named after the
  * tables (`lineitem`, `orders`, ...). Columns are compared by sorted name;
  * rows in result order — so every query ends in a total ORDER BY over a
  * unique key, identical on both sides.
  */
case class Op(
    key: String,
    query: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "")

/** Shared table loaders and oracle-parity helpers (SURVEY.md §2-G). */
object Tables {

  /** All parquet tables except `events` (which needs the nanos shim). */
  val plainNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings")

  /** Footer schemas of the IMMUTABLE testdata tables, cached per path:
    * plain `spark.read.parquet` runs one footer-inference Spark job per
    * call, and a bench pass pays it on every one of several hundred
    * table reads. METADATA only — row data is always re-read from the
    * parquet files (nothing here caches results or rows).
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val p = s"$dir/$name.parquet"
    val sch = schemaCache.computeIfAbsent(p, _ => spark.read.parquet(p).schema)
    spark.read.schema(sch).parquet(p)
  }

  /** `events` with `ts` normalized to a microsecond TIMESTAMP_NTZ,
    * whatever physical type the generator wrote.
    *
    * Early testdata generations wrote TIMESTAMP(NANOS), which Spark 4
    * refuses to read natively ([PARQUET_TYPE_ILLEGAL]); with
    * `nanosAsLong` it arrives as Long nanos and
    * `timestamp_micros(ts div 1000)` rebuilds DuckDB's natively read,
    * microsecond-truncated naive TIMESTAMP (session TZ is UTC). Current
    * generations write TIMESTAMP(MICROS), which arrives as
    * TIMESTAMP_NTZ already — the shim must not touch it. Branching on
    * the read schema keeps both vintages working.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val p = s"$dir/events.parquet"
    val sch = schemaCache.computeIfAbsent(p, _ => spark.read.parquet(p).schema)
    val df = spark.read.schema(sch).parquet(p)
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts",
          expr("CAST(timestamp_micros(ts div 1000) AS TIMESTAMP_NTZ)"))
      case _ =>
        df.withColumn("ts", expr("CAST(ts AS TIMESTAMP_NTZ)"))
    }
  }

  /** `events` with a 1e-6 fixed-point `value` (`v`) and epoch-microsecond
    * `ts` (`us`): the event-family projection. Its DuckDB twin is [[oEv]].
    */
  def eventsFp(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).select(col("event_type"), col("user_id"), col("event_id"),
      expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"),
      expr("CAST(floor(value * 1000000) AS BIGINT)").as("v"))

  /** DuckDB CTE `ev`: the same fixed-point event frame. */
  val oEv: String =
    "ev AS (SELECT event_type, user_id, event_id, epoch_us(ts) AS us, " +
      "CAST(floor(value * 1000000) AS BIGINT) AS v FROM events)"

  /** Register temp views for spark.sql-authored operators. */
  def views(spark: SparkSession, dir: String): Unit = {
    plainNames.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))
    events(spark, dir).createOrReplaceTempView("events")
  }

  /** Fan a small-file scan out to all cores. The testdata tables are one
    * parquet file each, so compute-heavy per-row work (hashing, folds)
    * would otherwise run in a single task; at production scale the file
    * count makes this a no-op-sized shuffle of the narrow input.
    */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** `rankCol` = row_number within `partition` in `order`. */
  private[graft] def ranked(df: DataFrame, partition: Seq[String], order: Seq[Column],
      rankCol: String): DataFrame =
    df.withColumn(rankCol, row_number().over(
      Window.partitionBy(partition.map(col): _*).orderBy(order: _*)))

  /** Top-k step, the one way to keep the best rows of each group: the
    * first `k` rows of each `partition` in `order`, numbered in
    * `rankCol`; k = 1 is the argmin filter `rankCol = 1`. Spark's
    * `InferWindowGroupLimit` turns the cut into a partial
    * `WindowGroupLimit` before the shuffle. Global top-k stays
    * `orderBy(...).limit(k)`.
    */
  private[graft] def topK(df: DataFrame, partition: Seq[String], order: Seq[Column], k: Int,
      rankCol: String = "rn"): DataFrame =
    ranked(df, partition, order, rankCol)
      .where(if (k == 1) col(rankCol) === 1 else col(rankCol) <= k)

  private val dec = DecimalType(18, 4)

  /** Order-independent 2-dp sum of a double column: cast to DECIMAL(18,4)
    * first so the aggregation is exact (no float summation-order drift
    * across partitions or engines), then round and return DOUBLE.
    */
  def dsum(c: Column): Column = round(sum(c.cast(dec)), 2).cast(DoubleType)

  /** Same stabilization for averages. */
  def davg(c: Column): Column = round(avg(c.cast(dec)), 2).cast(DoubleType)

  /** DuckDB-side equivalents of [[dsum]]/[[davg]]. */
  def oSum(e: String): String =
    s"CAST(ROUND(SUM(CAST($e AS DECIMAL(18,4))),2) AS DOUBLE)"
  def oAvg(e: String): String =
    s"CAST(ROUND(AVG(CAST($e AS DECIMAL(18,4))),2) AS DOUBLE)"

  /** 60-bit md5 prefix hash of `e` — the house portable hash: Spark
    * `conv(hex,16,10)`, DuckDB `'0x'||hex` cast ([[oH60]]), identical value.
    */
  def h60(e: String): String =
    s"CAST(conv(substring(md5($e), 1, 15), 16, 10) AS BIGINT)"
  def oH60(e: String): String =
    s"CAST(concat('0x', substr(md5($e), 1, 15)) AS BIGINT)"

  /** 32-bit md5 prefix (bucket hashing), Spark and DuckDB sides. */
  def h32(e: String): String =
    s"CAST(conv(substring(md5($e), 1, 8), 16, 10) AS BIGINT)"
  def oH32(e: String): String =
    s"CAST(concat('0x', substr(md5($e), 1, 8)) AS BIGINT)"
}
