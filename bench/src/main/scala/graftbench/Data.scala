package graftbench

import java.time.LocalDateTime

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic generator for the engine's input tables: the same
  * table names, column names and types as the TPC-H-ish star schema plus
  * `events`, `documents` and `embeddings` that the registry operators
  * read. Every value is a hash of (row id, column salt, seed), so a
  * dataset is a pure function of `(sf, seed)` whatever the partitioning;
  * row counts scale with `sf` as in the reference data (sf 0.1: 150k
  * orders, 100k events). The `*Row` functions make single rows from a
  * `Random` for the store batches.
  */
object Data {

  val vocab: IndexedSeq[String] = IndexedSeq(
    "a", "the", "spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "big", "fast", "slow", "sort",
    "hash", "scan", "filter", "group", "agg", "join", "key", "row", "part",
    "line", "order", "customer", "query", "batch", "sum")

  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampNTZType),
    StructField("o_orderpriority", StringType)))

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private val statuses = IndexedSeq("F", "O", "P")
  private val priorities =
    IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val segments =
    IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val eventTypes = IndexedSeq("click", "error", "purchase", "signup", "view")
  private val langs = IndexedSeq("de", "en", "es", "fr", "zh")

  private val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)
  val eventEpoch: LocalDateTime = LocalDateTime.of(2024, 1, 1, 0, 0)

  private def r2(v: Double): Double = math.rint(v * 100) / 100

  // ------------------------------------------------- row-at-a-time batches

  def orderRow(rnd: Random, key: Long, nCust: Long): Row = Row(
    key, (rnd.nextDouble() * nCust).toLong, statuses(rnd.nextInt(3)),
    r2(1000 + rnd.nextDouble() * 499000),
    day0.plusDays(rnd.nextInt(2404).toLong), priorities(rnd.nextInt(5)))

  def text(rnd: Random): String =
    Seq.fill(8 + rnd.nextInt(82))(vocab(rnd.nextInt(vocab.size))).mkString(" ")

  def documentRow(rnd: Random, id: Long): Row = {
    val t = text(rnd)
    Row(id, t, langs(rnd.nextInt(5)), s"src${id % 20}", t.length.toLong)
  }

  def eventRow(rnd: Random, id: Long, ts: LocalDateTime, nUsers: Int): Row = Row(
    id, ts, rnd.nextInt(nUsers).toLong, eventTypes(rnd.nextInt(5)),
    r2(rnd.nextDouble() * 200), s"""{"k": ${rnd.nextInt(100)}}""")

  // ------------------------------------------------------- whole tables

  /** Row counts of each table at scale factor `sf`. */
  final case class Sizes(sf: Double) {
    private def n(atSf1: Double, min: Int) = math.max(min, math.round(atSf1 * sf).toInt)
    val customers: Int = n(150000, 150)
    val parts: Int = n(200000, 200)
    val orders: Int = n(1500000, 1500)
    val events: Int = n(1000000, 1000)
    val users: Int = n(15000, 100)
    val documents: Int = n(50000, 500)
    val embeddings: Int = n(20000, 500)
  }

  /** Column expressions over `id` that are pure functions of (id, salt, seed). */
  final class Gen(seed: Long) {
    private val m = 1000000007L
    def hash(salt: Int): Column = pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(m))
    /** Uniform in [0, 1). */
    def u(salt: Int): Column = hash(salt).cast("double") / m.toDouble
    def int(salt: Int, n: Int): Column = floor(u(salt) * n).cast("int")
    def long(salt: Int, n: Long): Column = floor(u(salt) * n).cast("long")
    def money(salt: Int, lo: Double, width: Double): Column = round(lit(lo) + u(salt) * width, 2)
    def pick(salt: Int, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), int(salt, xs.size) + 1)
    def day(salt: Int, from: String, days: Int): Column =
      expr(s"CAST(date_add(DATE'$from', 0) AS TIMESTAMP_NTZ)") +
        make_dt_interval(int(salt, days))
    def sqlLit(xs: Seq[String]): String = xs.map(x => s"'$x'").mkString("array(", ",", ")")
  }

  /** The orders table of `n` rows. */
  def orders(spark: SparkSession, n: Long, nCust: Long, seed: Long): DataFrame = {
    val g = new Gen(seed)
    spark.range(n).select(col("id").as("o_orderkey"), g.long(1, nCust).as("o_custkey"),
      g.pick(2, statuses).as("o_orderstatus"), g.money(3, 1000, 499000).as("o_totalprice"),
      g.day(4, "1995-01-01", 2404).as("o_orderdate"), g.pick(5, priorities).as("o_orderpriority"))
  }

  /** Write the tables the query mix reads under `dir`, one parquet file
    * each: customer, part, orders, events, documents, embeddings.
    */
  def writeTables(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    val z = Sizes(sf)
    val g = new Gen(seed)
    val tables = Seq.newBuilder[(String, DataFrame)]
    def out(name: String, df: DataFrame): Unit = tables += name -> df
    def range(n: Long) = spark.range(n)

    out("customer", range(z.customers).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"), g.int(20, 25).as("c_nationkey"),
      g.money(21, 0, 10000).as("c_acctbal"), g.pick(22, segments).as("c_mktsegment")))
    out("part", range(z.parts).select(col("id").as("p_partkey"),
      concat_ws(" ", g.pick(30, Seq("large", "hot", "blue", "old", "cold", "small", "red")),
        g.pick(31, Seq("ring", "bolt", "plate", "nut", "gear", "pipe"))).as("p_name"),
      concat(lit("Brand#"), g.int(32, 25) + 1).as("p_brand"),
      g.pick(33, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      (g.int(34, 50) + 1).as("p_size"),
      round(lit(900.0) + (col("id") % 20000) * 0.1, 2).as("p_retailprice")))
    out("orders", orders(spark, z.orders, z.customers, seed))
    // events in id order with ascending timestamps over 30 days
    val stepUs = 30L * 86400L * 1000000L / z.events
    out("events", range(z.events).select(col("id").as("event_id"),
      timestamp_micros(lit(Churn.micros(eventEpoch)) + col("id") * stepUs +
        floor(g.u(60) * stepUs).cast("long")).cast(TimestampNTZType).as("ts"),
      g.long(61, z.users).as("user_id"), g.pick(62, eventTypes).as("event_type"),
      g.money(63, 0, 200).as("value"),
      concat(lit("{\"k\": "), g.int(64, 100), lit("}")).as("props")))
    val words = g.sqlLit(vocab)
    out("documents", range(z.documents).select(col("id").as("doc_id"),
        expr(s"concat_ws(' ', transform(sequence(1, 8 + CAST(pmod(xxhash64(id, ${seed}L, 70), 82) AS INT)), " +
          s"i -> element_at($words, CAST(pmod(xxhash64(id, ${seed}L, 71, i), ${vocab.size}) AS INT) + 1)))")
          .as("text"),
        g.pick(72, langs).as("lang"), concat(lit("src"), col("id") % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
    out("embeddings", range(z.embeddings).select(col("id").as("vec_id"),
      expr(s"transform(sequence(1, 64), i -> CAST((pmod(xxhash64(id, ${seed}L, 80, i), 2000001) " +
        "- 1000000) / 2000000.0 AS FLOAT))").as("embedding"),
      g.int(81, 10).as("label")))
    // the writes are independent jobs; running them side by side keeps
    // set-up short without touching anything the window measures
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    tables.result().map { case (name, df) =>
      Future(df.coalesce(1).write.parquet(s"$dir/$name.parquet"))
    }.foreach(Await.result(_, scala.concurrent.duration.Duration.Inf))
  }
}
