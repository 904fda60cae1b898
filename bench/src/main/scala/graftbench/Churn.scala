package graftbench

import java.time.{LocalDateTime, ZoneOffset}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded generator of upsert batches over an orders-shaped keyed table,
  * plus the event and document batches that ride along with them.
  *
  * A batch mixes updates whose keys follow a Zipf law over the base key
  * ranks (so the buckets of the hottest keys are rewritten by almost every
  * commit), inserts of fresh keys, and deletes of live keys outside the
  * hot set. Every row carries a global version `ver`, so "latest version
  * per key" is the expected fold.
  */
final class Churn(seed: Long, val nBase: Int, nCust: Int, nUsers: Int) {
  import Churn._

  private val rnd = new Random(seed)
  private val cdf: Array[Double] = {
    val w = Array.tabulate(nBase)(i => 1.0 / math.pow(i + 1.0, zipfS))
    val total = w.sum
    w.scanLeft(0.0)(_ + _ / total).tail
  }
  private val dead = mutable.BitSet.empty
  private var nextKey = nBase.toLong
  private var nextVer = 1L
  private var nextEvent = 0L
  private var nextDoc = 0L
  private var clock = Data.eventEpoch

  /** Every batch row handed to the store so far. */
  val applied = mutable.ArrayBuffer.empty[Row]
  val events = mutable.ArrayBuffer.empty[Row]
  val docs = mutable.ArrayBuffer.empty[Row]

  private def zipfKey(): Long = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    (if (i >= 0) i else -i - 1).toLong.min(nBase - 1L)
  }

  private def row(key: Long, op: String): Row = {
    val o = Data.orderRow(rnd, key, nCust)
    val v = nextVer
    nextVer += 1
    Row(o.getLong(0), o.getLong(1), o.getString(2), o.getDouble(3), o.get(4), o.getString(5),
      math.round(o.getDouble(3) * 100), op, v)
  }

  /** The seed table: keys 0 until nBase, all version 0. */
  def base(spark: SparkSession): DataFrame =
    Data.orders(spark, nBase.toLong, nCust.toLong, seed).select(col("*"),
      round(col("o_totalprice") * 100).cast("long").as("o_cents"), lit("I").as("op"),
      lit(0L).as("ver"))

  /** One upsert batch; `deletes` = 0 gives a pure upsert (CDC) batch. */
  def batch(updates: Int, inserts: Int, deletes: Int): Seq[Row] = {
    val upd = Iterator.continually(zipfKey()).filterNot(k => dead(k.toInt)).take(updates).toSeq
    val ins = (0 until inserts).map { _ => nextKey += 1; nextKey - 1 }
    val touched = upd.toSet
    val del = Iterator.continually(hot + (rnd.nextDouble() * (nextKey - hot)).toLong)
      .filterNot(k => dead(k.toInt) || touched(k)).take(deletes).toSeq.distinct
    val rows = upd.map(row(_, "U")) ++ ins.map(row(_, "I")) ++ del.map(row(_, "D"))
    del.foreach(k => dead += k.toInt)
    applied ++= rows
    rows
  }

  /** `n` time-ordered events after every earlier one; the clock moves on
    * by `advanceMin` minutes per batch, so some sessions continue across
    * batches and some close.
    */
  def eventBatch(n: Int, advanceMin: Int): Seq[Row] = {
    val spanUs = advanceMin * 60L * 1000000L
    val offs = Array.fill(n)((rnd.nextDouble() * spanUs).toLong).sorted
    val rows = offs.toSeq.map { o =>
      nextEvent += 1
      Data.eventRow(rnd, nextEvent - 1, clock.plusNanos(o * 1000L), nUsers)
    }
    clock = clock.plusMinutes(advanceMin.toLong)
    events ++= rows
    rows
  }

  def docBatch(n: Int): Seq[Row] = {
    val rows = (0 until n).map { _ => nextDoc += 1; Data.documentRow(rnd, nextDoc - 1) }
    docs ++= rows
    rows
  }
}

object Churn {
  val key = "o_orderkey"
  val zipfS = 1.1
  /** Keys below this rank are never deleted (the lookup probe set). */
  val hot = 100L

  val schema: StructType = StructType(Data.ordersSchema.fields ++ Seq(
    StructField("o_cents", LongType), StructField("op", StringType),
    StructField("ver", LongType)))

  def frame(spark: SparkSession, rows: Seq[Row], sch: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), sch)

  /** The independent fold: latest version per key, minus deletes. */
  def fold(base: DataFrame, rows: Seq[Row]): DataFrame =
    base.unionByName(frame(base.sparkSession, rows, schema))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(key).orderBy(col("ver").desc)))
      .where("__rn = 1 AND op <> 'D'").drop("__rn")

  /** Both directions of `exceptAll` are empty (multiset equality). On a
    * mismatch, a few surplus rows of each side go to stderr.
    */
  def same(a: DataFrame, b: DataFrame): Boolean = {
    val aa = a.select(a.columns.toIndexedSeq.map(col): _*)
    val bb = b.select(a.columns.toIndexedSeq.map(col): _*)
    val ok = aa.exceptAll(bb).union(bb.exceptAll(aa)).isEmpty
    if (!ok) System.err.println(
      s"only in expected: ${aa.exceptAll(bb).limit(5).collect().mkString(" ")}\n" +
        s"only in actual: ${bb.exceptAll(aa).limit(5).collect().mkString(" ")}")
    ok
  }

  def micros(t: LocalDateTime): Long = {
    val i = t.toInstant(ZoneOffset.UTC)
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  /** A row as one JSON line, timestamps as UTC epoch microseconds: the
    * measure of "user bytes" and the landing-file format.
    */
  def jsonLine(r: Row, sch: StructType): String = sch.fields.indices.map { i =>
    val v = r.get(i) match {
      case null => "null"
      case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      case t: LocalDateTime => micros(t).toString
      case x => x.toString
    }
    "\"" + sch.fields(i).name + "\":" + v
  }.mkString("{", ",", "}")

  def bytes(rows: Seq[Row], sch: StructType): Long =
    rows.map(r => jsonLine(r, sch).length + 1L).sum
}
