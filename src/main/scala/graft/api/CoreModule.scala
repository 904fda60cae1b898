package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A packaged module: declared schemas + a library of pipeline functions,
  * the snapflow `Module` concept (its `core` module shipped exactly this
  * set). Users import the module and wire its functions into an
  * [[Environment]] graph.
  */
object CoreModule {

  // ---- declared schemas for the canonical stream tables ----------------

  val EventSchema: RecordSchema = RecordSchema(StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType))), uniqueOn = Seq("event_id"))

  val DocumentSchema: RecordSchema = RecordSchema(StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType))), uniqueOn = Seq("doc_id"))

  // ---- the core function library ---------------------------------------

  /** accumulator: append-accumulate blocks into one table (by name,
    * null-filling missing columns like a widening stream).
    */
  def accumulate(blocks: Seq[DataFrame]): DataFrame =
    blocks.reduceLeft(_.unionByName(_, allowMissingColumns = true))

  /** stream op `merge`: interleave streams of compatible schemas. */
  def merge(streams: DataFrame*): DataFrame = accumulate(streams)

  /** stream op `latest`: most recent row per key by (orderCol, tiebreak). */
  def latest(df: DataFrame, keys: Seq[String], orderCol: String, tiebreak: String): DataFrame =
    graft.Tables.topK(df, keys, Seq(col(orderCol).desc, col(tiebreak).desc), 1, "__rn")
      .drop("__rn")

  /** dedupe_keep_latest on a declared schema's unique_on key. */
  def dedupeKeepLatest(df: DataFrame, schema: RecordSchema, orderCol: String): DataFrame =
    schema.dedupeKeepLatest(df, orderCol)

  /** incremental high-watermark filter: only rows past the stored mark. */
  def sinceWatermark(df: DataFrame, tsCol: String, watermark: java.time.LocalDateTime): DataFrame =
    df.where(col(tsCol) > lit(watermark))
}
