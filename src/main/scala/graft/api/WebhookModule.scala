package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A second packaged module (after [[CoreModule]]), proving the
  * module extension story: declared schemas + a function library for a
  * synthetic "webhook events" source — the snapflow connector-module
  * shape (`snapflow_stripe`-style) with the network leg replaced by a
  * deterministic generator (zero-egress sandbox). Users import the
  * module, wire [[deliveries]] (or a real HTTP-landing-zone scan) into
  * an Environment graph, and run the library functions as ordinary
  * distributed stages: every function here is a single codegen
  * projection/filter or one keyed exchange — nothing driver-sized.
  */
object WebhookModule {

  /** One webhook delivery: unique per `delivery_id`; `event_key` is the
    * PROVIDER event identity (retries share it), `payload` is the raw
    * JSON envelope body, `signature` the provider's payload HMAC.
    */
  val DeliverySchema: RecordSchema = RecordSchema(StructType(Seq(
    StructField("delivery_id", LongType, nullable = false),
    StructField("event_key", LongType, nullable = false),
    StructField("event", StringType),
    StructField("payload", StringType),
    StructField("signature", StringType))), uniqueOn = Seq("delivery_id"))

  /** Signing scheme: lowercase hex SHA-256 over payload || secret (the
    * shared-secret HMAC shape most webhook providers document, with the
    * keyed-hash simplified to a salted hash so DuckDB can replay it).
    */
  def sign(payload: org.apache.spark.sql.Column, secret: String): org.apache.spark.sql.Column =
    sha2(concat(payload, lit(secret)), 256)

  /** Deterministic delivery stream synthesized from `orders`: one
    * delivery per order, `event_key = o_orderkey div 2` (so roughly
    * every event is delivered twice — the provider-retry shape),
    * payload a canonical JSON envelope, and every 7th delivery carries
    * a corrupted signature. Stands in for the connector's HTTP landing
    * zone; schema conforms to [[DeliverySchema]].
    */
  def deliveries(spark: SparkSession, sfDir: String, secret: String = "whsec_demo"): DataFrame = {
    val raw = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(
        col("o_orderkey").as("delivery_id"),
        expr("o_orderkey div 2").as("event_key"),
        expr("CASE WHEN o_orderstatus = 'F' THEN 'payment.settled' " +
          "WHEN o_orderstatus = 'O' THEN 'payment.created' " +
          "ELSE 'payment.pending' END").as("event"),
        expr("concat('{\"customer\":', CAST(o_custkey AS STRING), " +
          "',\"amount_cents\":', " +
          "CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS STRING), '}')")
          .as("payload"))
    DeliverySchema.conform(
      raw.withColumn("signature",
        when(col("delivery_id") % 7 === 0, lit("deadbeef"))
          .otherwise(sign(col("payload"), secret))))
  }

  /** Envelope verify + parse: flag signature validity and extract the
    * typed business fields from the JSON payload. Pure per-row codegen
    * projection — the connector's map stage.
    */
  def parse(df: DataFrame, secret: String = "whsec_demo"): DataFrame =
    df.withColumn("sig_ok", sign(col("payload"), secret) === col("signature"))
      .withColumn("customer", expr("CAST(get_json_object(payload, '$.customer') AS BIGINT)"))
      .withColumn("amount_cents", expr("CAST(get_json_object(payload, '$.amount_cents') AS BIGINT)"))

  /** Replay dedup: webhook providers deliver at-least-once, so retries
    * share an `event_key` with distinct `delivery_id`s — keep the
    * FIRST delivery per event (min delivery_id). One keyed exchange on
    * event_key; at 100 TB this is the same bucketed pattern as
    * core_dedupe_keep_latest.
    */
  def dedupeReplays(df: DataFrame): DataFrame = {
    graft.Tables.topK(df, Seq("event_key"), Seq(col("delivery_id").asc), 1, "__rn").drop("__rn")
  }
}
