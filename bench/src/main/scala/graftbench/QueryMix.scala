package graftbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Repeated passes over a fixed set of read-only registry operators on a
  * generated dataset, each pass in a seed-shuffled order. The set holds
  * at least one operator per family, and every operator behind a custom
  * Catalyst piece (cosine similarity, shingle MinHash, top-k and KMV
  * aggregators, bloom functions, the as-of join plan).
  *
  * An op's action is [[QueryMix.digest]] of its output: a row count and
  * an order-independent hash of every column. Unlike `count()`, it reads
  * every output column, so the optimizer cannot prune the op's
  * projections away, and every execution's result is checked.
  */
final class QueryMix(
    spark: SparkSession, rec: Recorder, tracer: Tracer, work: String,
    seed: Long, passes: Int, expectedPath: String, record: Boolean) extends Workload {

  val keys: Seq[String] = Seq(
    // relational, each behind a custom Catalyst piece: top-k and KMV
    // aggregators, bloom functions, the as-of join plan
    "rel_topk_per_group", "rel_agg_kmv_distinct", "rel_join_bloom_prefilter",
    "rel_join_asof_native",
    // llm pipeline: cosine similarity, shingle MinHash
    "llm_similarity_topk", "llm_dedup_minhash",
    // scalar functions, streaming batch-equivalents, event analytics
    "fn_string", "strm_tumbling_window", "rel_funnel_conversion")

  private var dir = ""
  /** Distinct digests seen per op, over every execution. */
  private val outputs = mutable.LinkedHashMap.empty[String, mutable.Set[(Long, String)]]

  private def run(key: String): Unit = rec.op(key) {
    val op = graft.Registry.byKey(key)
    val df = tracer.span("ops", "build")(op.query(spark, dir))
    if (tracer.on) tracer.span("ops", "plan")(df.queryExecution.executedPlan)
    tracer.span("ops", "action")(QueryMix.digest(df))
  }.foreach(d => outputs.getOrElseUpdate(key, mutable.Set.empty) += d)

  def setup(rep: Int): Unit = {
    dir = s"$work/rep$rep/tables"
    Data.writeTables(spark, dir, QueryMix.sf, QueryMix.dataSeed)
  }

  /** Every op twice before the window: the first pass is cold (class
    * loading, JIT, codegen), the third execution is the first steady one.
    */
  override def warm(): Unit = (1 to 2).foreach(_ => keys.foreach(run))

  private val order = new Random(seed)

  def window(): Unit =
    (1 to passes).foreach(_ => order.shuffle(keys).foreach(run))

  /** Every execution of every op, warm-up and windows, gave the row count
    * and content hash recorded in `expectedPath`.
    */
  def check(): Unit = {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val f = new java.io.File(expectedPath)
    if (record) {
      val body = keys.flatMap(k => outputs.get(k).flatMap(_.headOption).map { case (n, h) =>
        s"""    "$k": {"rows": $n, "hash": "$h"}""" }).mkString(",\n")
      java.nio.file.Files.writeString(f.toPath,
        s"""{\n  "sf": ${QueryMix.sf},\n  "data_seed": ${QueryMix.dataSeed},\n""" +
          s"""  "ops": {\n$body\n  }\n}\n""")
    }
    val ops = json.readTree(f).get("ops")
    keys.foreach { k =>
      rec.check(s"every execution of $k matches the rows and content hash in $expectedPath") {
        val e = ops.get(k)
        e != null && {
          val want = mutable.Set((e.get("rows").asLong(), e.get("hash").asText()))
          outputs.get(k).contains(want)
        }
      }
    }
  }
}

object QueryMix {
  /** Row count and order-independent content hash of an op's output. */
  def digest(df: DataFrame): (Long, String) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)
        .cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  /** Scale factor of the generated dataset (sf 0.1 = 150k orders). */
  val sf = 0.02
  /** The dataset is fixed; the run seed only shuffles the pass order. */
  val dataSeed = 42L
}
