package graft.api

import graft.{Pipeline, Stage}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The snapflow user surface on Spark: an Environment owns storages
  * (named datasets), a graph of named function nodes, and produce()/run()
  * entry points. A snapflow user's
  *
  * {{{
  * env = Environment(...); env.add_node("clean", clean_fn, input="raw")
  * env.produce("clean")
  * }}}
  *
  * becomes
  *
  * {{{
  * val env = new Environment(spark)
  * env.addSource("raw", spark.read.parquet(...))
  * env.addNode("clean", Seq("raw"))(dfs => cleanFn(dfs.head))
  * env.produce("clean")
  * }}}
  *
  * Nodes are lazy DataFrames — Catalyst fuses the whole produced graph
  * into one plan; materialize() is the StoredDataBlock step.
  */
final class Environment(val spark: SparkSession) {

  private val sources = collection.mutable.Map[String, DataFrame]()
  private val nodes = collection.mutable.LinkedHashMap[String, Stage]()

  def addSource(name: String, df: DataFrame): this.type = {
    sources(name) = df; this
  }

  /** Register a parquet-backed source (the common storage). */
  def addParquetSource(name: String, path: String): this.type =
    addSource(name, spark.read.parquet(path))

  def addNode(name: String, deps: Seq[String])(fn: Seq[DataFrame] => DataFrame): this.type = {
    require(!nodes.contains(name), s"node already declared: $name")
    nodes(name) = Stage(deps, fn); this
  }

  /** One-input convenience arity (most snapflow functions). */
  def addNode1(name: String, dep: String)(fn: DataFrame => DataFrame): this.type =
    addNode(name, Seq(dep))(dfs => fn(dfs.head))

  /** Resolve and return the node's (lazy) output block. */
  def produce(name: String): DataFrame =
    new Pipeline(nodes.toMap).run(name, sources.toMap)

  /** Dependency-first execution order of a node (the resolved graph). */
  def executionOrder(name: String): Seq[String] =
    new Pipeline(nodes.toMap).order(name)

  /** Materialize a node to parquet and return the re-read block —
    * snapflow's immutable StoredDataBlock.
    */
  def materialize(name: String, path: String): DataFrame = {
    produce(name).write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** Batch-incremental run (snapflow's DataBlockLog consumption
    * accounting): produce `name`, keep only rows with `tsCol` past the
    * stage's high-watermark in the persistent run-log, write them to
    * `outDir` under this run's `run_seq` partition, and record the
    * consumption as a new run-log entry. Each call processes exactly
    * the unconsumed rows; re-running with no new input writes nothing
    * (and logs a zero-row run). The run-log is a tiny parquet table —
    * one row per (stage, run) — so the consumption history survives
    * process restarts and is itself queryable; the data path stays
    * fully distributed.
    *
    * Replay safety: the data lands as a DYNAMIC OVERWRITE of the run's
    * own `run_seq=N` partition, and the run-log entry commits after.
    * A failure between the two writes re-runs the same run_seq next
    * time and overwrites its own partition instead of appending a
    * duplicate — at-least-once execution, exactly-once output.
    * Concurrency stays single-writer-per-stateDir (two concurrent
    * writers would claim the same run_seq; that is a coordination
    * contract, not something two blind writers can resolve).
    */
  def runIncremental(name: String, tsCol: String, stateDir: String, outDir: String): Long = {
    import org.apache.spark.sql.functions.{col, count, lit, max}
    val last = RunLog.last(spark, stateDir, name)
    val prev = last.map(_.watermark).getOrElse(Long.MinValue)
    val runSeq = last.map(_.runSeq + 1).getOrElse(1L)
    // the new watermark and consumed-row count are OBSERVED on the write
    // pass itself (executor-side accumulators) — one distributed scan, no
    // separate counting job over the delta
    val obs = new org.apache.spark.sql.Observation()
    produce(name).where(col(tsCol).cast("long") > prev)
      .observe(obs, max(col(tsCol).cast("long")).as("wm"), count(lit(1)).as("n"))
      .withColumn("run_seq", lit(runSeq))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("run_seq")
      .parquet(outDir)
    val n = obs.get("n").asInstanceOf[Long]
    RunLog.append(spark, stateDir, name,
      runSeq = runSeq,
      watermark = Option(obs.get("wm")).map(_.asInstanceOf[Long]).getOrElse(prev),
      rowsConsumed = n)
    n
  }
}

/** Persistent per-stage consumption log — snapflow's DataBlockLog: one
  * parquet row per (stage, run) recording the high-watermark reached and
  * the rows consumed. The table is tiny (it grows by one row per
  * incremental run), so it is read whole; everything it gates stays
  * distributed.
  */
object RunLog {
  final case class Entry(stage: String, runSeq: Long, watermark: Long, rowsConsumed: Long)

  def read(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("stage", StringType), StructField("run_seq", LongType),
      StructField("watermark", LongType), StructField("rows_consumed", LongType)))
    // Hadoop-FS probe (NOT java.io.File — a stateDir on HDFS/S3 must
    // read its own history, or runIncremental silently resets to
    // run_seq 1 and re-consumes from Long.MinValue)
    if (StoreIO.hasParquet(spark, dir)) spark.read.schema(schema).parquet(dir)
    else spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
  }

  def last(spark: SparkSession, dir: String, stage: String): Option[Entry] = {
    import org.apache.spark.sql.functions.{col, desc}
    read(spark, dir).where(col("stage") === stage)
      .orderBy(desc("run_seq")).limit(1).collect().headOption
      .map(r => Entry(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
  }

  def append(spark: SparkSession, dir: String, stage: String,
      runSeq: Long, watermark: Long, rowsConsumed: Long): Unit = {
    import spark.implicits._
    Seq((stage, runSeq, watermark, rowsConsumed))
      .toDF("stage", "run_seq", "watermark", "rows_consumed")
      .coalesce(1).write.mode("append").parquet(dir)
  }
}
