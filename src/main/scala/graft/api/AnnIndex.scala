package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persistent centroid-backed IVF index — the state a production
  * similarity service maintains between runs (the ANN analogue of
  * [[DedupIndex]]): k-means-trained coarse centroids plus the corpus
  * assignment table, partitioned by cell so a search touches only its
  * probe cells.
  *
  * On disk: `dir/centroids` (k rows: c_id, n, c_vec),
  * `dir/assignments` (one row per vector, `partitionBy(batch_key,
  * c_id)` so the nProbe-cell candidate scan is a partition-pruned
  * read, never a corpus scan, and each ingested batch owns its own
  * partitions — replay-overwritable) and `dir/gen/state.json`, the
  * batch-id ledger (a legacy parquet `dir/applied` ledger is folded
  * into it by the next update). `update` assigns a new batch
  * against the FIXED centroids and writes only its own partitions —
  * the between-retrains ingestion path; `train`/`build` is the
  * periodic retrain.
  *
  * All arithmetic is the fixed-point Lloyd iteration the
  * `llm_kmeans_train` operator pins against the DuckDB oracle
  * (floor-scaled integer sums, so centroids are bit-identical across
  * engines and runs); `llm_ann_ivf_trained` + its recall audit go
  * through these exact functions, so the audited path IS the index
  * path.
  */
object AnnIndex {

  /** Squared-L2 fold between vector column `v` and broadcast `c_vec`,
    * in DOUBLE, sequentially — the deterministic distance every
    * assignment in the engine uses.
    */
  private[graft] def d2(v: String): String =
    s"aggregate(zip_with($v, c_vec, (x, c) -> " +
      "(CAST(x AS DOUBLE) - c) * (CAST(x AS DOUBLE) - c)), " +
      "CAST(0 AS DOUBLE), (a, v) -> a + v)"

  private val trainCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String, Int, Int, String), DataFrame]

  /** Training-job counter, observable by tests. */
  @volatile private[graft] var trainJobs: Long = 0L

  /** [[train]] memoized per (session, embeddings dir, k, iters): the
    * kmeans-train op, the trained-IVF pair and the inertia audit all
    * consume the SAME centroids, so one Lloyd run serves the family
    * within a session (train ends in localCheckpoint, so the cached
    * 10-row table is materialized, not recomputed lineage).
    */
  def trainFor(
      s: org.apache.spark.sql.SparkSession,
      dir: String,
      k: Int = 10,
      iters: Int = 3): DataFrame =
    // coarse lock: see Models.logregTrainFor — prevents double Lloyd
    // runs (one leaked) and lost counter increments under races
    trainCache.synchronized {
      trainCache.getOrElseUpdate((s, dir, k, iters, "full"), {
        trainJobs += 1
        train(s.read.parquet(s"$dir/embeddings.parquet"), k, iters)
      })
    }

  /** ALL `mCount` contiguous subspaces (each `subDim` dims) trained in
    * ONE Lloyd stream: the subspace id rides the rows, assignment
    * argmins partition by (m, vec_id) and centroid rebuilds group by
    * (m, c_id, pos) — one shuffle per iteration instead of one per
    * (subspace, iteration), and mCount-times fewer jobs. Per-m results
    * are bit-identical to training each slice separately (the seeds,
    * the argmin tiebreak and the fixed-point rebuild are all
    * m-independent), so the PQ oracle parity is untouched. Memoized
    * per session like [[trainFor]]: the PQ family (`llm_pq_train`,
    * `llm_pq_adc_recall`) shares one set of codebooks per session.
    * Returns (m, c_id, n, c_vec).
    */
  def trainSubspaces(
      s: org.apache.spark.sql.SparkSession,
      dir: String,
      mCount: Int,
      subDim: Int,
      k: Int,
      iters: Int): DataFrame =
    trainCache.synchronized {
      trainCache.getOrElseUpdate((s, dir, k, iters, s"subspaces:$mCount:$subDim"), {
        trainJobs += 1
        val sub = graft.Tables.spread(s.read.parquet(s"$dir/embeddings.parquet"))
          .select(col("vec_id"), explode(expr(
            s"transform(sequence(0, ${mCount - 1}), m -> " +
              s"struct(m AS m, slice(embedding, m * $subDim + 1, $subDim) AS emb))")).as("x"))
          .select(col("vec_id"), col("x.m").as("m"), col("x.emb").as("embedding"))
        var cent = sub.where(s"vec_id < $k")
          .select(col("m"), col("vec_id").as("c_id"), lit(1L).as("n"),
            expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("c_vec"))
        for (_ <- 1 to iters) {
          val assign = sub.join(broadcast(cent.select("m", "c_id", "c_vec")), Seq("m"))
            .withColumn("d2", expr(d2("embedding")))
            .withColumn("rn", row_number().over(
              Window.partitionBy("m", "vec_id").orderBy(col("d2"), col("c_id"))))
            .where("rn = 1")
            .select("m", "c_id", "embedding")
          cent = assign
            .select(col("m"), col("c_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
            .groupBy("m", "c_id", "pos")
            .agg(sum(expr("CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)")).as("s"),
              count(lit(1)).as("cnt"))
            .groupBy("m", "c_id")
            .agg(max("cnt").as("n"),
              expr("array_sort(collect_list(struct(pos, s)))").as("ss"))
            .select(col("m"), col("c_id"), col("n"),
              expr("transform(ss, e -> CAST(e.s AS DOUBLE) / (10000.0 * n))").as("c_vec"))
            .localCheckpoint()
        }
        cent
      })
    }

  /** `iters` unrolled Lloyd iterations from the first-k seed vectors:
    * broadcast-assignment (argmin with c_id tiebreak) + fixed-point
    * integer centroid rebuild per iteration; per-iteration
    * localCheckpoint keeps lineage flat. Returns (c_id, n, c_vec).
    */
  def train(emb: DataFrame, k: Int = 10, iters: Int = 3): DataFrame = {
    var cent = emb.where(s"vec_id < $k")
      .select(col("vec_id").as("c_id"), lit(1L).as("n"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("c_vec"))
    for (_ <- 1 to iters) {
      val assign = emb.crossJoin(broadcast(cent.select("c_id", "c_vec")))
        .withColumn("d2", expr(d2("embedding")))
        .withColumn("rn", row_number().over(
          Window.partitionBy("vec_id").orderBy(col("d2"), col("c_id"))))
        .where("rn = 1")
        .select("c_id", "embedding")
      cent = assign
        .select(col("c_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("c_id", "pos")
        .agg(sum(expr("CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)")).as("s"),
          count(lit(1)).as("cnt"))
        .groupBy("c_id")
        .agg(max("cnt").as("n"),
          expr("array_sort(collect_list(struct(pos, s)))").as("ss"))
        .select(col("c_id"), col("n"),
          expr("transform(ss, e -> CAST(e.s AS DOUBLE) / (10000.0 * n))").as("c_vec"))
        // pin each iteration's k-row centroid table: without this the
        // lazy lineage compounds and iteration N re-executes every
        // previous assignment pass
        .localCheckpoint()
    }
    cent
  }

  /** Nearest-centroid cell per vector (broadcast centroids, argmin with
    * c_id tiebreak): the input columns plus `c_id`.
    */
  def assign(vectors: DataFrame, centroids: DataFrame): DataFrame =
    vectors.crossJoin(broadcast(centroids.select("c_id", "c_vec")))
      .withColumn("d2", expr(d2("embedding")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("d2"), col("c_id"))))
      .where("rn = 1")
      .select(vectors.columns.map(col).toIndexedSeq :+ col("c_id"): _*)

  /** Each probe's `nProbe` nearest cells: (p_id, p_emb, c_id). Probes
    * are a bounded panel; centroids broadcast.
    */
  def probeCells(probes: DataFrame, centroids: DataFrame, nProbe: Int): DataFrame =
    probes.crossJoin(broadcast(centroids.select("c_id", "c_vec")))
      .withColumn("d2", expr(d2("p_emb")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("p_id").orderBy(col("d2"), col("c_id"))))
      .where(s"rn <= $nProbe")
      .select("p_id", "p_emb", "c_id")

  /** IVF search over an assigned corpus: candidates = vectors in each
    * probe's `nProbe` nearest cells, exact cosine re-rank, top `k` per
    * probe. Probes: (p_id, p_emb). Returns (p_id, vec_id, c_id, sim, rn).
    */
  def search(assigned: DataFrame, centroids: DataFrame, probes: DataFrame,
      k: Int, nProbe: Int): DataFrame = {
    graft.functions.CosineSimilarity.register(assigned.sparkSession)
    val cells = probeCells(probes, centroids, nProbe)
    val wTop = Window.partitionBy("p_id").orderBy(desc("sim"), col("vec_id"))
    assigned.join(broadcast(cells), "c_id")
      .where("vec_id <> p_id")
      .withColumn("sim", expr("cosine_sim(embedding, p_emb)"))
      .withColumn("rn", row_number().over(wTop))
      .where(s"rn <= $k")
      .select("p_id", "vec_id", "c_id", "sim", "rn")
  }

  // ---- persistence ----------------------------------------------------

  def build(emb: DataFrame, dir: String, k: Int = 10, iters: Int = 3): Unit = {
    val cent = train(emb, k, iters).localCheckpoint()
    cent.write.mode("overwrite").parquet(s"$dir/centroids")
    assign(emb, cent)
      .withColumn("batch_key", lit("base"))
      .write.mode("overwrite")
      .partitionBy("batch_key", "c_id").parquet(s"$dir/assignments")
  }

  def readCentroids(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/centroids")

  /** Fold a new batch into the index against the FIXED centroids.
    * Assignments are partitioned (batch_key, c_id) and each update
    * lands with DYNAMIC partition overwrite under its own batch_key,
    * so a redelivered batch rewrites exactly its own partitions
    * instead of appending duplicates — the property that lets
    * [[graft.streaming.Streams.annSink]] run at-least-once
    * foreachBatch replays safely. With `batchId` set, an
    * already-applied batch (per the JSON ledger `dir/gen/state.json`,
    * StoreIO.commitGen) is a full no-op that runs no Spark job, and the
    * ledger entry is recorded after the write. Nothing
    * existing is rewritten, so concurrent readers keep a consistent
    * view.
    */
  def update(newVecs: DataFrame, dir: String, batchId: Option[String] = None): Boolean = {
    val spark = newVecs.sparkSession
    val led = StoreIO.ledgerOf(spark, dir)
    if (batchId.exists(led.contains)) return false
    val cent = readCentroids(spark, dir)
    val batchKey = batchId.getOrElse(
      s"adhoc-${java.util.UUID.randomUUID().toString.take(8)}")
    assign(newVecs, cent)
      .withColumn("batch_key", lit(batchKey))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_key", "c_id").parquet(s"$dir/assignments")
    batchId.foreach(id => StoreIO.commitGen(spark, dir, led :+ id, None))
    true
  }

  /** Search the stored index. The probe cells resolve first (bounded:
    * probes x nProbe rows), then the assignment read prunes to exactly
    * those cell partitions (`c_id` is the partition column, so the
    * filter is a PartitionFilters prune, not a scan).
    */
  def searchIndex(spark: SparkSession, dir: String, probes: DataFrame,
      k: Int, nProbe: Int): DataFrame = {
    val cent = readCentroids(spark, dir)
    val cellIds = probeCells(probes, cent, nProbe)
      .select("c_id").distinct().collect().map(_.getLong(0))
    val assigned = spark.read.parquet(s"$dir/assignments")
      .where(col("c_id").isin(cellIds.toIndexedSeq: _*))
      // partition-dir inference can narrow c_id to INT; restore the key type
      .withColumn("c_id", col("c_id").cast("long"))
    search(assigned, cent, probes, k, nProbe)
  }
}
