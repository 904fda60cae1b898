package graft.api

import graft.Tables.topK
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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
  *
  * It is also the one similarity-search core every vector operator
  * composes: [[probePanel]] picks the probes, [[candidates]] pairs them
  * with the corpus rows a [[Gen]] admits, [[cosine]] (or the
  * squared-L2 fold [[d2]]) scores the pairs and `Tables.topK` keeps the
  * best per probe. A step's DuckDB twin (`o*`) sits next to it wherever the
  * oracles share its text.
  */
object AnnIndex {

  // ---- similarity core ------------------------------------------------

  /** Where a probe looks for candidates: the pruning step of a search,
    * chosen per operator rather than written per operator.
    */
  private[graft] sealed trait Gen
  /** Every corpus row. */
  private[graft] case object FullScan extends Gen
  /** Corpus rows whose `label` is the probe's `p_label`. */
  private[graft] case object LabelCell extends Gen
  /** Corpus rows whose [[bsig]] is the probe's `p_sig` (radius 0) or
    * one of its [[hamming1]] neighbours (radius 1).
    */
  private[graft] final case class LshBucket(radius: Int) extends Gen {
    require(radius == 0 || radius == 1, s"LSH multi-probe radius is 0 or 1, not $radius")
  }
  /** Assigned corpus rows (with `c_id`) in the probe's `nProbe` nearest
    * cells of `centroids`.
    */
  private[graft] final case class IvfCells(centroids: DataFrame, nProbe: Int) extends Gen

  /** Candidate step: corpus rows paired with the broadcast probe panel
    * (`p_emb` plus the columns `gen` reads), filtered by `keep` — by
    * default the probe's own row is dropped.
    */
  private[graft] def candidates(corpus: DataFrame, probes: DataFrame, gen: Gen,
      keep: Column = col("vec_id") =!= col("p_id")): DataFrame = gen match {
    case FullScan => corpus.crossJoin(broadcast(probes)).where(keep)
    case LabelCell => corpus.join(broadcast(probes), col("label") === col("p_label") && keep)
    case LshBucket(0) => corpus.join(broadcast(probes), col("bsig") === col("p_sig") && keep)
    case LshBucket(_) =>
      corpus.join(broadcast(probes.withColumn("p_probe", explode(expr(hamming1("p_sig"))))),
        col("bsig") === col("p_probe") && keep)
    case IvfCells(cent, nProbe) =>
      corpus.join(broadcast(probeCells(probes, cent, nProbe)), "c_id").where(keep)
  }

  /** Score step: the cosine of vector columns `v` and `p` as the
    * registered `cosine_sim` kernel, bit-identical to the sequential
    * fold [[graft.ops.LlmOps.sim]] the tests hold it to.
    */
  private[graft] def cosine(v: String = "embedding", p: String = "p_emb"): Column =
    expr(s"cosine_sim($v, $p)")

  /** Squared-L2 fold between vector columns `v` and `c`, in DOUBLE,
    * sequentially — the deterministic distance of every centroid
    * assignment, centroid distance and exact-L2 ranking in the engine.
    */
  private[graft] def d2(v: String, c: String = "c_vec"): String =
    s"aggregate(zip_with($v, $c, (x, c) -> " +
      "(CAST(x AS DOUBLE) - c) * (CAST(x AS DOUBLE) - c)), " +
      "CAST(0 AS DOUBLE), (a, v) -> a + v)"

  /** DuckDB twin of [[d2]] for 64-dim `v` against centroid `c.c_vec`. */
  private[graft] def oD2(v: String): String =
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      "list_transform(range(1, 65), k -> " +
      s"(CAST($v[k] AS DOUBLE) - c.c_vec[k]) * " +
      s"(CAST($v[k] AS DOUBLE) - c.c_vec[k]))), (x, y) -> x + y)"

  /** The `k` most cosine-similar candidates per probe `p_id`: [[cosine]]
    * as `sim`, ties broken by `vec_id`.
    */
  private[graft] def topCosine(cands: DataFrame, k: Int, rankCol: String = "rn"): DataFrame =
    topK(cands.withColumn("sim", cosine()), Seq("p_id"), Seq(desc("sim"), col("vec_id")), k, rankCol)

  /** The probe panel: the first `n` embeddings by the md5 of `vec_id`,
    * so the panel spans the id space, as (p_id, p_emb, extra...).
    */
  private[graft] def probePanel(emb: DataFrame, n: Int, extra: Column*): DataFrame = emb
    .withColumn("hkey", expr("substring(md5(CAST(vec_id AS STRING)), 1, 8)"))
    .orderBy("hkey", "vec_id").limit(n)
    .select(Seq(col("vec_id").as("p_id"), col("embedding").as("p_emb")) ++ extra: _*)

  /** DuckDB twin of [[probePanel]]'s order and limit. */
  private[graft] def oProbePanel(n: Int): String =
    s"ORDER BY substr(md5(CAST(vec_id AS VARCHAR)), 1, 8), vec_id LIMIT $n"

  /** Recall@5 of an ANN search: `approx5(p_id, vec_id)`, the index's
    * top-5 per probe, against the exact top-5 of `probes(p_id, p_emb)`
    * over all of `emb`. One row `(n_probes, k, mean_recall,
    * min_recall)`; mean recall says how good the index is on average,
    * min recall exposes the worst-served probe. DuckDB side:
    * [[oRecallAt5]].
    */
  private[graft] def recallAt5(emb: DataFrame, probes: DataFrame, approx5: DataFrame): DataFrame =
    topCosine(candidates(emb, probes, FullScan), 5).select("p_id", "vec_id")
      .join(approx5.select(col("p_id"), col("vec_id"), lit(1).as("hit")),
        Seq("p_id", "vec_id"), "left")
      .groupBy("p_id").agg(sum(coalesce(col("hit"), lit(0))).as("hits"))
      .agg(count(lit(1)).as("n_probes"), sum("hits").as("total_hits"),
        min("hits").as("min_hits"))
      .select(col("n_probes"), lit(5).as("k"),
        expr("CAST(total_hits AS DOUBLE) / (5 * n_probes)").as("mean_recall"),
        expr("CAST(min_hits AS DOUBLE) / 5").as("min_recall"))

  /** DuckDB CTE `<name>(p_id, vec_id)`: per-probe top-5 by cosine of
    * `s.embedding` against `pEmb` over `from`, probes aliased `p`.
    */
  private[graft] def oTop5(name: String, p: String, pEmb: String, from: String): String =
    s"$name AS (SELECT p_id, vec_id FROM (SELECT $p.p_id, s.vec_id, " +
      s"row_number() OVER (PARTITION BY $p.p_id ORDER BY ${graft.ops.LlmOps.oSim("s.embedding", pEmb)} DESC, s.vec_id) AS rn " +
      s"FROM $from) WHERE rn <= 5)"

  /** DuckDB side of [[recallAt5]]: the exact top-5 CTE `e`, the CTEs
    * ending in the approximate one `a` (both top-5s are [[oTop5]]), then
    * the hits roll-up.
    */
  private[graft] def oRecallAt5(e: String, a: String): String =
    e + ", " + a + ", " +
      "h AS (SELECT e.p_id, CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits " +
      "FROM e LEFT JOIN a ON e.p_id = a.p_id AND e.vec_id = a.vec_id GROUP BY e.p_id) " +
      "SELECT count(*) AS n_probes, 5 AS k, " +
      "CAST(SUM(hits) AS DOUBLE) / (5 * count(*)) AS mean_recall, " +
      "CAST(MIN(hits) AS DOUBLE) / 5 AS min_recall FROM h"

  // ---- LSH signature --------------------------------------------------

  /** The 8-bit sign signature of `embedding` against 8 deterministic
    * integer-valued hyperplanes (component j of hyperplane i is
    * ((i * 7 + j * 13) % 11) - 5): the [[LshBucket]] key.
    */
  private[graft] val bsig: String =
    "aggregate(sequence(0, 7), 0, (acc, i) -> acc + CASE WHEN " +
      "aggregate(transform(sequence(0, 63), j -> CAST(element_at(embedding, j + 1) AS DOUBLE) * " +
      "CAST(((i * 7 + j * 13) % 11) - 5 AS DOUBLE)), CAST(0 AS DOUBLE), (a, v) -> a + v) > 0 " +
      "THEN shiftleft(1, i) ELSE 0 END)"

  /** Signature `sig` followed by its 8 Hamming-1 neighbours. */
  private[graft] def hamming1(sig: String): String =
    s"concat(array($sig), transform(sequence(0, 7), i -> CAST($sig ^ shiftleft(1, i) AS INT)))"

  /** DuckDB twin of [[bsig]]: CTE `s(vec_id, embedding, bsig)`. */
  private[graft] val oLshSig: String =
    "s AS (SELECT vec_id, embedding, CAST(list_sum(list_transform(range(0, 8), i -> " +
      "CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      "list_transform(range(0, 64), j -> CAST(embedding[j + 1] AS DOUBLE) * " +
      "CAST(((i * 7 + j * 13) % 11) - 5 AS DOUBLE))), (a, v) -> a + v) > 0 " +
      "THEN (1 << i) ELSE 0 END)) AS INTEGER) AS bsig FROM embeddings)"

  /** DuckDB twin of [[hamming1]]. */
  private[graft] def oHamming1(sig: String): String =
    s"list_prepend($sig, list_transform(range(0, 8), i -> xor($sig, 1 << i)))"

  // ---- Lloyd training -------------------------------------------------

  /** The `n` nearest centroids of each row `id` of `vecs` by [[d2]] of
    * vector column `v`, ties by `c_id`, within each `keys` group:
    * `vecs` joined with the broadcast `cent(keys..., c_id, c_vec)`, plus
    * `d2` and the rank `rn`.
    */
  private[graft] def nearest(vecs: DataFrame, cent: DataFrame, keys: Seq[String], v: String,
      id: String, n: Int): DataFrame = {
    val c = broadcast(cent.select((keys ++ Seq("c_id", "c_vec")).map(col): _*))
    val pairs = if (keys.isEmpty) vecs.crossJoin(c) else vecs.join(c, keys)
    topK(pairs.withColumn("d2", expr(d2(v))), keys :+ id, Seq(col("d2"), col("c_id")), n)
  }

  /** `iters` unrolled Lloyd iterations over `vecs(keys..., vec_id,
    * embedding)`, run independently per `keys` group and seeded from
    * the first-k vector ids: broadcast assignment ([[nearest]]) plus
    * the fixed-point integer centroid rebuild. Returns (keys..., c_id,
    * n, c_vec).
    */
  private def lloyd(vecs: DataFrame, keys: Seq[String], k: Int, iters: Int): DataFrame = {
    val ks = keys.map(col)
    var cent = vecs.where(s"vec_id < $k")
      .select(ks ++ Seq(col("vec_id").as("c_id"), lit(1L).as("n"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("c_vec")): _*)
    for (_ <- 1 to iters) {
      cent = nearest(vecs, cent, keys, "embedding", "vec_id", 1)
        .select(ks ++ Seq(col("c_id"), col("embedding")): _*)
        .select(ks ++ Seq(col("c_id"), posexplode(col("embedding")).as(Seq("pos", "x"))): _*)
        .groupBy(ks ++ Seq(col("c_id"), col("pos")): _*)
        .agg(sum(expr("CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)")).as("s"),
          count(lit(1)).as("cnt"))
        .groupBy(ks :+ col("c_id"): _*)
        .agg(max("cnt").as("n"),
          expr("array_sort(collect_list(struct(pos, s)))").as("ss"))
        .select(ks ++ Seq(col("c_id"), col("n"),
          expr("transform(ss, e -> CAST(e.s AS DOUBLE) / (10000.0 * n))").as("c_vec")): _*)
        // pin each iteration's k-row centroid table: without this the
        // lazy lineage compounds and iteration N re-executes every
        // previous assignment pass
        .localCheckpoint()
    }
    cent
  }

  /** One [[lloyd]] iteration `i` over 64-dim embeddings in DuckDB,
    * reading centroids `prev`; ends in `c$i(c_id, n, c_vec)`.
    */
  private[graft] def oKmeansIter(i: Int, prev: String): String =
    s"a$i AS (SELECT e.vec_id, e.embedding, c.c_id, " +
      oD2("e.embedding") + " AS d2 " +
      s"FROM embeddings e, $prev c), " +
    s"b$i AS (SELECT vec_id, embedding, c_id, " +
      s"row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_id) AS rn FROM a$i), " +
    s"m$i AS (SELECT c_id, embedding FROM b$i WHERE rn = 1), " +
    s"s$i AS (SELECT c_id, t.range AS pos, " +
      s"CAST(floor(CAST(embedding[t.range] AS DOUBLE) * 10000) AS BIGINT) AS fp FROM m$i, range(1, 65) t), " +
    s"g$i AS (SELECT c_id, pos, CAST(SUM(fp) AS BIGINT) AS s, count(*) AS cnt FROM s$i GROUP BY c_id, pos), " +
    s"h$i AS (SELECT c_id, max(cnt) AS n, list(s ORDER BY pos) AS ss FROM g$i GROUP BY c_id), " +
    s"c$i AS (SELECT c_id, n, list_transform(ss, x -> CAST(x AS DOUBLE) / (10000.0 * n)) AS c_vec FROM h$i)"

  /** DuckDB twin of [[trainFor]] at k = 10, iters = 3: terminal CTE
    * `c3(c_id, n, c_vec)`. Shared by llm_kmeans_train and the
    * trained-IVF family, so the trained index's oracle IS the training
    * oracle.
    */
  private[graft] val oKmeansTrainedPrefix: String =
    "WITH c0 AS (SELECT vec_id AS c_id, " +
      "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c_vec " +
      "FROM embeddings WHERE vec_id < 10), " +
      oKmeansIter(1, "c0") + ", " + oKmeansIter(2, "c1") + ", " + oKmeansIter(3, "c2")

  /** [[oKmeansTrainedPrefix]] plus the full-corpus [[assign]]ment to
    * the trained centroids, through the same iteration block, so the
    * assignment arithmetic is textually the training arithmetic; ends
    * with `asg(vec_id, embedding, c_id)`.
    */
  private[graft] val oTrainedAssign: String =
    oKmeansTrainedPrefix + ", " + oKmeansIter(4, "c3") +
      ", asg AS (SELECT vec_id, embedding, c_id FROM b4 WHERE rn = 1)"

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
    * ONE Lloyd stream: the subspace id rides the rows as [[lloyd]]'s
    * group key, so assignment argmins partition by (m, vec_id) and
    * centroid rebuilds group by (m, c_id, pos) — one shuffle per
    * iteration instead of one per (subspace, iteration), and
    * mCount-times fewer jobs. Per-m results are bit-identical to
    * training each slice separately (the seeds, the argmin tiebreak and
    * the fixed-point rebuild are all m-independent), so the PQ oracle
    * parity is untouched. Memoized per session like [[trainFor]]: the
    * PQ family (`llm_pq_train`, `llm_pq_adc_recall`) shares one set of
    * codebooks per session. Returns (m, c_id, n, c_vec).
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
        lloyd(sub, Seq("m"), k, iters)
      })
    }

  /** `iters` unrolled Lloyd iterations from the first-k seed vectors
    * ([[lloyd]] with no group key); per-iteration localCheckpoint keeps
    * lineage flat. Returns (c_id, n, c_vec).
    */
  def train(emb: DataFrame, k: Int = 10, iters: Int = 3): DataFrame = lloyd(emb, Nil, k, iters)

  /** Nearest-centroid cell per vector (broadcast centroids, argmin with
    * c_id tiebreak): the input columns plus `c_id`.
    */
  def assign(vectors: DataFrame, centroids: DataFrame): DataFrame =
    nearest(vectors, centroids, Nil, "embedding", "vec_id", 1)
      .select(vectors.columns.map(col).toIndexedSeq :+ col("c_id"): _*)

  /** Each probe's `nProbe` nearest cells: (p_id, p_emb, c_id). Probes
    * are a bounded panel; centroids broadcast.
    */
  def probeCells(probes: DataFrame, centroids: DataFrame, nProbe: Int): DataFrame =
    nearest(probes, centroids, Nil, "p_emb", "p_id", nProbe).select("p_id", "p_emb", "c_id")

  /** IVF search over an assigned corpus: candidates = vectors in each
    * probe's `nProbe` nearest cells, exact cosine re-rank, top `k` per
    * probe. Probes: (p_id, p_emb). Returns (p_id, vec_id, c_id, sim, rn).
    */
  def search(assigned: DataFrame, centroids: DataFrame, probes: DataFrame,
      k: Int, nProbe: Int): DataFrame = {
    graft.GraftExtensions.install(assigned.sparkSession)
    topCosine(candidates(assigned, probes, IvfCells(centroids, nProbe)), k)
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
