package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Persistent corpus profile sketches — the fixed-size state a 100-TB
  * pipeline keeps so "how many distinct texts / what are the heavy
  * tokens" never needs a corpus rescan. Follows the DedupIndex /
  * AnnIndex pattern: build once, update per ingested batch, read any
  * time; all state is parquet, all operations are distributed, and all
  * filesystem moves go through the Hadoop FileSystem API so the store
  * behaves identically on local disk, HDFS and object stores.
  *
  * Layout under `dir`:
  *  - `kmv`: one row per group (lang) — the k=64 smallest DISTINCT
  *    60-bit text-hash values, ascending. Update = sketch UNION
  *    (merge the arrays, keep the k smallest distinct), which is
  *    associative/commutative/idempotent — re-ingesting a batch, or
  *    splitting the corpus into any batch sequence, lands on the
  *    sketch of the union. The SAME aggregator as
  *    `rel_agg_kmv_distinct`, so store and operator cannot drift.
  *    Replaced by the StoreIO swap ([[StoreIO.swapIn]]).
  *  - `cms`: a ledgered generation ([[StoreIO.publishGen]]) that moves
  *    in one atomic rename:
  *      `cms/counters`   — the d×w count-min token counter cells;
  *      `cms/state.json` — the geometry (`d`, `w`) readers hash with,
  *                         the counters schema, and the batch-id
  *                         ledger. Cell-wise ADD is not idempotent, so
  *                         replay safety comes from the ledger: an
  *                         update that carries a `batchId` already in
  *                         it is a no-op, decided without a Spark job.
  *    Because ledger and counters swap in the SAME rename, a crash
  *    can never record a batch without its counts or vice versa.
  *
  * During a swap's crash window the previous generation of either
  * sketch is complete at `<name>-old`, which reads fall back to
  * ([[StoreIO.genPath]]); nothing else is kept beside the current one.
  */
object SketchStore {

  private val K = 64

  /** Default count-min geometry (δ = e^-4 ≈ 1.8% per point query). */
  val DefaultDepth = 4
  val DefaultWidth = 1024L

  // ---------------------------------------------------------------- sizing

  /** Count-min width from a distinct-key cardinality budget (the number
    * the KMV sketch already provides): `w = max(1024, ceil(n̂ / load))`.
    * With load = 0.5 the expected distinct keys per cell is ≤ ½, so a
    * point query's expected overcount is bounded by half the mean key
    * frequency per row — and the min over d rows drives the realized
    * bias far below that. The classic ε·N guarantee reads ε = e/w; this
    * cardinality form is the one a profiling pass can act on BEFORE it
    * knows N, which is exactly when the sketch must be sized.
    */
  def cmsWidthFor(nDistinct: Long, loadFactor: Double = 0.5): Long = {
    require(loadFactor > 0, "loadFactor must be positive")
    math.max(DefaultWidth, math.ceil(nDistinct.toDouble / loadFactor).toLong)
  }

  /** Bloom-filter geometry from cardinality n̂ and target false-positive
    * rate p: `m = ceil(-n̂·ln p / ln²2)` bits and `j = round(m/n̂ · ln 2)`
    * hash probes — the textbook optimum (j minimizing (1-e^{-jn/m})^j).
    */
  def bloomSizeFor(n: Long, fpr: Double): (Long, Int) = {
    require(n > 0, "bloom sizing needs a positive cardinality estimate")
    require(fpr > 0 && fpr < 1, "fpr must be in (0, 1)")
    val ln2 = math.log(2.0)
    val m = math.ceil(-n.toDouble * math.log(fpr) / (ln2 * ln2)).toLong
    val j = math.max(1, math.round(m.toDouble / n.toDouble * ln2).toInt)
    (m, j)
  }

  // ---------------------------------------------------------------- build

  /** Per-lang KMV sketch rows of a batch. */
  def kmvOf(docs: DataFrame): DataFrame =
    docs.where("lang IS NOT NULL AND text IS NOT NULL")
      .select(col("lang"), expr(
        "CAST(conv(substring(md5(text), 1, 15), 16, 10) AS BIGINT)").as("h"))
      .groupBy("lang")
      .agg(graft.functions.KmvAggregator.kmv(K)(col("h")).as("mins"))

  /** CMS counter rows of a batch (shared builder with the operator). */
  def cmsOf(docs: DataFrame, width: Long = DefaultWidth): DataFrame =
    graft.ops.Round7.cmsCounters(docs, width)

  /** KMV estimate of the corpus' distinct whitespace-token count — the
    * cardinality input to [[cmsWidthFor]]. One bounded sketch row comes
    * back to the driver; the token stream never does.
    */
  def tokenCardinality(docs: DataFrame): Long = {
    val mins = docs.where("text IS NOT NULL")
      .select(explode(split(col("text"), " ")).as("tok"))
      .where("tok <> ''")
      .select(expr(
        "CAST(conv(substring(md5(tok), 1, 15), 16, 10) AS BIGINT)").as("h"))
      .agg(graft.functions.KmvAggregator.kmv(K)(col("h")).as("mins"))
      .head().getSeq[Long](0)
    if (mins.length < K) mins.length.toLong
    else math.floor((K - 1).toDouble * 1152921504606846976.0e0 / mins.last.toDouble).toLong
  }

  def build(docs: DataFrame, dir: String): Unit =
    buildWith(docs, dir, DefaultWidth)

  /** Build with the CMS width DERIVED from the measured token
    * cardinality ([[tokenCardinality]] → [[cmsWidthFor]]) — the closed
    * sizing loop: the KMV pass decides the geometry the CMS pass uses.
    * Returns the chosen width (recorded in `cms/state.json`, so every later
    * read and update hashes consistently).
    */
  def buildSized(docs: DataFrame, dir: String, loadFactor: Double = 0.5): Long = {
    val w = cmsWidthFor(tokenCardinality(docs), loadFactor)
    buildWith(docs, dir, w)
    w
  }

  private def buildWith(docs: DataFrame, dir: String, width: Long): Unit = {
    commitKmv(docs.sparkSession, dir, kmvOf(docs))
    commitCms(docs.sparkSession, dir, cmsOf(docs, width), width, Nil)
  }

  // ---------------------------------------------------------------- update

  /** Merge a new batch into the persisted sketches: KMV by sketch
    * union (k smallest distinct of the concatenation), CMS by
    * cell-wise add. Both merges read the current generation, write a
    * staged directory, and swap via atomic rename. Pass `batchId` to
    * make the CMS half replay-safe (see [[updateCms]]).
    */
  def update(docs: DataFrame, dir: String, batchId: Option[String] = None): Unit = {
    updateKmv(docs, dir)
    updateCms(docs, dir, batchId): Unit
  }

  /** KMV-only merge. Sketch union is IDEMPOTENT (duplicates collapse),
    * so re-ingesting a batch cannot perturb the sketch — the property
    * [[graft.streaming.Streams.kmvSink]] relies on under
    * at-least-once foreachBatch replay.
    */
  def updateKmv(docs: DataFrame, dir: String): Unit = {
    val spark = docs.sparkSession
    val kmvNew = kmvOf(docs)
    val kmvMerged = genOf(spark, dir, "kmv") match {
      case Some(old) =>
        spark.read.parquet(old).unionByName(kmvNew)
          .select(col("lang"), explode(col("mins")).as("h"))
          .groupBy("lang")
          .agg(graft.functions.KmvAggregator.kmv(K)(col("h")).as("mins"))
      case None => kmvNew
    }
    commitKmv(spark, dir, kmvMerged)
  }

  /** CMS-only merge (cell-wise ADD). ADD is not idempotent, so replay
    * safety comes from the batch ledger: when `batchId` is given and
    * already present in the ledger of `cms/state.json` (the newest
    * [[UpsertStore.ledgerWindow]] ids), the call is a NO-OP (returns
    * false) that runs no Spark job — a retried batch cannot
    * double-count. The ledger and the merged counters land in the same
    * generation rename, so no crash ordering can record one without
    * the other. Calls without a `batchId` are raw read-modify-write and
    * remain the caller's responsibility to not replay (the streaming
    * path should use [[graft.streaming.Streams.cmsSink]]'s
    * partition-overwrite scheme).
    *
    * @return true if the batch was applied, false if the ledger
    *         recognized it as already merged.
    */
  def updateCms(docs: DataFrame, dir: String, batchId: Option[String] = None): Boolean = {
    val spark = docs.sparkSession
    val (merged, w, ledger) = cmsGen(spark, dir) match {
      case Some(g) =>
        if (batchId.exists(g.applied.contains)) return false
        val counters = g.counters(spark).unionByName(cmsOf(docs, g.w))
          .groupBy("row_i", "bucket").agg(sum("c").as("c"))
        (counters, g.w, g.applied)
      case None => (cmsOf(docs, DefaultWidth), DefaultWidth, Nil)
    }
    commitCms(spark, dir, merged, w, ledger ++ batchId)
    true
  }

  // ---------------------------------------------------------------- read

  /** Distinct-text estimate per lang from the stored KMV sketch —
    * exact below k, (k-1)·2^60/h_(k) above; no data touched.
    */
  def distinctEstimate(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(genOf(spark, dir, "kmv").getOrElse(sys.error(s"no kmv sketch at $dir")))
      .select(col("lang"),
        expr(s"CASE WHEN size(mins) < $K THEN CAST(size(mins) AS BIGINT) ELSE " +
          s"CAST(floor((CAST(${K - 1} AS DOUBLE) * 1152921504606846976.0) / " +
          s"CAST(element_at(mins, $K) AS DOUBLE)) AS BIGINT) END").as("n_est"))

  /** Point frequency estimate of tokens from the stored CMS (min over
    * the d row counters, hashed with the stored geometry) — the
    * heavy-hitter lookup, no data touched. An absent cell IS a zero
    * count (nothing ever hashed there), so empty cells participate in
    * the min as 0 — a token the corpus never saw estimates 0, not the
    * min of whatever collides in its non-empty cells.
    */
  def freqEstimate(spark: SparkSession, dir: String, toks: Seq[String]): DataFrame = {
    import spark.implicits._
    val g = cmsGen(spark, dir).getOrElse(sys.error(s"no cms sketch at $dir"))
    toks.toDF("tok")
      .select(col("tok"), posexplode(expr(
        s"transform(sequence(0, ${g.d - 1}), i -> CAST(" +
          "CAST(conv(substring(md5(concat(CAST(i AS STRING), ':', tok)), 1, 8), 16, 10) AS BIGINT)" +
          s" % CAST(${g.w} AS BIGINT) AS INT))")))
      .withColumnRenamed("pos", "row_i")
      .withColumnRenamed("col", "bucket")
      .join(broadcast(g.counters(spark)), Seq("row_i", "bucket"), "left")
      .groupBy("tok")
      .agg(min(coalesce(col("c"), lit(0L))).as("est"))
  }

  /** The stored CMS geometry `(d, w)` — what [[buildSized]] chose. */
  def cmsGeometry(spark: SparkSession, dir: String): (Int, Long) =
    cmsGen(spark, dir).map(g => (g.d, g.w)).getOrElse(sys.error(s"no cms sketch at $dir"))

  // ------------------------------------------------------------ internals

  /** The cms generation as recorded: where its counters live, the
    * geometry, the batch ledger and the counters schema.
    */
  private final case class Cms(
      root: String, d: Int, w: Long, applied: Seq[String], schema: Option[StructType]) {
    def counters(spark: SparkSession): DataFrame =
      schema.fold(spark.read)(spark.read.schema).parquet(s"$root/counters")
  }

  private def commitKmv(spark: SparkSession, dir: String, kmv: DataFrame): Unit = {
    StoreIO.swapIn(kmv, spark, s"$dir/kmv")
    dropLegacy(spark, dir, "kmv")
  }

  private def commitCms(
      spark: SparkSession, dir: String, counters: DataFrame, w: Long, applied: Seq[String]): Unit = {
    StoreIO.publishGen(spark, s"$dir/cms", applied, Some("counters" -> counters),
      Seq("d" -> DefaultDepth.toLong, "w" -> w))
    dropLegacy(spark, dir, "cms")
  }

  // ---- the earlier layout ------------------------------------------------
  // Before the StoreIO protocol, a swap kept the replaced sketch at
  // `<name>.retired` forever (after a crash between its renames, as the
  // only copy), a dead writer's staging sat at `<name>.staged`, and the
  // cms generation recorded its geometry and ledger in parquet `meta`
  // (d, w) and `applied` (batch_id) tables instead of state.json. Such a
  // store is read through the two fallbacks below; the next commit of
  // each sketch replaces its generation (so `meta` and `applied` go with
  // it) and drops the debris.

  /** The readable generation of sketch `name`, None before the first build. */
  private def genOf(spark: SparkSession, dir: String, name: String): Option[String] =
    Seq(StoreIO.genPath(spark, s"$dir/$name"), s"$dir/$name.retired").find(StoreIO.exists(spark, _))

  private def cmsGen(spark: SparkSession, dir: String): Option[Cms] =
    genOf(spark, dir, "cms").map { root =>
      StoreIO.stateIn(spark, root) match {
        case Some(n) =>
          Cms(root, n.get("d").asInt(), n.get("w").asLong(), StoreIO.appliedOf(n),
            StoreIO.schemaOf(n.get("schema")))
        case None =>
          val m = spark.read.parquet(s"$root/meta").head()
          Cms(root, m.getAs[Int]("d"), m.getAs[Long]("w"),
            spark.read.parquet(s"$root/applied").collect().map(_.getString(0)).toSeq, None)
      }
    }

  private def dropLegacy(spark: SparkSession, dir: String, name: String): Unit = {
    StoreIO.delete(spark, s"$dir/$name.retired")
    StoreIO.delete(spark, s"$dir/$name.staged")
  }
}
