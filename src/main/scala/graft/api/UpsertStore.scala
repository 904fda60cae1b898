package graft.api

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.TextNode

/** Persistent key-bucketed upsert table — the parquet-native stand-in
  * for a MERGE INTO target (Delta/Iceberg) that stays DELTA-SIZED per
  * merge: keys hash into `nBuckets` fixed buckets, a micro-batch
  * rewrites ONLY the buckets its keys land in, and (since round 11)
  * every bucket rewrite lands as a NEW IMMUTABLE GENERATION directory
  * `b<k>/g<seq>` named by the commit that produced it, with a commit
  * log at `<dir>/commits`. That layout buys four things the round-9/10
  * rename-swap layout could not:
  *
  *  - **Atomic publish, no retire window.** A generation becomes
  *    visible through ONE rename of a finished staged write; there is
  *    no retire-promote-delete dance and no `<bucket>-old` crash
  *    fallback to consult — readers listing a bucket see only complete
  *    generations.
  *  - **Snapshot isolation for readers.** [[read]] serves each
  *    bucket's newest generation (torn only ACROSS buckets while a
  *    commit is mid-publish, same as before), but
  *    `readAsOf(snapshotSeq(dir))` is a fully consistent snapshot:
  *    the commit log only advances after every touched bucket has
  *    landed, so the max committed seq never names a half-published
  *    state.
  *  - **Time travel.** [[readAsOf]] reconstructs the table at any
  *    retained commit: per bucket, the newest generation `<= seq`
  *    (a bucket first touched later contributes nothing — it was
  *    empty then). [[readAsOfTime]] resolves a wall-clock instant
  *    through the commit log's timestamps first.
  *  - **Keep-N retention instead of unconditional vacuuming.**
  *    [[retain]] (also run inline by every update via
  *    `retainCommits`) drops only generations not needed to
  *    reconstruct the newest N commits, and records the horizon in
  *    `meta.base_seq` so a time travel below it fails loudly instead
  *    of silently returning a partial table.
  *
  * Merge semantics (unchanged): batch rows override stored rows per
  * key; within a batch the greatest `versionCol` wins (ties broken
  * deterministically via row_number on version desc). Schema
  * EVOLUTION is supported end-to-end: a batch may add columns (old
  * generations are read with the recorded wider schema and surface
  * NULL for them) — see `core_store_schema_evolution`. Every
  * commit-log line records the table schema at its seq, so a
  * historical read passes its own schema instead of running a
  * footer-merge job.
  *
  * Crash windows (all converge under foreachBatch replay):
  *  - mid-publish within a commit: some buckets carry `g<seq>`, some
  *    don't; the commit log was not advanced, so the replay recomputes
  *    the SAME seq and re-publishes every touched bucket (the merge is
  *    idempotent per key — deleting a half-written `g<seq>` before the
  *    rename makes the overwrite safe).
  *  - there is NO commit-vs-ledger gap: the commit log line carries the
  *    batch id, so the replay check and the commit record are one
  *    atomic metadata append.
  *
  * At 100 TB: pick `nBuckets` so a bucket is a few GB (the unit of
  * rewrite); the touched-bucket read is a path-pruned scan, never a
  * table scan, and untouched buckets are not even listed. Retention
  * bounds the generation count per bucket, so listings stay
  * O(nBuckets x retainCommits) in the worst case and O(nBuckets + a
  * few) in the steady state.
  */
object UpsertStore {

  val defaultBuckets = 32

  /** Commits kept reconstructable by default — every update prunes
    * generations older than the newest `retainCommits` commits, so a
    * long-running CDC sink does not accumulate unbounded history.
    * Pass `Int.MaxValue` to keep everything (audit stores).
    */
  val defaultRetain = 16

  private def bucketExpr(key: String, n: Int) =
    pmod(xxhash64(col(key)), lit(n.toLong)).cast("int")

  private def bucketDir(dir: String, b: Int): String = s"$dir/b$b"

  private def genName(seq: Long): String = f"g$seq%012d"

  private def hp(s: String) = new org.apache.hadoop.fs.Path(s)

  /** Root resolution with the rebucket crash-window fallback: rebucket
    * publishes a whole new store layout with ONE root swap; a crash
    * between its two renames leaves the complete old store at
    * `<dir>-old`. Readers must consult it — `<dir>` may even EXIST yet
    * be empty (a concurrent lease acquisition mkdirs the root), so the
    * probe is for the meta file, not the directory.
    */
  private def rootOf(spark: SparkSession, dir: String): String = {
    val f = StoreIO.fs(spark, dir)
    def hasMeta(d: String) = f.exists(hp(s"$d/meta.json"))
    if (!hasMeta(dir) && hasMeta(s"$dir-old")) s"$dir-old" else dir
  }

  // Store METADATA lives in small JSON files read/written driver-side
  // (StoreIO.readSmall / writeSmallAtomic) — the Iceberg/Delta posture.
  // Going through parquet + Spark jobs for a 1-row meta and a
  // few-hundred-row commit log cost 3-5 scheduler round-trips PER
  // COMMIT and one per store READ; at 100 TB metadata latency gates
  // micro-batch cadence, not data throughput.

  /** `schema` is the table schema recorded in the metadata file (the
    * Delta posture: schema lives in the log, not in O(nBuckets) parquet
    * footer merges). Written at bootstrap, widened BEFORE an evolving
    * batch publishes (a crash between leaves the recorded schema a
    * harmless superset of the data — aligned reads surface NULLs).
    * `None` only for stores written by pre-schema layouts; readers fall
    * back to a merged footer read then.
    */
  /** `statsJson` is the ANALYZE result persisted verbatim (a JSON
    * object `{"seq":N,"columns":[...]}`) — catalog statistics live in
    * the metadata like everything else, so a later session serves them
    * without a scan.
    */
  private final case class Meta(
      nBuckets: Int, baseSeq: Long, schema: Option[StructType],
      constraints: Seq[(String, String)] = Nil,
      statsJson: Option[String] = None)

  private def jackson = StoreIO.jackson

  private def jstr(s: String): String = jackson.writeValueAsString(s)

  private def metaOf(spark: SparkSession, root: String): Meta = {
    val txt = StoreIO.readSmall(spark, s"$root/meta.json").getOrElse(
      sys.error(s"upsert store $root has no meta.json"))
    val n = jackson.readTree(txt)
    val sch = StoreIO.schemaOf(n.get("schema"))
    val cons = Option(n.get("constraints")).filterNot(_.isNull).toSeq
      .flatMap(a => (0 until a.size()).map { i =>
        val c = a.get(i)
        c.get("name").asText() -> c.get("check").asText()
      })
    val stats = Option(n.get("stats")).filterNot(_.isNull).map(_.toString)
    Meta(n.get("n_buckets").asInt(), n.get("base_seq").asLong(), sch, cons, stats)
  }

  private def writeMeta(spark: SparkSession, root: String, m: Meta): Unit =
    StoreIO.writeSmallAtomic(spark, s"$root/meta.json",
      s"""{"n_buckets":${m.nBuckets},"base_seq":${m.baseSeq}""" +
        m.schema.map(s => s""","schema":${jstr(s.json)}""").getOrElse("") +
        (if (m.constraints.isEmpty) ""
         else s""","constraints":[${m.constraints.map { case (nm, ck) =>
           s"""{"name":${jstr(nm)},"check":${jstr(ck)}}"""
         }.mkString(",")}]""") +
        m.statsJson.map(s => s""","stats":$s""").getOrElse("") + "}")

  /** The table schema without scanning data: the meta-recorded schema
    * when present (one driver-side JSON read), else a merged footer
    * read over the newest generations (legacy stores).
    */
  def tableSchema(spark: SparkSession, dir: String): StructType = {
    val root = rootOf(spark, dir)
    metaOf(spark, root).schema.getOrElse(read(spark, root).schema)
  }

  /** Stored bucket count (meta is written once at bootstrap, so every
    * later batch agrees on the hash modulus whatever the caller says).
    */
  def buckets(spark: SparkSession, dir: String): Int =
    metaOf(spark, rootOf(spark, dir)).nBuckets

  /** Oldest commit still reconstructable by [[readAsOf]] — advanced by
    * retention and by [[rebucket]] (which compacts history into one
    * full generation).
    */
  def baseSeq(spark: SparkSession, dir: String): Long =
    metaOf(spark, rootOf(spark, dir)).baseSeq

  def exists(spark: SparkSession, dir: String): Boolean =
    StoreIO.exists(spark, s"${rootOf(spark, dir)}/meta.json")

  private val commitsSchema = StructType(Seq(
    StructField("seq", LongType), StructField("batch_id", StringType),
    StructField("kind", StringType), StructField("ts_ms", LongType)))

  /** One commit-log line. `schema` is the table schema at `seq` as a
    * JSON node (parsed only when a read at that seq needs it); absent on
    * lines written before per-commit schemas, whose reads fall back to a
    * merged footer read.
    */
  private final case class Commit(
      seq: Long, batchId: Option[String], kind: String, tsMs: Long,
      schema: Option[JsonNode])

  /** The compacted-history head of a trimmed commit log: retention
    * replaces every line below the horizon with ONE `horizon` line
    * carrying the newest [[ledgerWindow]] trimmed batch ids, so the log
    * stays O(keep window) instead of O(store lifetime) — `recordCommit`
    * rewrites the whole file per commit, which was quadratic bytes over
    * a long-running CDC sink's life. The bounded id window preserves
    * the replay contract that actually exists: foreachBatch only ever
    * redelivers the LATEST batch (whose line is always still live), so
    * a trimmed id is only consulted by out-of-contract manual replays —
    * those stay no-ops for the last [[ledgerWindow]] trimmed commits
    * and are documented undefined beyond.
    */
  private final case class Horizon(
      seq: Long, tsMs: Long, ids: Seq[String], schema: Option[JsonNode])

  /** Batch ids kept replay-checkable: past the commit-log horizon here,
    * and in every ledgered generation's state.json (StoreIO.commitGen).
    */
  val ledgerWindow = 64

  /** The commit log as JSON lines: optional horizon head + live lines
    * (newest last).
    */
  private def logOf(
      spark: SparkSession, root: String): (Option[Horizon], Seq[Commit]) = {
    val lines = StoreIO.readSmall(spark, s"$root/commits.json").toSeq
      .flatMap(_.split('\n')).filter(_.nonEmpty).map(jackson.readTree)
    val (hz, live) = lines.partition(n => n.get("kind").asText() == "horizon")
    def schema(n: JsonNode) = Option(n.get("schema")).filterNot(_.isNull)
    (hz.headOption.map { n =>
      val ids = Option(n.get("applied_ids")).filterNot(_.isNull).toSeq
        .flatMap(a => (0 until a.size()).map(a.get(_).asText()))
      Horizon(n.get("seq").asLong(), n.get("ts_ms").asLong(), ids, schema(n))
    },
      live.map { n =>
        Commit(n.get("seq").asLong(),
          Option(n.get("batch_id")).filterNot(_.isNull).map(_.asText()),
          n.get("kind").asText(), n.get("ts_ms").asLong(), schema(n))
      })
  }

  /** The table schema recorded at commit `seq`: the newest log line at
    * or below it (the horizon line once retention trimmed the rest).
    * None for logs written before per-commit schemas and for a corrupt
    * record — callers then read with footer merging.
    */
  private def schemaAt(spark: SparkSession, root: String, seq: Long): Option[StructType] = {
    val (hz, live) = logOf(spark, root)
    val at = live.filter(_.seq <= seq)
    (if (at.nonEmpty) at.maxBy(_.seq).schema else hz.filter(_.seq <= seq).flatMap(_.schema))
      .flatMap(StoreIO.schemaOf)
  }

  /** `a` plus the columns of `b` it lacks, appended in `b`'s order. */
  private def widen(a: StructType, b: StructType): StructType = {
    val have = a.fieldNames.toSet
    StructType(a.fields.toSeq ++ b.fields.filterNot(f => have(f.name)))
  }

  /** The schema to record for a commit that published generations
    * written with `written` (None: it published none): the schema at the
    * current head widened by it. It holds every column a merged footer
    * read of the resulting snapshot infers, since no such commit drops a
    * column from a bucket it rewrites. A log from before per-commit
    * schemas starts from the meta-recorded schema.
    */
  private def commitSchema(
      spark: SparkSession, root: String, written: Option[StructType]): Option[StructType] = {
    val prev = schemaAt(spark, root, snapshotSeq(spark, root))
      .orElse(metaOf(spark, root).schema)
    written.fold(prev)(w => Some(prev.fold(w)(widen(_, w))))
  }

  private def commitLog(spark: SparkSession, root: String): Seq[Commit] =
    logOf(spark, root)._2

  /** The commit log: (seq, batch_id, kind, ts_ms), one row per
    * state-changing commit (merge / delete / update / rebucket).
    */
  def commits(spark: SparkSession, dir: String): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(commitLog(spark, rootOf(spark, dir)).map(c =>
        Row(c.seq, c.batchId.orNull, c.kind, c.tsMs)): _*),
      commitsSchema)

  /** Newest committed seq — `readAsOf(snapshotSeq(dir))` is the
    * torn-proof consistent read (the log advances only after every
    * touched bucket's generation has landed).
    */
  def snapshotSeq(spark: SparkSession, dir: String): Long = {
    val root = rootOf(spark, dir)
    val log = commitLog(spark, root)
    if (log.isEmpty) metaOf(spark, root).baseSeq else log.map(_.seq).max
  }

  private def recordCommit(
      spark: SparkSession, root: String, seq: Long,
      batchId: Option[String], kind: String, schema: Option[StructType]): Unit = {
    val prev = StoreIO.readSmall(spark, s"$root/commits.json").getOrElse("")
    val line = commitLine(Commit(seq, batchId, kind, System.currentTimeMillis(),
      schema.map(st => new TextNode(st.json))))
    StoreIO.writeSmallAtomic(spark, s"$root/commits.json",
      if (prev.isEmpty) line + "\n" else prev + line + "\n")
  }

  /** The commit log IS the applied-batch ledger: `batch_id` rides every
    * commit line, so the replay check and the commit record are ONE
    * atomic metadata append — there is no commit-log-vs-ledger crash
    * gap, and the check costs an FS read, not a Spark job. Mutations
    * that change nothing still commit (an empty line, no generations)
    * when a batchId is present, so their replays stay exact no-ops.
    */
  private def appliedInLog(
      spark: SparkSession, root: String, batchId: String): Boolean = {
    val (hz, live) = logOf(spark, root)
    live.exists(_.batchId.contains(batchId)) ||
      hz.exists(_.ids.contains(batchId))
  }

  /** Delete generation directories ABOVE the committed head — debris
    * from a writer that crashed between its publish renames and its
    * commit-log append (on an object store a "rename" is a non-atomic
    * copy+delete, so this window is real). The log is the source of
    * truth ([[read]] caps at the head), which makes these dirs
    * invisible to readers — but the NEXT commit claims the same seq,
    * and an orphan in a bucket that commit does not touch would
    * silently become visible the moment the head advances past it.
    * Every mutation therefore sweeps first, under the writer lease.
    * O(nBuckets directory listings), never O(data).
    */
  private def sweepOrphanGens(
      spark: SparkSession, root: String, head: Long): Unit = {
    val f = StoreIO.fs(spark, root)
    val n = metaOf(spark, root).nBuckets
    (0 until n).foreach { b =>
      genList(f, bucketDir(root, b)).filter(_._1 > head)
        .foreach(g => f.delete(hp(g._2), true))
    }
  }

  /** Claim the next commit seq: sweep crash orphans above the
    * committed head first, so the claimed seq's generation directories
    * are guaranteed fresh however the previous writer died.
    */
  private def nextSeq(spark: SparkSession, root: String): Long = {
    val head = snapshotSeq(spark, root)
    sweepOrphanGens(spark, root, head)
    head + 1
  }

  /** All generations of one bucket: (seq, path), unsorted. */
  private def genList(
      f: org.apache.hadoop.fs.FileSystem,
      bdir: String): Seq[(Long, String)] =
    if (!f.exists(hp(bdir))) Seq.empty
    else f.listStatus(hp(bdir)).toSeq.filter(_.isDirectory).flatMap { st =>
      val n = st.getPath.getName
      if (n.length == 13 && n.head == 'g' && n.drop(1).forall(_.isDigit))
        Some(n.drop(1).toLong -> st.getPath.toString)
      else None
    }

  /** (bucket, newest generation path) for every non-empty bucket. */
  private def newestGens(
      f: org.apache.hadoop.fs.FileSystem,
      root: String, n: Int): Seq[(Int, String)] =
    (0 until n).flatMap { b =>
      val gens = genList(f, bucketDir(root, b))
      if (gens.isEmpty) None else Some(b -> gens.maxBy(_._1)._2)
    }

  /** Recover the bucket id of a row from its generation path
    * (`.../b<k>/g<%012d>/part-*`) via the parquet `_metadata` column —
    * what lets a MULTI-BUCKET read stay ONE Spark job and still write
    * back per-bucket (`partitionBy("__b")` + one publish rename each).
    * The `g` run is pinned to exactly 12 digits, so an unlucky
    * user-chosen store path cannot alias a generation component.
    */
  private def bucketOfPath: org.apache.spark.sql.Column =
    regexp_extract(col("_metadata.file_path"),
      "/b(\\d+)/g\\d{12}/", 1).cast("int")

  /** `df` checkpointed (one pass over it), with the sorted set of
    * bucket ids in its int column `bucketCol` — observed by the
    * checkpoint's own job (`Dataset.observe`), so collecting the set
    * costs no separate distinct-and-collect job. The set is bounded by
    * nBuckets, never by data.
    */
  private def checkpointBuckets(
      df: DataFrame, bucketCol: String): (DataFrame, IndexedSeq[Int]) = {
    val obs = org.apache.spark.sql.Observation()
    val cp = df.observe(obs, collect_set(col(bucketCol)).as("b")).localCheckpoint()
    (cp, obs.get("b").asInstanceOf[scala.collection.Seq[Int]].toIndexedSeq.sorted)
  }

  /** Per-bucket newest-generation-`<= seq`, the reconstruction rule. */
  private def pathsAt(
      spark: SparkSession, root: String, seq: Long): Seq[String] = {
    val n = buckets(spark, root)
    val f = StoreIO.fs(spark, root)
    (0 until n).flatMap { b =>
      val gens = genList(f, bucketDir(root, b)).filter(_._1 <= seq)
      if (gens.isEmpty) None else Some(gens.maxBy(_._1)._2)
    }
  }

  private def readAt(spark: SparkSession, dir: String, seq: Long): DataFrame = {
    val root = rootOf(spark, dir)
    val paths = pathsAt(spark, root, seq)
    require(paths.nonEmpty, s"upsert store $dir has no generations at seq $seq")
    readSchema(spark, schemaAt(spark, root, seq), paths)
  }

  /** Multi-path generation read with the schema the metadata records,
    * given explicitly: no distributed footer-merge job per read (the
    * Delta posture — schema lives in the log, not in O(files) parquet
    * footers; `mergeSchema=true` costs one Spark job listing-and-merging
    * every footer on EVERY store read). Columns absent from
    * pre-evolution generations surface as NULL exactly as the merged
    * read did; column order is the recorded order, which equals the
    * merged order under the additive-only evolution this store
    * enforces. Head-state reads pass the meta schema; historical reads
    * (readAsOf, changefeeds, rowVersions, restore, clone) pass the
    * schema the commit log records at their seq ([[schemaAt]]), so a
    * pre-evolution snapshot keeps its own narrower schema. `None` (a
    * store or history written before the schema was recorded) falls
    * back to the footer merge.
    *
    * Known read-uncommitted-schema anomaly, accepted: the meta schema
    * is widened BEFORE an evolving commit publishes, so a concurrent
    * reader (or any reader after a crash inside that window) observes
    * the still-uncommitted evolved column as an all-NULL phantom until
    * the commit lands or the replay converges. Readers must not treat
    * schema presence as evidence the evolving commit committed; the
    * commit log is the truth for that.
    */
  private def readSchema(
      spark: SparkSession, schema: Option[StructType], paths: Seq[String]): DataFrame =
    schema match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read.option("mergeSchema", "true").parquet(paths: _*)
    }

  /** The current table: one path-pruned multi-path read over the
    * newest generation `<=` the COMMITTED head of every non-empty
    * bucket. Capping at the log head (instead of "newest directory
    * wins") is what makes the commit protocol object-store-safe: a
    * writer that crashed mid-publish — after some bucket renames, or
    * mid-way through one non-atomic object-store "rename" — leaves
    * generation debris ABOVE the head that no reader ever resolves;
    * the head moves only in [[recordCommit]]'s atomic metadata append,
    * after every touched bucket has fully landed.
    */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val root = rootOf(spark, dir)
    val meta = metaOf(spark, root)
    if (meta.schema.isEmpty) readAt(spark, root, snapshotSeq(spark, root))
    else {
      val paths = pathsAt(spark, root, snapshotSeq(spark, root))
      require(paths.nonEmpty, s"upsert store $dir has no generations")
      readSchema(spark, meta.schema, paths)
    }
  }

  /** The table as of commit `seq` (inclusive). Fails loudly when the
    * history below `seq` has been retired by retention or rebucket —
    * a silent partial reconstruction would be a wrong answer.
    */
  def readAsOf(spark: SparkSession, dir: String, seq: Long): DataFrame = {
    val base = baseSeq(spark, dir)
    require(seq >= base,
      s"store $dir retains history from commit $base; asked for $seq")
    readAt(spark, dir, seq)
  }

  /** The table as of a wall-clock instant, resolved through the commit
    * log's `ts_ms` (the newest commit at-or-before `tsMs`).
    */
  def readAsOfTime(spark: SparkSession, dir: String, tsMs: Long): DataFrame = {
    val root = rootOf(spark, dir)
    val at = commitLog(spark, root).filter(_.tsMs <= tsMs)
    require(at.nonEmpty, s"store $dir has no commit at or before ts $tsMs")
    readAsOf(spark, root, at.map(_.seq).max)
  }

  /** The CHECK constraints recorded on the store: (name, sql check). */
  def constraints(spark: SparkSession, dir: String): Seq[(String, String)] =
    metaOf(spark, rootOf(spark, dir)).constraints

  /** ADD a CHECK constraint (Delta parity). The whole EXISTING table
    * must already satisfy the check — one validation scan runs first,
    * so a green ADD is a guarantee about the data, not an aspiration.
    * From then on every write that produces rows (MERGE upserts, the
    * full-sync UPDATE arm, the UPDATE verb) validates its STAGED
    * output before any generation publishes; a violating batch fails
    * loudly with the constraint name and leaves the store readable at
    * its prior state. SQL CHECK semantics: only FALSE violates — a
    * NULL check passes.
    */
  def addConstraint(
      spark: SparkSession, dir: String, name: String, check: String): Unit =
    StoreIO.withLease(spark, dir) {
      val root = rootOf(spark, dir)
      val meta = metaOf(spark, root)
      require(!meta.constraints.exists(_._1 == name),
        s"store $dir already has a constraint named $name")
      // validate against the TABLE schema (meta-recorded): a column
      // evolved in by a batch whose generations are all gone or
      // pre-evolution surfaces as NULL, not as an unresolved reference
      val cur = read(spark, root)
      enforce(align(cur, meta.schema.getOrElse(cur.schema)),
        Seq(name -> check), "the existing table")
      writeMeta(spark, root, meta.copy(constraints = meta.constraints :+ (name -> check)))
    }

  def dropConstraint(spark: SparkSession, dir: String, name: String): Unit =
    StoreIO.withLease(spark, dir) {
      val root = rootOf(spark, dir)
      val meta = metaOf(spark, root)
      require(meta.constraints.exists(_._1 == name),
        s"store $dir has no constraint named $name")
      writeMeta(spark, root,
        meta.copy(constraints = meta.constraints.filterNot(_._1 == name)))
    }

  /** ONE aggregate scan validating every constraint at once; throws
    * with the first violated constraint's name and violation count.
    */
  private def enforce(
      df: DataFrame, cons: Seq[(String, String)], what: String): Unit =
    if (cons.nonEmpty) {
      val aggs = cons.map { case (nm, ck) =>
        sum(when(!coalesce(expr(ck), lit(true)), 1L).otherwise(0L)).as(nm)
      }
      val r = df.agg(aggs.head, aggs.tail: _*).head()
      cons.zipWithIndex.foreach { case ((nm, ck), i) =>
        val bad = if (r.isNullAt(i)) 0L else 0L.max(r.getLong(i))
        require(bad == 0,
          s"CHECK constraint $nm ($ck) violated by $bad row(s) in $what")
      }
    }

  /** ANALYZE: one scan computing per-column catalog statistics
    * (n_nonnull, exact ndv, min/max as strings, n_rows — via
    * [[Stats.columnStats]]) over the current snapshot, PERSISTED into
    * the store metadata tagged with the analyzed commit seq. A later
    * session reads them back through [[tableStats]] with zero data
    * access — the Delta/Iceberg catalog-statistics posture, and the
    * input a cost-based planner wants before picking join sides.
    * Array/map/struct columns are skipped (no meaningful scalar ndv).
    * Returns the number of columns analyzed.
    */
  def analyze(spark: SparkSession, dir: String): Int =
    StoreIO.withLease(spark, dir) {
      val root = rootOf(spark, dir)
      val meta = metaOf(spark, root)
      val cur = read(spark, root)
      val schema = meta.schema.getOrElse(cur.schema)
      val cols = schema.fields.toSeq.filter(f => f.dataType match {
        case _: ArrayType | _: MapType | _: StructType => false
        case _ => true
      }).map(_.name)
      require(cols.nonEmpty, s"store $dir has no analyzable columns")
      val rows = Stats.columnStats(align(cur, schema), cols)
        .select("column", "n_nonnull", "ndv", "min_v", "max_v", "n_rows")
        .collect() // <= one row per column, bounded by schema width
      val seq = snapshotSeq(spark, root)
      val json = s"""{"seq":$seq,"columns":[""" + rows.map { r =>
        s"""{"column":${jstr(r.getString(0))},"n_nonnull":${r.getLong(1)},""" +
          s""""ndv":${r.getLong(2)},""" +
          s""""min_v":${Option(r.getString(3)).map(jstr).getOrElse("null")},""" +
          s""""max_v":${Option(r.getString(4)).map(jstr).getOrElse("null")},""" +
          s""""n_rows":${r.getLong(5)}}"""
      }.mkString(",") + "]}"
      writeMeta(spark, root, meta.copy(statsJson = Some(json)))
      rows.length
    }

  /** The persisted ANALYZE result: (analyzed seq, one row per column
    * `(column, n_nonnull, ndv, min_v, max_v, n_rows)`) — served from
    * METADATA alone, no data scan. None before the first ANALYZE.
    */
  def tableStats(spark: SparkSession, dir: String): Option[(Long, DataFrame)] =
    metaOf(spark, rootOf(spark, dir)).statsJson.map { js =>
      val n = jackson.readTree(js)
      val a = n.get("columns")
      val rows = (0 until a.size()).map { i =>
        val c = a.get(i)
        Row(c.get("column").asText(), c.get("n_nonnull").asLong(),
          c.get("ndv").asLong(),
          Option(c.get("min_v")).filterNot(_.isNull).map(_.asText()).orNull,
          Option(c.get("max_v")).filterNot(_.isNull).map(_.asText()).orNull,
          c.get("n_rows").asLong())
      }
      (n.get("seq").asLong(), spark.createDataFrame(
        java.util.Arrays.asList(rows: _*),
        StructType(Seq(
          StructField("column", StringType), StructField("n_nonnull", LongType),
          StructField("ndv", LongType), StructField("min_v", StringType),
          StructField("max_v", StringType), StructField("n_rows", LongType)))))
    }

  /** Merge one batch. Returns false when `batchId` is already in the
    * applied ledger (a foreachBatch redelivery) — nothing is touched.
    * The whole read-modify-write runs under the store writer lease
    * (StoreIO.withLease): a concurrent distinct-batch writer raises
    * LeaseHeldException instead of silently last-write-winning a
    * bucket generation.
    *
    * `deleteWhere` is the CDC-tombstone clause (MERGE's `WHEN MATCHED
    * AND <pred> THEN DELETE`): after the per-key version arbitration, a
    * batch row matching the predicate REMOVES its key from the store
    * instead of upserting it (a NULL predicate upserts — SQL
    * three-valued semantics). Tombstones ride the same bucket routing;
    * a tombstone for an absent key is a no-op.
    *
    * `notMatchedBySourceDelete` is MERGE's full-sync clause (`WHEN NOT
    * MATCHED BY SOURCE [AND <pred>] THEN DELETE`): stored rows whose
    * key is ABSENT from the batch and that match the predicate
    * (`lit(true)` for the unconditional form) are removed. Unlike the
    * delta path this inherently visits EVERY bucket — unmatched rows
    * can live anywhere — so reserve it for genuine full-snapshot
    * sources; the whole-store examination is O(1) Spark jobs
    * ([[sweepBuckets]]) and only buckets that actually change rows
    * are rewritten.
    *
    * `notMatchedBySourceUpdate` is the clause family's UPDATE arm
    * (`WHEN NOT MATCHED BY SOURCE [AND <pred>] THEN UPDATE SET ...`):
    * stored rows absent from the batch matching the predicate take the
    * assignments instead (flag-stale-rows instead of sweeping them);
    * right-hand sides see the PRE-update row (ANSI, shared with
    * [[updateRows]]). Where both arms match a row, UPDATE wins —
    * first-match-wins in the dialect's fixed clause order.
    *
    * `retainCommits` bounds history growth inline (see
    * [[defaultRetain]]); pass `Int.MaxValue` to keep all generations.
    */
  def update(
      batch: DataFrame,
      dir: String,
      key: String,
      versionCol: String,
      nBuckets: Int = defaultBuckets,
      batchId: Option[String] = None,
      leaseStaleMs: Long = 600000L,
      deleteWhere: Option[org.apache.spark.sql.Column] = None,
      notMatchedBySourceDelete: Option[org.apache.spark.sql.Column] = None,
      notMatchedBySourceUpdate: Option[(org.apache.spark.sql.Column,
        Seq[(String, org.apache.spark.sql.Column)])] = None,
      retainCommits: Int = defaultRetain): Boolean =
    StoreIO.withLease(batch.sparkSession, dir, leaseStaleMs) {
      updateLocked(batch, dir, key, versionCol, nBuckets, batchId,
        deleteWhere, notMatchedBySourceDelete, notMatchedBySourceUpdate,
        retainCommits)
    }

  /** Delete every stored row matching `predicate` (SQL DELETE
    * semantics: a NULL predicate keeps the row). Runs under the writer
    * lease with the applied-batch ledger, so a replayed delete is a
    * no-op. Work is per-bucket: each bucket's newest generation is
    * read once, and only buckets that actually contain matches gain a
    * new generation. Returns the number of rows removed (0 on a
    * ledger replay).
    */
  def delete(
      spark: SparkSession,
      dir: String,
      predicate: org.apache.spark.sql.Column,
      batchId: Option[String] = None,
      leaseStaleMs: Long = 600000L): Long =
    StoreIO.withLease(spark, dir, leaseStaleMs) {
      val root = rootOf(spark, dir)
      if (batchId.exists(appliedInLog(spark, root, _))) 0L
      else {
        val hit = coalesce(predicate, lit(false))
        rewriteBuckets(spark, root, "delete", batchId)(
          _.withColumn("__hit", hit),
          _.where(!col("__hit")).drop("__hit"))
      }
    }

  /** SQL UPDATE: rewrite rows matching `predicate` with the `set`
    * assignments (column -> expression over the OLD row — every
    * right-hand side sees pre-update values, per ANSI). NULL predicate
    * leaves the row untouched. Per-bucket work like [[delete]]: only
    * buckets containing matches gain a generation. Returns rows
    * updated (0 on a ledger replay).
    */
  def updateRows(
      spark: SparkSession,
      dir: String,
      set: Seq[(String, org.apache.spark.sql.Column)],
      predicate: org.apache.spark.sql.Column,
      batchId: Option[String] = None,
      leaseStaleMs: Long = 600000L): Long =
    StoreIO.withLease(spark, dir, leaseStaleMs) {
      val root = rootOf(spark, dir)
      if (batchId.exists(appliedInLog(spark, root, _))) 0L
      else {
        val schema = tableSchema(spark, root)
        val cols = schema.fieldNames.toSet
        set.foreach { case (c, _) =>
          require(cols.contains(c), s"UPDATE SET names unknown column $c")
        }
        val hit = coalesce(predicate, lit(false))
        val cons = metaOf(spark, root).constraints
        rewriteBuckets(spark, root, "update", batchId,
          validateStaged = if (cons.isEmpty) None
            else Some(df => enforce(df, cons, "the UPDATE output")))(
          _.withColumn("__hit", hit),
          cur => cur.select(col("__b") +: assign(schema, set, col("__hit")): _*))
      }
    }

  /** The ANSI UPDATE projection: one SELECT in which every assignment
    * right-hand side reads the PRE-update row, applied only where `hit`.
    */
  private def assign(
      schema: StructType,
      set: Seq[(String, org.apache.spark.sql.Column)],
      hit: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] = {
    val setMap = set.toMap
    schema.fieldNames.toSeq.map { c =>
      setMap.get(c) match {
        case Some(e) => when(hit, e).otherwise(col(c)).as(c)
        case None => col(c)
      }
    }
  }

  /** Shared full-sweep driver for predicate-driven mutations
    * (DELETE / UPDATE), now O(1) SPARK JOBS in nBuckets via
    * [[sweepBuckets]] — the round-11 shape looped buckets on the
    * driver, each iteration submitting its own count + write jobs,
    * which at the documented 100-TB posture (tens of thousands of
    * buckets) is hours of serial scheduler latency before any data
    * cost. Buckets are aligned to the store schema before `prep` so
    * predicates over evolved columns see NULLs rather than failing on
    * pre-evolution generations.
    */
  private def rewriteBuckets(
      spark: SparkSession, dir: String, kind: String,
      batchId: Option[String],
      validateStaged: Option[DataFrame => Unit] = None)(
      prep: DataFrame => DataFrame,
      next: DataFrame => DataFrame): Long = {
    val root = rootOf(spark, dir)
    val meta = metaOf(spark, root)
    val fullSchema = meta.schema.getOrElse(read(spark, root).schema)
    val seq = nextSeq(spark, root)
    val fsys = StoreIO.fs(spark, root)
    val affected = sweepBuckets(spark, root,
      newestGens(fsys, root, meta.nBuckets), seq, fullSchema,
      validateStaged)(prep, next)
    // a ledgered no-change mutation still commits (empty line, no
    // generations) so its replay is an exact no-op
    if (affected > 0 || batchId.nonEmpty)
      recordCommit(spark, root, seq, batchId, kind,
        commitSchema(spark, root, Some(fullSchema).filter(_ => affected > 0)))
    affected
  }

  /** Mutate `bucketPaths` in TWO Spark jobs total, whatever the bucket
    * count — the 100-TB replacement for per-bucket driver loops:
    *
    *  1. one aggregate scan of every path computes per-bucket affected
    *     counts off `prep`'s boolean `__hit` column (column-pruned to
    *     the columns `prep` actually reads; the collect is <= nBuckets
    *     rows, bounded by configuration, never by data);
    *  2. one partitioned rewrite of ONLY the hit buckets: re-read
    *     tagged with [[bucketOfPath]], apply `prep` then `next`, write
    *     `partitionBy("__b")` into one staged dir, publish each bucket
    *     with one rename as generation `seq` (a bucket whose rows all
    *     vanished gets an explicit empty generation).
    *
    * Untouched buckets keep their current generation and are not
    * rewritten (though the count scan reads them — a predicate can hit
    * anywhere, so one full pass is the floor for a full sweep).
    * `prep` must add `__hit`; `next` sees `prep`'s output and must
    * keep `__b`. Both run twice (two frames), so they must be
    * deterministic. Returns the total affected-row count.
    */
  private def sweepBuckets(
      spark: SparkSession,
      root: String,
      bucketPaths: Seq[(Int, String)],
      seq: Long,
      fullSchema: StructType,
      validateStaged: Option[DataFrame => Unit] = None)(
      prep: DataFrame => DataFrame,
      next: DataFrame => DataFrame): Long =
    stageSweep(spark, root, bucketPaths, fullSchema)(prep, next) match {
      case None => 0L
      case Some(sw) =>
        // validation runs on the STAGED bytes before anything
        // publishes: a violating mutation deletes its staging and
        // leaves the store readable at its prior state
        validateStaged.foreach { v =>
          try v(readStaged(spark, sw.staged, fullSchema))
          catch { case e: Throwable => StoreIO.delete(spark, sw.staged); throw e }
        }
        publishSweep(spark, root, sw, seq, fullSchema)
        sw.affected
    }

  /** Read a staged (`partitionBy("__b")`) dir with an EXPLICIT schema:
    * an all-tombstone batch (or an all-delete sweep) stages ZERO data
    * files, and schema inference over an empty dir throws an unrelated
    * AnalysisException — with the schema given, an empty stage reads
    * as an empty frame and validates trivially, so a legitimate
    * bucket-emptying commit publishes instead of aborting.
    */
  private def readStaged(
      spark: SparkSession, staged: String, fullSchema: StructType): DataFrame =
    spark.read
      .schema(StructType(fullSchema.fields.toSeq :+
        StructField("__b", IntegerType)))
      .parquet(staged)

  /** A staged-but-unpublished sweep: the staged dir, the buckets it
    * replaces, and the affected-row count. Publish with
    * [[publishSweep]] once every validation the commit needs has
    * passed — staging EVERYTHING first is what lets a multi-part
    * commit (merge + full-sync sweep) reject atomically.
    */
  private final case class StagedSweep(
      staged: String, touched: Seq[(Int, String)], affected: Long)

  private def stageSweep(
      spark: SparkSession,
      root: String,
      bucketPaths: Seq[(Int, String)],
      fullSchema: StructType)(
      prep: DataFrame => DataFrame,
      next: DataFrame => DataFrame): Option[StagedSweep] = {
    if (bucketPaths.isEmpty) return None
    // explicit fullSchema read: no footer-merge job, and the
    // NULL-surfacing alignment for evolved columns comes free
    def tagged(paths: Seq[String]): DataFrame = {
      val raw = spark.read.schema(fullSchema).parquet(paths: _*)
      raw.select(bucketOfPath.as("__b") +: fullSchema.fields.toSeq.map(f =>
        col(f.name)): _*)
    }
    val counts = prep(tagged(bucketPaths.map(_._2)))
      .groupBy("__b")
      .agg(coalesce(sum(when(col("__hit"), 1L).otherwise(0L)), lit(0L)).as("h"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val affected = counts.values.sum
    val touched = bucketPaths.filter(p => counts.getOrElse(p._1, 0L) > 0L)
    if (touched.isEmpty) None // affected > 0 implies a touched bucket
    else {
      val out = next(prep(tagged(touched.map(_._2))))
      val staged = s"$root/staged-${java.util.UUID.randomUUID().toString.take(8)}"
      out.write.partitionBy("__b").mode("overwrite").parquet(staged)
      Some(StagedSweep(staged, touched, affected))
    }
  }

  private def publishSweep(
      spark: SparkSession, root: String, sw: StagedSweep, seq: Long,
      fullSchema: StructType): Unit =
    if (sw.touched.nonEmpty) {
      sw.touched.foreach { case (b, _) =>
        if (StoreIO.exists(spark, s"${sw.staged}/__b=$b"))
          publishDir(spark, s"${sw.staged}/__b=$b", bucketDir(root, b), seq)
        else
          publishDf(emptyOf(spark, fullSchema), spark, bucketDir(root, b), seq)
      }
      StoreIO.delete(spark, sw.staged)
    }

  private def align(cur: DataFrame, full: StructType): DataFrame = {
    val have = cur.columns.toSet
    cur.select(full.fields.toSeq.map { fld =>
      if (have(fld.name)) col(fld.name)
      else lit(null).cast(fld.dataType).as(fld.name)
    }: _*)
  }

  /** Delete by KEY SET — the scalable form for erasure queues: the key
    * frame routes through the same bucket hash as the data, so each
    * touched bucket is ONE anti-join against its own slice of the keys
    * (never a table-wide pass; untouched buckets are not even listed).
    * Runs under lease + ledger like [[delete]]; returns rows removed.
    */
  def deleteKeys(
      keys: DataFrame,
      dir: String,
      key: String,
      batchId: Option[String] = None,
      leaseStaleMs: Long = 600000L): Long = {
    val spark = keys.sparkSession
    StoreIO.withLease(spark, dir, leaseStaleMs) {
      val root = rootOf(spark, dir)
      if (batchId.exists(appliedInLog(spark, root, _))) 0L
      else {
        val meta = metaOf(spark, root)
        val n = meta.nBuckets
        val fsys = StoreIO.fs(spark, root)
        val (k, touchedB) = checkpointBuckets(
          keys.select(key).distinct().withColumn("__kb", bucketExpr(key, n)), "__kb")
        val paths = newestGens(fsys, root, n).filter(p => touchedB.contains(p._1))
        val seq = nextSeq(spark, root)
        val fullSchema = meta.schema.getOrElse(read(spark, root).schema)
        val marker = k.drop("__kb").withColumn("__m", lit(true))
        // membership IS the hit predicate: mark via one key-equi join
        // (both sides route through the same bucket hash, so the
        // shuffle is effectively co-partitioned at scale), then one
        // partitioned anti-rewrite of only the buckets that lost rows
        val removed = sweepBuckets(spark, root, paths, seq, fullSchema)(
          _.join(marker, Seq(key), "left")
            .withColumn("__hit", coalesce(col("__m"), lit(false)))
            .drop("__m"),
          _.where(!col("__hit")).drop("__hit"))
        if (removed > 0 || batchId.nonEmpty)
          recordCommit(spark, root, seq, batchId, "delete_keys",
            commitSchema(spark, root, Some(fullSchema).filter(_ => removed > 0)))
        removed
      }
    }
  }

  /** Bucket-pruned point lookup: the probe keys route through the
    * store's own bucket hash, so ONLY the buckets they land in are
    * read (and semi-joined against the key slice) — the O(touched
    * buckets) read path the bucketing buys, never a table scan. At
    * 100 TB a handful of probe keys reads a handful of bucket
    * generations; untouched buckets are not even listed.
    */
  def lookup(keys: DataFrame, dir: String, key: String): DataFrame = {
    val spark = keys.sparkSession
    val root = rootOf(spark, dir)
    val meta = metaOf(spark, root)
    val n = meta.nBuckets
    val fsys = StoreIO.fs(spark, root)
    val (k, touched) = checkpointBuckets(
      keys.select(key).distinct().withColumn("__b", bucketExpr(key, n)), "__b")
    val paths = touched.flatMap { b =>
      val gens = genList(fsys, bucketDir(root, b))
      if (gens.isEmpty) None else Some(gens.maxBy(_._1)._2)
    }
    if (paths.isEmpty) read(spark, root).limit(0)
    else readSchema(spark, meta.schema, paths)
      .join(k.drop("__b"), Seq(key), "left_semi")
  }

  /** FULL VERSION HISTORY of a set of keys — the row-level audit query
    * the generation log answers in ONE bucket-pruned scan: every
    * retained generation of ONLY the probed keys' buckets is read
    * (tagged with its commit seq recovered from the generation path)
    * and semi-joined to the probe set. A key's row appears once per
    * retained commit that REWROTE its bucket while the key was
    * present; between those commits the row was byte-identical by
    * construction (generations are immutable), so the result IS the
    * complete value timeline over the retention window. At 100 TB a
    * handful of audited keys reads a handful of bucket directories —
    * never the table, never untouched buckets.
    */
  def rowVersions(keys: DataFrame, dir: String, key: String): DataFrame = {
    val spark = keys.sparkSession
    val root = rootOf(spark, dir)
    val n = buckets(spark, root)
    val fsys = StoreIO.fs(spark, root)
    val (k, touched) = checkpointBuckets(
      keys.select(key).distinct().withColumn("__kb", bucketExpr(key, n)), "__kb")
    val paths = touched.flatMap(b => genList(fsys, bucketDir(root, b)).map(_._2))
    if (paths.isEmpty) {
      val cur = read(spark, root)
      cur.limit(0).withColumn("commit_seq", lit(0L))
        .select(col("commit_seq") +: cur.columns.map(col).toIndexedSeq: _*)
    } else {
      // every retained generation: read with the union of the schemas
      // the retained log records (each distinct one parsed once)
      val (hz, live) = logOf(spark, root)
      val parsed = (hz.map(_.schema).toSeq ++ live.map(_.schema)).distinct
        .map(_.flatMap(StoreIO.schemaOf))
      val span = Option.when(parsed.nonEmpty && parsed.forall(_.isDefined))(
        parsed.flatten.reduce(widen))
      val raw = readSchema(spark, span, paths)
      val seqOfPath = regexp_extract(col("_metadata.file_path"),
        "/b\\d+/g(\\d{12})/", 1).cast("long")
      raw.select(seqOfPath.as("commit_seq") +: raw.columns.map(col).toIndexedSeq: _*)
        .join(k.drop("__kb"), Seq(key), "left_semi")
    }
  }

  /** CDC-OUT off the generation log: the row-level changes between two
    * committed snapshots — `change` is `insert` (key only in `toSeq`),
    * `delete` (key only in `fromSeq`; values are the before-image) or
    * `update` (key in both with any column differing; values are the
    * after-image). Unchanged rows emit nothing. This is the read side
    * of `core_apply_changefeed`: downstream consumers re-derive a
    * change feed FROM the store instead of re-diffing full snapshots.
    *
    * Path-pruned by construction: a bucket whose newest-generation
    * path is IDENTICAL at both seqs cannot contain a change and is
    * skipped without being read — between adjacent commits that is
    * every untouched bucket, so the diff costs O(changed buckets), not
    * O(table). Both sides route through the same bucket hash, so at
    * scale the join is effectively co-partitioned.
    */
  def changesBetween(
      spark: SparkSession,
      dir: String,
      fromSeq: Long,
      toSeq: Long,
      key: String): DataFrame =
    changesJoined(spark, dir, fromSeq, toSeq, key) match {
      case Left(shape) => shape
      case Right((joined, others)) =>
        joined.select(col("change") +: col(key) +: others.map(c =>
          coalesce(col(s"__after.$c"), col(s"__before.$c")).as(c)): _*)
    }

  /** [[changesBetween]] in Delta-CDF IMAGE form: an `update` emits TWO
    * rows — `update_preimage` (the replaced values) and
    * `update_postimage` (the new ones) — beside `insert` and `delete`
    * (whose single row is the after- resp. before-image). The pre/post
    * pair is what DOWNSTREAM INCREMENTAL MAINTENANCE needs: an
    * aggregate view subtracts the preimage and adds the postimage, so
    * a row whose update moves it BETWEEN groups adjusts both — the
    * after-image-only form cannot express that. Same path pruning as
    * [[changesBetween]] (identical-path buckets skipped unread); the
    * pair explodes from one joined row, so the join still runs once.
    */
  def changesBetweenImages(
      spark: SparkSession,
      dir: String,
      fromSeq: Long,
      toSeq: Long,
      key: String): DataFrame =
    changesJoined(spark, dir, fromSeq, toSeq, key) match {
      case Left(shape) => shape
      case Right((joined, others)) =>
        val pre = struct(
          when(col("change") === "delete", lit("delete"))
            .otherwise(lit("update_preimage")).as("ct"),
          col("__before").as("img"))
        val post = struct(
          when(col("change") === "insert", lit("insert"))
            .otherwise(lit("update_postimage")).as("ct"),
          col("__after").as("img"))
        joined.select(col(key), explode(filter(array(
          when(col("change").isin("delete", "update"), pre),
          when(col("change").isin("insert", "update"), post)),
          x => x.isNotNull)).as("__e"))
          .select(col("__e.ct").as("change") +: col(key) +:
            others.map(c => col(s"__e.img.$c").as(c)): _*)
    }

  /** Shared interior of the two changefeed shapes: Left(empty frame in
    * the requested shape) when no bucket's newest-generation path
    * differs between the two seqs; Right(joined, others) otherwise,
    * where `joined` carries `key`, `__before`, `__after` and a
    * non-null `change` in {insert, delete, update}.
    */
  private def changesJoined(
      spark: SparkSession,
      dir: String,
      fromSeq: Long,
      toSeq: Long,
      key: String): Either[DataFrame, (DataFrame, IndexedSeq[String])] = {
    val root = rootOf(spark, dir)
    require(fromSeq <= toSeq, s"changesBetween: fromSeq $fromSeq > toSeq $toSeq")
    val base = baseSeq(spark, root)
    require(fromSeq >= base,
      s"store $dir retains history from commit $base; asked for $fromSeq")
    val n = buckets(spark, root)
    val fsys = StoreIO.fs(spark, root)
    val perBucket = (0 until n).map { b =>
      val gens = genList(fsys, bucketDir(root, b))
      def at(s: Long) = {
        val g = gens.filter(_._1 <= s)
        if (g.isEmpty) None else Some(g.maxBy(_._1)._2)
      }
      (at(fromSeq), at(toSeq))
    }.filter { case (a, b) => a != b } // identical path == identical rows
    def side(paths: Seq[String], seq: Long): Option[DataFrame] =
      if (paths.isEmpty) None
      else Some(readSchema(spark, schemaAt(spark, root, seq), paths))
    val aOpt = side(perBucket.flatMap(_._1), fromSeq)
    val bOpt = side(perBucket.flatMap(_._2), toSeq)
    (aOpt, bOpt) match {
      case (None, None) =>
        // no changed buckets: an empty frame in the change-feed shape
        val cur = read(spark, root)
        Left(cur.limit(0).withColumn("change", lit(""))
          .select(col("change") +: cur.columns.map(col).toIndexedSeq: _*))
      case _ =>
        val schema = (aOpt, bOpt) match {
          case (Some(a), Some(b)) => widen(a.schema, b.schema)
          case _ => aOpt.orElse(bOpt).get.schema
        }
        def aligned(o: Option[DataFrame]) =
          align(o.getOrElse(emptyOf(spark, schema)), schema)
        val others = schema.fieldNames.filterNot(_ == key).toIndexedSeq
        val a = aligned(aOpt).select(col(key),
          struct(others.map(col): _*).as("__before"))
        val b = aligned(bOpt).select(col(key),
          struct(others.map(col): _*).as("__after"))
        Right((a.join(b, Seq(key), "full_outer")
          .withColumn("change",
            when(col("__before").isNull, lit("insert"))
              .when(col("__after").isNull, lit("delete"))
              .when(!(col("__before") <=> col("__after")), lit("update")))
          .where(col("change").isNotNull), others))
    }
  }

  /** Incremental changefeed consumption: the pending changes since the
    * cursor's last consumed commit, plus the head seq to pass to
    * [[commitCursor]] once the consumer has durably processed them —
    * at-least-once by construction (a consumer that crashes before
    * committing re-reads the same window; the changes are a
    * deterministic function of the two snapshots, so redelivery is
    * idempotent for idempotent consumers). A missing cursor starts at
    * the store's base seq, so the first consumption is the initial
    * load (every row an `insert`). A cursor that fell behind the
    * retention horizon fails loudly via [[changesBetween]]'s guard —
    * silently skipping unreconstructable history would lose deletes.
    */
  def changesSince(
      spark: SparkSession,
      dir: String,
      key: String,
      cursorPath: String): (DataFrame, Long) = {
    val root = rootOf(spark, dir)
    val head = snapshotSeq(spark, root)
    StoreIO.readSmall(spark, cursorPath)
      .map(jackson.readTree(_).get("last_seq").asLong()) match {
      case Some(from) =>
        (changesBetween(spark, root, from, head, key), head)
      case None =>
        // initial load: the FULL snapshot at head as inserts — never a
        // diff from the retention horizon. Once retention has advanced
        // base_seq, the horizon snapshot exists per bucket, so
        // changesBetween(base, head) would silently omit every row
        // already present and unchanged at the horizon — a new consumer
        // attaching to a retained store would lose most of the table
        // with no error. (For base_seq == 0 the two forms agree; this
        // one also skips the pointless self-join.)
        val cur = read(spark, root)
        val others = cur.schema.fieldNames.filterNot(_ == key).toIndexedSeq
        (cur.select(lit("insert").as("change") +: col(key) +:
          others.map(col): _*), head)
    }
  }

  /** Durably advance a consumer cursor (atomic replace — a crash
    * leaves the old or the new cursor, never a torn one).
    */
  def commitCursor(spark: SparkSession, cursorPath: String, seq: Long): Unit =
    StoreIO.writeSmallAtomic(spark, cursorPath, s"""{"last_seq":$seq}""")

  /** Compact the newest generation of every bucket whose file count
    * exceeds what its data volume needs (the Delta OPTIMIZE analog):
    * each staged write leaves up to `shuffle.partitions` part files
    * per bucket, so a long-running CDC sink accretes small files that
    * tax every subsequent scan's task scheduling. Compaction rewrites
    * only over-fragmented buckets into `ceil(bytes / targetFileBytes)`
    * files as ONE new commit (kind `optimize`) — content is unchanged
    * (time travel still reconstructs pre-compaction states from the
    * retained generations), readers never see a partial rewrite, and
    * a replay converges like any other commit. Returns the number of
    * buckets rewritten.
    */
  def optimize(
      spark: SparkSession,
      dir: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      zorderBy: Seq[String] = Nil): Int =
    StoreIO.withLease(spark, dir) {
      val root = rootOf(spark, dir)
      val n = buckets(spark, root)
      val fsys = StoreIO.fs(spark, root)
      val seq = nextSeq(spark, root)
      // sizing is driver-side FS listing (metadata, not data); with a
      // ZORDER clause every non-empty bucket rewrites (clustering
      // changes row order), otherwise only over-fragmented ones
      val plan = newestGens(fsys, root, n).flatMap { case (b, cur) =>
        val parts = fsys.listStatus(hp(cur))
          .filter(s => !s.isDirectory && s.getPath.getName.startsWith("part-"))
        val bytes = parts.map(_.getLen).sum
        val want = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
        if (zorderBy.nonEmpty || parts.length > want) Some((b, cur, want))
        else None
      }
      if (plan.isEmpty) 0
      else {
        // ONE compaction job for every bucket in the plan: range
        // partition on (bucket, within-bucket order) into sum-of-wants
        // partitions — each bucket lands in ~want contiguous
        // partitions — then one partitioned write + one publish rename
        // per bucket. The round-11 shape submitted a coalesce job PER
        // BUCKET serially; at tens of thousands of buckets that is
        // scheduler latency, not data cost. Head-state read → explicit
        // meta schema (no footer-merge job).
        val raw = readSchema(spark, metaOf(spark, root).schema, plan.map(_._2))
        val order: org.apache.spark.sql.Column =
          if (zorderBy.isEmpty)
            // deterministic spread (stable under task retry, unlike
            // rand()) so a bucket bigger than targetFileBytes can split
            xxhash64(col("_metadata.file_path"), col("_metadata.row_index"))
          else {
            // morton key over the cluster columns, ranges from one
            // cheap min/max aggregate; a constant column gets a unit
            // range so the interleave never divides by zero.
            // Each column maps to a double through a TYPE-AWARE
            // projection — a blind cast("double") yields NULL for
            // every string/date row, making the morton key NULL
            // everywhere so clustering silently no-ops. Order is
            // preserved where the type has one (numerics, dates,
            // timestamps, booleans); strings/binary interleave their
            // 64-bit hash (equal values still co-locate — the
            // data-skipping win — range locality is honestly
            // unavailable); anything else fails loudly.
            def zval(c: String): org.apache.spark.sql.Column = {
              require(raw.columns.contains(c),
                s"ZORDER BY names unknown column $c")
              raw.schema(c).dataType match {
                case _: NumericType => col(c).cast("double")
                case BooleanType => col(c).cast("int").cast("double")
                case DateType =>
                  datediff(col(c), to_date(lit("1970-01-01"))).cast("double")
                case TimestampType | TimestampNTZType =>
                  col(c).cast("long").cast("double")
                case StringType | BinaryType => xxhash64(col(c)).cast("double")
                case dt => throw new IllegalArgumentException(
                  s"ZORDER BY $c: ${dt.simpleString} has no morton mapping " +
                    "(numeric, boolean, date, timestamp, string, binary only)")
              }
            }
            val aggs = zorderBy.flatMap(c => Seq(
              min(zval(c)).as(s"lo_$c"), max(zval(c)).as(s"hi_$c")))
            val mm = raw.agg(aggs.head, aggs.tail: _*).head()
            val dims = zorderBy.zipWithIndex.map { case (c, i) =>
              val lo = Option(mm.get(2 * i)).fold(0.0)(_.asInstanceOf[Double])
              val hi0 = Option(mm.get(2 * i + 1)).fold(1.0)(_.asInstanceOf[Double])
              val hi = if (hi0 > lo) hi0 else lo + 1.0
              (zval(c), lo, hi)
            }
            Layout.mortonKey(dims, math.min(12, 52 / dims.size))
          }
        val totalWant = math.min(plan.map(_._3).sum, 100000L).toInt
        val staged = s"$root/staged-${java.util.UUID.randomUUID().toString.take(8)}"
        // __b and __f must project in ONE select on the scan output:
        // the parquet _metadata column both derive from is unavailable
        // once a projection without it intervenes
        raw.select(bucketOfPath.as("__b") +: order.as("__f") +:
            raw.columns.map(col).toIndexedSeq: _*)
          .repartitionByRange(math.max(1, totalWant), col("__b"), col("__f"))
          .sortWithinPartitions("__b", "__f")
          .drop("__f")
          .write.partitionBy("__b").mode("overwrite").parquet(staged)
        val outSchema = StructType(raw.schema.toSeq)
        plan.foreach { case (b, _, _) =>
          if (StoreIO.exists(spark, s"$staged/__b=$b"))
            publishDir(spark, s"$staged/__b=$b", bucketDir(root, b), seq)
          else
            publishDf(emptyOf(spark, outSchema), spark, bucketDir(root, b), seq)
        }
        StoreIO.delete(spark, staged)
        recordCommit(spark, root, seq, None, "optimize", commitSchema(spark, root, Some(outSchema)))
        plan.length
      }
    }

  /** Per-bucket row counts off the newest generations — layout
    * introspection for skew reads and rebucket decisions. ONE Spark
    * job whatever the bucket count (a zero-data-column scan grouped by
    * [[bucketOfPath]]); no key rehash, no per-bucket driver loop.
    */
  def bucketCounts(spark: SparkSession, dir: String): Seq[(Int, Long)] = {
    val root = rootOf(spark, dir)
    val n = buckets(spark, root)
    val f = StoreIO.fs(spark, root)
    val paths = newestGens(f, root, n)
    if (paths.isEmpty) Seq.empty
    else {
      val counts = spark.read.parquet(paths.map(_._2): _*)
        .groupBy(bucketOfPath.as("__b")).count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)) // <= nBuckets rows
        .toMap
      // a bucket whose newest generation is EMPTY emits no group — it
      // still exists, so it reports 0 (the round-11 per-bucket contract)
      paths.map { case (b, _) => b -> counts.getOrElse(b, 0L) }
    }
  }

  /** RESTORE the table to its state at commit `seq` as ONE NEW commit
    * (the Delta RESTORE analog — undo a bad merge without losing the
    * history after it: the restored state lands as `head+1`, every
    * commit in between stays time-travelable until retention retires
    * it). Per bucket, the newest generation `<= seq` is re-published
    * at the new head (a bucket first touched after `seq` gets an
    * explicit empty generation — it held nothing then); buckets whose
    * newest generation is ALREADY the asof one are skipped unread and
    * unrewritten. O(1) Spark jobs: one tagged read of the differing
    * asof generations + one partitioned write. Runs under lease +
    * ledger (`batchId` replay is a no-op); always commits (kind
    * `restore`), even when nothing differed — the intent is
    * state-changing and its replay must be exact. Returns the new
    * head seq.
    */
  def restore(
      spark: SparkSession,
      dir: String,
      seq: Long,
      batchId: Option[String] = None): Long =
    StoreIO.withLease(spark, dir) {
      val root = rootOf(spark, dir)
      val head = snapshotSeq(spark, root)
      if (batchId.exists(appliedInLog(spark, root, _))) head
      else {
        val base = baseSeq(spark, root)
        require(seq >= base && seq >= 1,
          s"store $dir retains history from commit ${math.max(base, 1)}; " +
            s"cannot restore to $seq")
        require(seq <= head, s"cannot restore $dir to future commit $seq (head $head)")
        val n = buckets(spark, root)
        val fsys = StoreIO.fs(spark, root)
        sweepOrphanGens(spark, root, head) // genList below must not see debris
        val newSeq = head + 1
        // (bucket, asof path or None-for-empty) for buckets whose head
        // generation is not already the asof one
        val diff = (0 until n).flatMap { b =>
          val gens = genList(fsys, bucketDir(root, b))
          if (gens.isEmpty) None
          else {
            val atSeq = gens.filter(_._1 <= seq) match {
              case e if e.isEmpty => None
              case g => Some(g.maxBy(_._1)._2)
            }
            val atHead = gens.maxBy(_._1)._2
            if (atSeq.contains(atHead)) None else Some(b -> atSeq)
          }
        }
        val copyBack = diff.collect { case (b, Some(p)) => b -> p }
        // the restored snapshot reads as the table did at `seq`, with
        // the schema recorded there (NOT the head's wider one)
        val asof = schemaAt(spark, root, seq)
        if (copyBack.nonEmpty) {
          val raw = readSchema(spark, asof, copyBack.map(_._2))
          val staged = s"$root/staged-${java.util.UUID.randomUUID().toString.take(8)}"
          raw.select(bucketOfPath.as("__b") +: raw.columns.map(col).toIndexedSeq: _*)
            .write.partitionBy("__b").mode("overwrite").parquet(staged)
          copyBack.foreach { case (b, _) =>
            if (StoreIO.exists(spark, s"$staged/__b=$b"))
              publishDir(spark, s"$staged/__b=$b", bucketDir(root, b), newSeq)
            else // the asof generation itself was empty
              publishDf(emptyOf(spark, raw.schema), spark, bucketDir(root, b), newSeq)
          }
          StoreIO.delete(spark, staged)
        }
        val emptyAtSeq = diff.collect { case (b, None) => b }
        if (emptyAtSeq.nonEmpty) {
          // schema of the table AS OF seq
          val asofSchema = asof.getOrElse(readAt(spark, root, seq).schema)
          emptyAtSeq.foreach(b =>
            publishDf(emptyOf(spark, asofSchema), spark, bucketDir(root, b), newSeq))
        }
        recordCommit(spark, root, newSeq, batchId, "restore", asof)
        newSeq
      }
    }

  /** Deep-CLONE the table at `versionAsOf` (default: the current
    * snapshot) into a NEW store at `dstDir` — one generation per
    * non-empty bucket, same bucket modulus, `base_seq` pinned at the
    * cloned version so time travel below it fails loudly. The source
    * commit log is carried TRIMMED to lines `<=` the cloned version:
    * replays of batches the clone actually contains stay no-ops, while
    * later source batches (whose data the clone deliberately excludes)
    * re-apply as fresh batches — carrying their ids would silently
    * drop their data on re-delivery. O(1) Spark jobs (one tagged read
    * + one partitioned write). Returns the cloned version.
    */
  def cloneStore(
      spark: SparkSession,
      srcDir: String,
      dstDir: String,
      versionAsOf: Option[Long] = None): Long = {
    val root = rootOf(spark, srcDir)
    require(!exists(spark, dstDir), s"clone target $dstDir already exists")
    val meta = metaOf(spark, root)
    val seq = versionAsOf.getOrElse(snapshotSeq(spark, root))
    require(seq >= meta.baseSeq,
      s"store $srcDir retains history from commit ${meta.baseSeq}; cannot clone $seq")
    val n = meta.nBuckets
    val fsys = StoreIO.fs(spark, root)
    val srcGens = (0 until n).flatMap { b =>
      val gens = genList(fsys, bucketDir(root, b)).filter(_._1 <= seq)
      if (gens.isEmpty) None else Some(b -> gens.maxBy(_._1)._2)
    }
    // stats carry over ONLY when the analyzed seq is within the cloned
    // version: a versionAsOf clone predating the ANALYZE would
    // otherwise report statistics for a snapshot it never contained
    val carriedStats = meta.statsJson.filter(js =>
      jackson.readTree(js).get("seq").asLong() <= seq)
    writeMeta(spark, dstDir, meta.copy(baseSeq = seq, statsJson = carriedStats))
    val (hz, live) = logOf(spark, root)
    val carried = (hz.filter(_.seq <= seq).map(horizonLine).toSeq ++
      live.filter(_.seq <= seq).map(commitLine)).mkString("", "\n", "\n")
    StoreIO.writeSmallAtomic(spark, s"$dstDir/commits.json", carried)
    if (srcGens.nonEmpty) {
      val raw = readSchema(spark, schemaAt(spark, root, seq), srcGens.map(_._2))
      val staged = s"$dstDir/staged-${java.util.UUID.randomUUID().toString.take(8)}"
      raw.select(bucketOfPath.as("__b") +: raw.columns.map(col).toIndexedSeq: _*)
        .write.partitionBy("__b").mode("overwrite").parquet(staged)
      srcGens.foreach { case (b, _) =>
        if (StoreIO.exists(spark, s"$staged/__b=$b"))
          publishDir(spark, s"$staged/__b=$b", bucketDir(dstDir, b), seq)
        else
          publishDf(emptyOf(spark, raw.schema), spark, bucketDir(dstDir, b), seq)
      }
      StoreIO.delete(spark, staged)
    } else meta.schema.foreach(sch =>
      // a clone of a generation-less version must still be readable;
      // published AT the cloned seq so the head-capped read resolves it
      publishDf(emptyOf(spark, sch), spark, bucketDir(dstDir, 0), seq))
    seq
  }

  /** Drop generations not needed to reconstruct the newest
    * `keepCommits` commits and advance `meta.base_seq` to the new
    * horizon. Per bucket the rule is: keep everything `>= cutoff` plus
    * the newest generation `<= cutoff` (the reconstruction base for
    * `readAsOf(cutoff)`); everything older is unreachable. Runs under
    * the writer lease; O(directory listing), never O(data).
    */
  def retain(spark: SparkSession, dir: String, keepCommits: Int): Unit =
    StoreIO.withLease(spark, dir) {
      retainLocked(spark, rootOf(spark, dir), keepCommits)
    }

  private def retainLocked(
      spark: SparkSession, root: String, keepCommits: Int): Unit = {
    if (keepCommits == Int.MaxValue) return
    require(keepCommits >= 1, "retention must keep at least the newest commit")
    val maxS = snapshotSeq(spark, root)
    val cutoff = maxS - keepCommits + 1
    val meta = metaOf(spark, root)
    if (cutoff <= meta.baseSeq) return
    val n = meta.nBuckets
    val f = StoreIO.fs(spark, root)
    (0 until n).foreach { b =>
      val gens = genList(f, bucketDir(root, b))
      val atOrBelow = gens.filter(_._1 <= cutoff)
      if (atOrBelow.nonEmpty) {
        val base = atOrBelow.maxBy(_._1)._1
        gens.filter(_._1 < base).foreach(g => f.delete(hp(g._2), true))
      }
    }
    writeMeta(spark, root, meta.copy(baseSeq = cutoff))
    // trim the log below the horizon (see [[Horizon]]): lines < cutoff
    // compact into one head line carrying the newest ledgerWindow
    // trimmed batch ids, so per-commit log rewrites stay O(keep window)
    // over the store's whole life instead of O(history).
    val (hz, live) = logOf(spark, root)
    val (drop, keep) = live.partition(_.seq < cutoff)
    if (drop.nonEmpty) {
      val ids = (hz.map(_.ids).getOrElse(Nil) ++
        drop.sortBy(_.seq).flatMap(_.batchId)).takeRight(ledgerWindow)
      val hzSeq = math.max(hz.map(_.seq).getOrElse(0L), cutoff - 1)
      val hzTs = math.max(hz.map(_.tsMs).getOrElse(0L),
        drop.map(_.tsMs).max)
      // the horizon records the schema at its seq: the newest trimmed line's
      val hzSchema = drop.maxBy(_.seq).schema
      StoreIO.writeSmallAtomic(spark, s"$root/commits.json",
        (horizonLine(Horizon(hzSeq, hzTs, ids, hzSchema)) +: keep.map(commitLine))
          .mkString("", "\n", "\n"))
    }
  }

  private def schemaField(schema: Option[JsonNode]): String =
    schema.map(n => s""","schema":${jstr(n.asText())}""").getOrElse("")

  private def commitLine(c: Commit): String =
    s"""{"seq":${c.seq},"batch_id":${c.batchId.map(jstr).getOrElse("null")},""" +
      s""""kind":${jstr(c.kind)},"ts_ms":${c.tsMs}${schemaField(c.schema)}}"""

  private def horizonLine(h: Horizon): String =
    s"""{"seq":${h.seq},"batch_id":null,"kind":"horizon","ts_ms":${h.tsMs},""" +
      s""""applied_ids":[${h.ids.map(jstr).mkString(",")}]${schemaField(h.schema)}}"""

  /** Re-bucket the store to `newBuckets` — the maintenance move when a
    * store outgrows its bucket count (buckets are the unit of rewrite;
    * a few GB each is the sweet spot). The new layout (meta + carried
    * ledger + carried commit log + re-hashed buckets, ONE full
    * generation per bucket at the current snapshot seq) is built
    * OFFLINE under a staged sibling dir and promoted with ONE atomic
    * root swap, so readers never see a mixed-modulus layout and a
    * crash anywhere leaves either the old store or the new one
    * complete (`<dir>-old` is the in-swap fallback, which
    * [[rootOf]] honours on every read path; an orphaned staged
    * sibling is vacuum debris for the PARENT directory). The applied
    * ledger carries over, so a replay of any pre-rebucket batch is
    * still a no-op afterwards. History COMPACTS: `base_seq` advances
    * to the snapshot seq — time travel below it is retired (the old
    * per-bucket generations do not exist under the new modulus).
    *
    * The staged layout is born holding the writer lease (`.lease` is
    * created inside it before the swap), so the promoted root is
    * never lease-free while this call is still inside its critical
    * section; and the promote is verified to have landed at exactly
    * `<dir>/meta` — a concurrent lease-acquirer re-creating `<dir>`
    * mid-swap would otherwise absorb the staged tree as a subdirectory
    * while the rename still "succeeds".
    */
  def rebucket(
      spark: SparkSession,
      dir: String,
      key: String,
      newBuckets: Int): Unit =
    StoreIO.withLease(spark, dir) {
      val f0 = StoreIO.fs(spark, dir)
      // HEAL an interrupted swap first: a previous rebucket that died
      // between its two root renames left the ONLY complete store at
      // `<dir>-old` (rootOf serves it). Proceeding from that state
      // would be fatal — the lease re-created `<dir>`, and swapInDir
      // retires an existing `<dir>` by first deleting `<dir>-old`,
      // i.e. the only durable copy, before the staged promote lands. Finish the old swap instead: re-home the lease
      // into the fallback, drop the meta-less shell at `<dir>` (it
      // holds only lease debris — bootstrap writes meta before any
      // data), and rename the fallback back. A crash between the
      // delete and the rename leaves the complete store at
      // `<dir>-old`, which every read path still honours.
      if (rootOf(spark, dir) == s"$dir-old") {
        f0.create(hp(s"$dir-old/.lease"), true).close()
        f0.delete(hp(dir), true)
        require(f0.rename(hp(s"$dir-old"), hp(dir)),
          s"rebucket: cannot heal the interrupted swap of $dir")
      }
      val root0 = rootOf(spark, dir)
      val cur = read(spark, dir).localCheckpoint()
      // the commit log doubles as the applied ledger; carrying it over
      // keeps pre-rebucket replays no-ops under the new modulus
      val log = StoreIO.readSmall(spark, s"$root0/commits.json")
      val seq = snapshotSeq(spark, dir)
      val staged = s"$dir-staged-${java.util.UUID.randomUUID().toString.take(8)}"
      writeMeta(spark, staged,
        Meta(newBuckets, seq, metaOf(spark, root0).schema.orElse(Some(cur.schema))))
      log.foreach(StoreIO.writeSmallAtomic(spark, s"$staged/commits.json", _))
      val tmp = s"$staged/rehash-tmp"
      cur.withColumn("__b", bucketExpr(key, newBuckets))
        .write.partitionBy("__b").mode("overwrite").parquet(tmp)
      val f = StoreIO.fs(spark, dir)
      var placed = 0
      (0 until newBuckets).foreach { b =>
        if (StoreIO.exists(spark, s"$tmp/__b=$b")) {
          f.mkdirs(hp(s"$staged/b$b"))
          require(f.rename(hp(s"$tmp/__b=$b"),
            hp(s"$staged/b$b/${genName(seq)}")),
            s"rebucket: cannot place bucket $b")
          placed += 1
        }
      }
      // an empty store must stay readable (schema-carrying) post-swap
      if (placed == 0)
        publishDf(emptyOf(spark, cur.schema), spark, s"$staged/b0", seq)
      StoreIO.delete(spark, tmp)
      // the promoted root must hold the lease this critical section owns
      f.create(hp(s"$staged/.lease"), true).close()
      StoreIO.swapInDir(spark, staged, dir)
      require(StoreIO.exists(spark, s"$dir/meta.json"),
        s"rebucket: promote of $dir raced a concurrent writer; " +
          s"store intact at $dir-old")
    }

  private def emptyOf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  /** Stage-write `df` under the bucket dir and publish it as
    * generation `seq` with one rename. A pre-existing `g<seq>` is a
    * half-published predecessor of THIS commit (the log had not
    * advanced, so the replay recomputed the same seq) — overwrite it.
    */
  private def publishDf(
      df: DataFrame, spark: SparkSession, bdir: String, seq: Long): Unit = {
    val staged = s"$bdir/staged-${java.util.UUID.randomUUID().toString.take(8)}"
    df.write.mode("overwrite").parquet(staged)
    publishDir(spark, staged, bdir, seq)
  }

  private def publishDir(
      spark: SparkSession, staged: String, bdir: String, seq: Long): Unit = {
    val f = StoreIO.fs(spark, bdir)
    f.mkdirs(hp(bdir))
    val tgt = hp(s"$bdir/${genName(seq)}")
    if (f.exists(tgt)) f.delete(tgt, true)
    require(f.rename(hp(staged), tgt), s"publish: cannot promote $staged")
  }

  private def updateLocked(
      batch: DataFrame,
      dir: String,
      key: String,
      versionCol: String,
      nBuckets: Int,
      batchId: Option[String],
      deleteWhere: Option[org.apache.spark.sql.Column],
      notMatchedBySourceDelete: Option[org.apache.spark.sql.Column],
      notMatchedBySourceUpdate: Option[(org.apache.spark.sql.Column,
        Seq[(String, org.apache.spark.sql.Column)])],
      retainCommits: Int): Boolean = {
    val spark = batch.sparkSession
    val bootstrap = !exists(spark, dir)
    val batchSchema = StructType(batch.schema.toSeq)
    if (bootstrap) writeMeta(spark, dir, Meta(nBuckets, 0L, Some(batchSchema)))
    val root = rootOf(spark, dir)
    if (batchId.exists(appliedInLog(spark, root, _))) return false
    val meta = metaOf(spark, root)
    val n = meta.nBuckets
    val seq = nextSeq(spark, root)
    val fsys = StoreIO.fs(spark, root)

    // ---- schema reconciliation, LOUD not implicit: a batch may ADD
    // columns (additive evolution — old rows surface NULL) and may
    // OMIT stored columns (pre-evolution replays), but a RETYPED
    // column has no defined merge semantics; fail with the exact
    // conflict rather than let parquet schema merging or the union
    // produce engine-dependent coercions downstream.
    val stored =
      if (bootstrap) batchSchema
      else meta.schema.getOrElse(read(spark, root).schema)
    val storedTypes = stored.fields.map(f => f.name -> f.dataType).toMap
    batchSchema.fields.foreach { f =>
      storedTypes.get(f.name).foreach { t =>
        // catalogString compare: type equality up to nullability
        require(t.catalogString == f.dataType.catalogString,
          s"schema evolution: column '${f.name}' is ${t.simpleString} in store " +
            s"$dir but ${f.dataType.simpleString} in the batch; retyping is not " +
            "supported (additive columns only) — cast the batch explicitly")
      }
    }
    // the post-merge table schema; recorded in meta BEFORE any
    // generation publishes, so a crash leaves the recorded schema a
    // harmless superset of the data (aligned reads surface NULLs)
    val unionSchema = StructType(stored.fields.toSeq ++
      batchSchema.fields.filterNot(f => storedTypes.contains(f.name)))
    if (!meta.schema.contains(unionSchema))
      writeMeta(spark, root, meta.copy(schema = Some(unionSchema)))

    // the full-sync clause arms (UPDATE wins over DELETE where both
    // match — first-match-wins in the dialect's fixed clause order)
    val updHit = notMatchedBySourceUpdate
      .map(u => coalesce(u._1, lit(false))).getOrElse(lit(false))
    val delHit = notMatchedBySourceDelete
      .map(c => coalesce(c, lit(false))).getOrElse(lit(false))
    notMatchedBySourceUpdate.foreach { case (_, set) =>
      val cols = unionSchema.fieldNames.toSet
      set.foreach { case (c, _) =>
        require(cols.contains(c),
          s"NOT MATCHED BY SOURCE UPDATE SET names unknown column $c")
      }
    }
    // replacement content for a frame of stored-but-unmatched rows
    // (expects `__b`; tolerates an extra `__hit` from sweepBuckets)
    def nmbsNext(df: DataFrame): DataFrame = {
      val kept = df.where(updHit || !delHit)
      notMatchedBySourceUpdate match {
        case Some((_, set)) =>
          kept.select(col("__b") +: assign(unionSchema, set, updHit): _*)
        case None => kept.drop("__hit")
      }
    }

    val wLatest = Window.partitionBy(key).orderBy(col(versionCol).desc)
    // one pass over the batch; feeds the touched set, the anti-join and
    // the staged write
    val (latest, touched) = checkpointBuckets(batch
      .withColumn("__rn", row_number().over(wLatest)).where("__rn = 1").drop("__rn")
      .withColumn("__b", bucketExpr(key, n)), "__b")
    if (bootstrap && touched.isEmpty) {
      // an empty first batch must still leave a readable (schema-carrying)
      // store: one empty bucket generation
      publishDf(emptyOf(spark, batchSchema), spark, bucketDir(root, 0), seq)
      recordCommit(spark, root, seq, batchId, "merge", Some(batchSchema))
      return true
    }
    val existingPaths = touched.toIndexedSeq.flatMap { b =>
      val gens = genList(fsys, bucketDir(root, b))
      if (gens.isEmpty) None else Some(gens.maxBy(_._1)._2)
    }
    // tombstone split: EVERY arbitrated batch key overrides its stored
    // row (the anti-join below), but only non-tombstone rows re-insert.
    // The batch side is CLUSTERED by bucket before the partitioned
    // staged write (the Iceberg write.distribution-mode=hash posture):
    // an unclustered side writes up to (tasks × touched buckets) part
    // files per commit, and every later read of the generation — merge
    // anti-joins, asOf reconstructions, changefeed diffs, footer
    // merges — pays a task per file. The kept side is NOT reshuffled:
    // its input tasks are per-bucket generation files, so it is
    // already clustered, and the union preserves both layouts.
    val upserts = deleteWhere
      .map(c => latest.where(!coalesce(c, lit(false))))
      .getOrElse(latest)
      .repartition(col("__b"))
    val merged =
      if (existingPaths.isEmpty) upserts
      else {
        // EXPLICIT union schema (no footer-merge job; absent evolved
        // columns surface as NULL — the alignment the old
        // mergeSchema-read-then-realign produced, in one projection),
        // so the full-sync predicates and assignments see evolved
        // columns as NULL on pre-evolution generations
        val kept0a = spark.read.schema(unionSchema).parquet(existingPaths: _*)
          .withColumn("__b", bucketExpr(key, n))
          .join(latest.select(key), Seq(key), "left_anti")
        val kept =
          if (notMatchedBySourceDelete.isEmpty && notMatchedBySourceUpdate.isEmpty)
            kept0a
          else nmbsNext(kept0a)
        // allowMissingColumns: a pre-evolution replay batch may LACK
        // some stored columns
        kept.unionByName(upserts, allowMissingColumns = true)
      }

    // STAGE every part of the commit first — the touched-bucket merge
    // write AND (when a full-sync arm is present) the untouched-bucket
    // sweep — so constraint validation sees the commit's WHOLE output
    // before a single generation publishes: a violating batch deletes
    // its staging and throws, leaving the store readable at its prior
    // state with the commit seq unadvanced.
    val staged = s"$root/staged-${java.util.UUID.randomUUID().toString.take(8)}"
    merged.write.partitionBy("__b").mode("overwrite").parquet(staged)
    // full-sync over the UNtouched buckets: every stored row there is
    // by construction not-matched-by-source. O(1) Spark jobs whatever
    // the bucket count; only buckets where an arm actually fires are
    // rewritten, at the SAME seq (one commit).
    val sweep =
      if (notMatchedBySourceDelete.isEmpty && notMatchedBySourceUpdate.isEmpty) None
      else {
        val touchedSet = touched.toSet
        val untouched = newestGens(fsys, root, n).filterNot(p => touchedSet(p._1))
        stageSweep(spark, root, untouched, unionSchema)(
          _.withColumn("__hit", updHit || delHit), nmbsNext)
      }
    if (meta.constraints.nonEmpty) {
      try {
        enforce(readStaged(spark, staged, unionSchema),
          meta.constraints, "the merge batch")
        sweep.foreach(sw => enforce(readStaged(spark, sw.staged, unionSchema),
          meta.constraints, "the full-sync UPDATE output"))
      } catch {
        case e: Throwable =>
          StoreIO.delete(spark, staged)
          sweep.foreach(sw => StoreIO.delete(spark, sw.staged))
          throw e
      }
    }
    touched.foreach { b =>
      // a bucket whose every surviving row was tombstoned away writes no
      // staged partition — publish an explicit EMPTY generation instead
      // (built from the schema directly: nothing here may depend on the
      // retired generations still being scannable)
      if (StoreIO.exists(spark, s"$staged/__b=$b"))
        publishDir(spark, s"$staged/__b=$b", bucketDir(root, b), seq)
      else
        publishDf(emptyOf(spark, unionSchema), spark, bucketDir(root, b), seq)
    }
    StoreIO.delete(spark, staged)
    sweep.foreach(sw => publishSweep(spark, root, sw, seq, unionSchema))

    recordCommit(spark, root, seq, batchId, "merge", commitSchema(spark, root,
      Some(unionSchema).filter(_ => touched.nonEmpty || sweep.nonEmpty)))
    retainLocked(spark, root, retainCommits)
    true
  }
}
