package graft.api

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Shared plumbing for the persistent index stores (DedupIndex,
  * MinHashIndex, SketchStore, SessionStore, DqHistory, AnnIndex,
  * MatView):
  * Hadoop-FS paths (so the stores work on HDFS/S3, not just file://),
  * generation reads with the crash-window fallback, the staged-write +
  * atomic-rename swap, the recorded-schema parse, and the ledgered
  * generation (table + JSON batch-id ledger in one rename) that makes
  * replayed updates a no-op.
  */
object StoreIO {

  def fs(spark: SparkSession, dir: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new org.apache.hadoop.fs.Path(path))

  def delete(spark: SparkSession, path: String): Unit =
    fs(spark, path).delete(new org.apache.hadoop.fs.Path(path), true): Unit

  /** A stored generation, with the crash-window fallback of [[genPath]]. */
  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(genPath(spark, s"$dir/$name"))

  /** Stage-write `df`, retire the current generation to `<target>-old`,
    * promote the staged write, then drop the retired copy — every window
    * leaves a complete generation readable via [[read]].
    */
  def swapIn(df: DataFrame, spark: SparkSession, target: String): Unit = {
    val staged = s"$target-staged-${java.util.UUID.randomUUID().toString.take(8)}"
    df.write.mode("overwrite").parquet(staged)
    swapInDir(spark, staged, target)
  }

  /** Promote an ALREADY-WRITTEN staged directory as the next generation
    * of `target` — the multi-table variant of [[swapIn]]: a store whose
    * update must commit several tables atomically (e.g. data + ledger)
    * writes them all under one staged dir and swaps once, so no crash
    * window can separate them. The current generation is retired to
    * `<target>-old` before the promote and dropped after it. When a
    * swap died between its renames (only `-old` is left), the staged
    * generation is promoted BEFORE the retiree is dropped, so at every
    * instant [[genPath]] finds a complete generation.
    */
  def swapInDir(spark: SparkSession, staged: String, target: String): Unit = {
    val f = fs(spark, target)
    val cur = new org.apache.hadoop.fs.Path(target)
    val old = new org.apache.hadoop.fs.Path(s"$target-old")
    if (f.exists(cur)) {
      f.delete(old, true)
      require(f.rename(cur, old), s"swap: cannot retire $target")
    }
    require(f.rename(new org.apache.hadoop.fs.Path(staged), cur),
      s"swap: cannot promote $staged")
    f.delete(old, true): Unit
  }

  /** The current generation directory of `target`, with the crash-window
    * fallback (`<target>-old` if a swap died between its renames).
    */
  def genPath(spark: SparkSession, target: String): String = {
    val f = fs(spark, target)
    if (!f.exists(new org.apache.hadoop.fs.Path(target)) &&
        f.exists(new org.apache.hadoop.fs.Path(s"$target-old"))) s"$target-old"
    else target
  }

  /** One JSON parser for the stores' metadata files. */
  private[api] val jackson = new com.fasterxml.jackson.databind.ObjectMapper()

  /** A table schema recorded in a metadata file (a JSON string node
    * holding `StructType.json`). None when the field is absent, null,
    * corrupt or not a struct: every caller then falls back to parquet
    * footer inference, so a damaged record costs a job, never a read.
    */
  def schemaOf(node: JsonNode): Option[StructType] =
    Option(node).filterNot(_.isNull).flatMap(n =>
      scala.util.Try(DataType.fromJson(n.asText())).toOption.collect {
        case st: StructType => st
      })

  // ---- ledgered generations --------------------------------------------
  //
  // Layout of a ledgered store under `dir`: ONE generation directory
  // `gen/` holding the store's table AND `state.json` (the batch-id
  // ledger, the table's schema and any numeric fields the store
  // records, such as MatView's cursor), promoted with one rename
  // (swapInDir). Data and ledger can never be separated by a crash
  // window; the replay check and the ledger append are driver-side JSON
  // (zero Spark jobs); reads pass the recorded schema instead of a
  // footer-inference job. The ledger keeps the newest
  // UpsertStore.ledgerWindow ids: redelivery only ever repeats a recent
  // batch, and the file is rewritten on every commit.
  //
  // Legacy layouts (a parquet `applied` ledger at `gen/applied` or at
  // `<dir>/applied`, tables directly under `<dir>`) stay readable: their
  // ledger is read once and folded into the next generation's
  // state.json, after which the legacy directories are dropped.

  private def hasGenDir(spark: SparkSession, dir: String): Boolean =
    exists(spark, s"$dir/gen") || exists(spark, s"$dir/gen-old")

  /** True once the store holds table `name`, in either layout. */
  def hasTable(spark: SparkSession, dir: String, name: String): Boolean =
    hasGenDir(spark, dir) || exists(spark, s"$dir/$name") || exists(spark, s"$dir/$name-old")

  /** The parsed `state.json` in generation directory `gen` (a path
    * [[genPath]] resolved), None when there is none.
    */
  private[api] def stateIn(spark: SparkSession, gen: String): Option[JsonNode] =
    readSmall(spark, s"$gen/state.json").map(jackson.readTree)

  /** The batch ids of a parsed `state.json`, oldest first. */
  private[api] def appliedOf(state: JsonNode): Seq[String] = {
    val a = state.get("applied")
    (0 until a.size()).map(a.get(_).asText())
  }

  /** The batch ids in a ledgered store's ledger, oldest first. */
  def ledgerOf(spark: SparkSession, dir: String): Seq[String] = {
    val gen = genPath(spark, s"$dir/gen")
    stateIn(spark, gen) match {
      case Some(n) => appliedOf(n)
      case None =>
        // legacy parquet ledger: read once, folded in by the next commitGen
        val legacy = Seq(s"$gen/applied", genPath(spark, s"$dir/applied")).find(exists(spark, _))
        legacy.toSeq.flatMap(p => spark.read.parquet(p).collect().map(_.getString(0)))
    }
  }

  /** Table `name` of a ledgered store, read with the recorded schema
    * when there is one.
    */
  def readTable(spark: SparkSession, dir: String, name: String): DataFrame =
    if (!hasGenDir(spark, dir)) read(spark, dir, name) // legacy layout
    else {
      val gen = genPath(spark, s"$dir/gen")
      stateIn(spark, gen).flatMap(n => schemaOf(n.get("schema")))
        .fold(spark.read)(spark.read.schema).parquet(s"$gen/$name")
    }

  /** Commit the next generation of a ledgered store in ONE rename
    * ([[publishGen]] at `gen/`). A store without a table of its own
    * (AnnIndex, whose partitions are replay-overwritable in place)
    * commits the ledger alone. Any legacy ledger or table directory is
    * dropped once the generation holding its content has landed.
    */
  def commitGen(
      spark: SparkSession,
      dir: String,
      applied: Seq[String],
      table: Option[(String, DataFrame)],
      fields: (String, Long)*): Unit = {
    publishGen(spark, s"$dir/gen", applied, table, fields)
    (Seq("applied") ++ table.map(_._1)).foreach { n =>
      delete(spark, s"$dir/$n")
      delete(spark, s"$dir/$n-old")
    }
  }

  /** Publish the next generation at `gen` in ONE rename: `table`
    * (name, frame) is written under a staged sibling, then `state.json`
    * with the newest [[UpsertStore.ledgerWindow]] ids of `applied`, the
    * numeric `fields` and the table's schema, then the staged directory
    * replaces `gen` ([[swapInDir]]). Nothing reads a staged directory,
    * so `state.json` is one plain create.
    */
  private[api] def publishGen(
      spark: SparkSession,
      gen: String,
      applied: Seq[String],
      table: Option[(String, DataFrame)],
      fields: Seq[(String, Long)]): Unit = {
    val staged = s"$gen-staged-${java.util.UUID.randomUUID().toString.take(8)}"
    table.foreach { case (name, df) => df.write.mode("overwrite").parquet(s"$staged/$name") }
    val ids = applied.takeRight(UpsertStore.ledgerWindow).map(jackson.writeValueAsString)
    val state = s"""{"applied":[${ids.mkString(",")}]""" +
      fields.map { case (k, v) => s""","$k":$v""" }.mkString +
      table.map(t => s""","schema":${jackson.writeValueAsString(t._2.schema.json)}""")
        .getOrElse("") + "}"
    val out = fs(spark, staged).create(new org.apache.hadoop.fs.Path(s"$staged/state.json"), true)
    try out.write(state.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    swapInDir(spark, staged, gen)
  }

  final class LeaseHeldException(msg: String) extends RuntimeException(msg)

  /** Exclusive WRITER lease for a store's read-modify-write update
    * paths (UpsertStore.update, DqHistory.append): without it, two
    * concurrent writers both read generation N and both publish an
    * N+1 — last rename wins and one batch's rows silently vanish (the
    * applied-ledger only defends against REPLAYS of the same batch,
    * not concurrent distinct batches). Acquisition is an atomic
    * create-no-overwrite of `<dir>/.lease` on the store's Hadoop FS; a
    * concurrent holder raises [[LeaseHeldException]] (callers retry at
    * their cadence — micro-batch sinks just take the next trigger); a
    * lease older than `staleMs` is a crashed writer and is broken
    * once. Readers never consult the lease; it serializes updates
    * only. Released in finally — body failure does not strand it.
    *
    * A caller seeing [[LeaseHeldException]] retries at its own
    * cadence (see the retry loop in the streaming sinks — an uncaught
    * exception in foreachBatch TERMINATES the query, so sinks must
    * retry in-batch rather than "take the next trigger").
    *
    * Stale-lease break is ATOMIC via rename: a waiter that finds the
    * lease older than `staleMs` renames it to a uniquely-suffixed
    * tombstone; on a correct FS exactly ONE of several racing waiters
    * wins that rename (the losers' source path is gone) and only the
    * winner proceeds to re-acquire — two waiters can no longer both
    * break and both enter the critical section, and a waiter can no
    * longer delete a FRESH lease that a faster waiter just created
    * (the round-9 delete-based break could). A body that runs longer
    * than `staleMs` can still be broken mid-write — size `staleMs`
    * above the worst-case update (it bounds crash-recovery latency,
    * nothing else).
    *
    * Atomicity caveat: acquisition is POSIX O_CREAT|O_EXCL on file:
    * URIs (Hadoop's LocalFileSystem create(overwrite=false) is
    * check-then-act and NOT atomic — a concurrency soak caught two
    * simultaneous writers both entering) and the server-side atomic
    * create-no-overwrite on HDFS. Plain S3 (s3a) has neither — on S3
    * back the lease with a conditional-put layer (S3 If-None-Match)
    * or an external lock service, and treat this lease as best-effort
    * double-write protection.
    */
  def withLease[A](spark: SparkSession, dir: String, staleMs: Long = 600000L)(
      body: => A): A = {
    val f = fs(spark, dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    if (!f.exists(root)) f.mkdirs(root)
    val lease = new org.apache.hadoop.fs.Path(s"$dir/.lease")
    // Hadoop's LocalFileSystem.create(overwrite = false) is
    // check-then-act — NOT atomic — so two simultaneous writers could
    // both "create" the lease and both enter the critical section (a
    // concurrency soak caught exactly that: racing commits-table
    // swaps). On file: URIs go through POSIX O_CREAT|O_EXCL
    // (File.createNewFile — genuinely atomic); elsewhere (HDFS) the
    // server-side create-no-overwrite is atomic already.
    val qualified = f.makeQualified(lease)
    def tryAcquire(): Boolean = {
      val scheme = qualified.toUri.getScheme
      if (scheme == null || scheme == "file")
        try new java.io.File(qualified.toUri.getPath).createNewFile()
        catch { case _: java.io.IOException => false }
      else
        try { f.create(lease, false).close(); true }
        catch { case _: java.io.IOException => false }
    }
    if (!tryAcquire()) {
      val stale =
        try System.currentTimeMillis() -
          f.getFileStatus(lease).getModificationTime > staleMs
        catch { case _: java.io.FileNotFoundException => true }
      if (!stale) throw new LeaseHeldException(s"writer lease held on $dir")
      // atomic break: only the waiter whose rename succeeds may proceed
      val tomb = new org.apache.hadoop.fs.Path(
        s"$dir/.lease-broken-${java.util.UUID.randomUUID().toString.take(8)}")
      val won =
        try f.rename(lease, tomb)
        catch { case _: java.io.IOException => false }
      if (!won)
        throw new LeaseHeldException(s"writer lease contended on $dir")
      f.delete(tomb, false)
      if (!tryAcquire())
        throw new LeaseHeldException(s"writer lease contended on $dir")
    }
    try body finally f.delete(lease, false)
  }

  /** Read a small driver-side metadata file (one string), None when
    * absent. Store METADATA (bucket meta, commit logs) is not data —
    * reading it through a Spark job pays scheduler latency per store
    * access; Iceberg/Delta keep such state in small JSON files for the
    * same reason.
    */
  def readSmall(spark: SparkSession, path: String): Option[String] = {
    val f = fs(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        Some(new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8))
      } finally in.close()
    }
  }

  /** Atomically replace a small metadata file: write a staged sibling,
    * then promote. On file: URIs the promote is a POSIX atomic rename
    * (readers see the old or the new content, never neither); on other
    * filesystems it is delete+rename with the same tiny window the
    * generation swaps document. Callers serialize writers via the
    * lease; this protects READERS.
    */
  def writeSmallAtomic(spark: SparkSession, path: String, content: String): Unit = {
    val f = fs(spark, path)
    val tmp = new org.apache.hadoop.fs.Path(
      s"$path-staged-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = f.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val target = f.makeQualified(new org.apache.hadoop.fs.Path(path))
    if (target.toUri.getScheme == "file") {
      java.nio.file.Files.move(
        java.nio.file.Paths.get(f.makeQualified(tmp).toUri.getPath),
        java.nio.file.Paths.get(target.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    } else {
      f.delete(new org.apache.hadoop.fs.Path(path), false)
      require(f.rename(tmp, new org.apache.hadoop.fs.Path(path)),
        s"writeSmallAtomic: cannot promote $tmp")
    }
  }

  private val stagedRe = "^(.*-)?staged-[0-9a-f]{8}$".r

  /** Garbage-collect crash debris under a store root: orphaned
    * `[-]staged-<h8>` writes (a writer died before its swap/promote),
    * stale `<name>-old` retirees whose current generation exists
    * (a swap died between its final delete and nothing — both copies
    * complete), and orphaned `.lease-broken-*` tombstones. NEVER
    * touches an `-old` whose current is missing: that IS the
    * crash-window fallback [[read]] depends on. Recurses into plain
    * subdirectories (bucketed/partitioned stores) but not into kept
    * `-old` retirees. Returns (staged, old) deletion counts; work is
    * O(directory listing), never O(data).
    *
    * Safe against LIVE writers on two fronts: the whole sweep runs
    * under the store writer lease (a concurrent update/publish either
    * holds it — vacuum raises [[LeaseHeldException]] — or will find it
    * held), and staged dirs younger than `minAgeMs` are skipped, so a
    * staged write racing the lease handoff (or a store whose writers
    * do not take the lease) is never deleted mid-flight. `minAgeMs`
    * defaults to 0 — callers vacuuming a store with live writers
    * should pass an age comfortably above their longest staged write.
    */
  def vacuum(spark: SparkSession, dir: String, minAgeMs: Long = 0L): (Int, Int) =
    withLease(spark, dir) {
      val f = fs(spark, dir)
      val cutoff = System.currentTimeMillis() - minAgeMs
      def walk(p: org.apache.hadoop.fs.Path): (Int, Int) = {
        f.listStatus(p)
          .filter(e => !e.isDirectory &&
            (e.getPath.getName.startsWith(".lease-broken-") ||
              (stagedRe.matches(e.getPath.getName) &&
                e.getModificationTime <= cutoff)))
          .foreach(e => f.delete(e.getPath, false))
        val entries = f.listStatus(p).filter(_.isDirectory)
        val names = entries.map(_.getPath.getName).toSet
        var staged = 0
        var old = 0
        entries.foreach { e =>
          val n = e.getPath.getName
          if (stagedRe.matches(n)) {
            if (e.getModificationTime <= cutoff) {
              f.delete(e.getPath, true); staged += 1
            }
          } else if (n.endsWith("-old") && names.contains(n.stripSuffix("-old"))) {
            f.delete(e.getPath, true); old += 1
          } else if (!n.endsWith("-old")) {
            val (s2, o2) = walk(e.getPath)
            staged += s2; old += o2
          }
        }
        (staged, old)
      }
      if (!f.exists(new org.apache.hadoop.fs.Path(dir))) (0, 0)
      else walk(new org.apache.hadoop.fs.Path(dir))
    }
}
