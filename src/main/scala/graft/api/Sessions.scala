package graft.api

import org.apache.spark.sql.SparkSession

/** Opinionated session builders: the configuration surface that decides
  * whether the operator library survives 100 TB, collected in one place
  * with the reasoning attached. [[production]] is what a cluster
  * deployment starts from; [[minimal]] is the one minimal local session
  * (the tests, `graft.Verify`, `graft.Bench` and the tools), and
  * [[local]] is the production knobs on top of it.
  */
object Sessions {

  /** The mains' core count: `SPARK_GRAFT_CPUS`, 4 when unset. */
  def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  /** The minimal local session: `local[cores]`, one shuffle partition
    * per core, UTC, no UI, and local-only I/O plumbing — `file://`
    * without `.crc` shadow files and without Hadoop's
    * fork-a-`/bin/chmod`-per-file permission fallback (see
    * [[NioLocalFileSystem]]). A cluster run never takes this path; its
    * data FS is HDFS/S3.
    */
  def minimal(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)

  /** Production defaults for a large cluster run.
    *
    * - AQE on with partition coalescing and skew-join splitting: runtime
    *   statistics re-plan what no static estimate gets right at 100 TB —
    *   post-shuffle partition sizing and the one key that holds half the
    *   corpus.
    * - `shufflePartitions` is the static pre-AQE parallelism; size it at
    *   ~2-3x total executor cores. AQE coalesces down from there, so
    *   erring high costs little; erring low starves the cluster.
    * - 256 MiB scan partitions: big enough to amortize task overhead on
    *   columnar scans, small enough that a task retry is cheap.
    * - 64 MiB broadcast threshold: dimensions (region/nation/customer
    *   slices, centroid tables, vocab tables) should broadcast; fact
    *   tables never fit anyway. AQE upgrades shuffle joins to broadcast
    *   when runtime sizes allow.
    * - zstd parquet output: ~10-20% more write CPU for materially
    *   smaller cold storage than snappy; scans stay vectorized.
    * - UTC session timezone: the engine's determinism contract assumes
    *   it (every oracle comparison runs under UTC).
    * - CBO + join reorder ON: AQE only sees sizes after a stage runs;
    *   catalog column stats (installed by [[Stats.analyze]]'s one-scan
    *   job) let the optimizer pick join sides and multi-join order
    *   BEFORE the first shuffle, where the 100-TB mistakes happen.
    *   Without installed stats these flags change nothing, so they are
    *   safe-on by default.
    */
  def production(
      appName: String,
      shufflePartitions: Int = 2048): SparkSession.Builder =
    SparkSession.builder().appName(appName).config(productionKnobs(shufflePartitions))

  private def productionKnobs(shufflePartitions: Int): Map[String, Any] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
    "spark.sql.files.maxPartitionBytes" -> (256L * 1024 * 1024).toString,
    "spark.sql.autoBroadcastJoinThreshold" -> (64L * 1024 * 1024).toString,
    "spark.sql.parquet.compression.codec" -> "zstd",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.cbo.enabled" -> "true",
    "spark.sql.cbo.joinReorder.enabled" -> "true",
    "spark.serializer" -> "org.apache.spark.serializer.KryoSerializer")

  /** The production knobs scaled for a laptop/CI smoke run, on top of
    * [[minimal]].
    */
  def local(appName: String, cores: Int = 4): SparkSession.Builder =
    minimal(cores).appName(appName).config(productionKnobs(cores))
}
