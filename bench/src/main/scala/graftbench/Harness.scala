package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Closed-loop op accounting for the single client thread. Every call
  * through [[op]] is one attempt; a throw is a failure and never a
  * latency sample. Samples are kept only while `timing` is set (the
  * measured window).
  */
final class Recorder(tracer: Tracer) {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Derived latencies that span several ops (freshness, trigger). */
  val derived = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var timing = false
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]

  /** One attempt of `kind`. With `sampled` false it still counts and
    * takes wall time, but gives no latency sample (sub-millisecond no-ops
    * would dominate a geometric mean with their relative jitter).
    */
  def op[A](kind: String, sampled: Boolean = true)(body: => A): Option[A] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = tracer.span("op", kind)(body)
      if (timing && sampled) samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) +=
        (System.nanoTime() - t0) / 1e6
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        errors += s"$kind: ${e.toString.take(300)}"
        None
    }
  }

  def note(kind: String, ms: Double): Unit =
    if (timing) derived.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms

  /** One output check: an attempt that fails when `ok` is false or throws. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val pass = try ok catch {
      case NonFatal(e) => errors += s"check $what: ${e.toString.take(300)}"; false
    }
    if (!pass) {
      failed += 1
      errors += s"check failed: $what"
    }
  }
}

/** A benchmark workload: a repeatable set-up (input generation, store
  * bootstrap, warm-up), a fixed op script for the measured window, and
  * output checks that run outside it.
  */
trait Workload {
  /** Generate inputs and bootstrap stores into `<work>/rep<rep>`; the
    * last call's state is the one the window runs on.
    */
  def setup(rep: Int): Unit
  /** Set-up work done once, on the last set-up's state (timed). */
  def warm(): Unit = ()
  /** The fixed, seeded op script. Called once per window; a traced run
    * calls it a second time, continuing from the state the first left.
    */
  def window(): Unit
  def check(): Unit
  /** User-row bytes submitted during the windows so far. */
  def userBytes: Long = 0L
  /** User rows applied during the windows so far. */
  def userRows: Long = 0L
  /** Directories of the persistent stores the workload writes, with a
    * reader of each one's live contents.
    */
  def stores: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Nil
  /** Workload-specific per-layer values (store shape at the end). */
  def layerState(): Map[String, Double] = Map.empty
}

/** A fixed Spark job that runs no engine code: a hash over a range, one
  * shuffle and an aggregate on every core. Its time tracks how fast the
  * machine runs Spark at the moment, which on a shared host drifts by
  * tens of percent within an hour. Gated times are scaled by
  * [[refMs]] / (the job's median time in the same run), so that they
  * compare the engine across runs instead of the host's load.
  */
object Calibration {
  /** The job's median time on an unloaded 4-core machine. */
  val refMs = 200.0

  def sample(spark: SparkSession, cores: Int, n: Int): Seq[Double] = (1 to n).map { _ =>
    val t0 = System.nanoTime()
    spark.range(0L, 3000000L, 1L, cores)
      .selectExpr("pmod(xxhash64(id, id * 7), 1000) AS g", "id")
      .groupBy("g").agg(org.apache.spark.sql.functions.sum("id"))
      .collect()
    (System.nanoTime() - t0) / 1e6
  }
}

object Jvm {
  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap in use after full collections: the least of three, each after
    * a pause that lets Spark's cleaner drop what the previous one freed.
    */
  def liveHeapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(200)
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)
  }.min

  def load1m(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
}

object Io {
  /** Bytes written through every `file://` Hadoop filesystem in the JVM. */
  @annotation.nowarn("cat=deprecation")
  def bytesWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  def du(path: java.io.File): Long =
    if (!path.exists()) 0L
    else if (path.isFile) path.length()
    else Option(path.listFiles()).toSeq.flatten.map(du).sum

  def countFiles(path: java.io.File): Long =
    if (!path.exists()) 0L
    else if (path.isFile) 1L
    else Option(path.listFiles()).toSeq.flatten.map(countFiles).sum

  def rmrf(path: java.io.File): Unit = {
    if (path.isDirectory) Option(path.listFiles()).toSeq.flatten.foreach(rmrf)
    path.delete(): Unit
  }
}

object Session {
  def start(cores: Int, work: String, traced: Boolean): SparkSession = {
    val fsImpl =
      if (traced) classOf[CountingFileSystem].getName
      else classOf[graft.api.NioLocalFileSystem].getName
    val spark = SparkSession.builder()
      .appName("graft-bench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.fs.file.impl", fsImpl)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
