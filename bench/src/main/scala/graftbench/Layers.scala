package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-layer metrics of a traced window. Times and counts are means per
  * op execution unless the name says per call (store, matview,
  * sessionstore, ledger: per call of that kind; streaming: per trigger).
  */
object Layers {

  /** Every per-layer metric with its unit, in report order. */
  val metrics: Seq[(String, String)] = Seq(
    "ops.build_ms" -> "ms", "ops.plan_ms" -> "ms", "ops.action_ms" -> "ms",
    "codegen.compile_ms" -> "ms", "codegen.classes" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.job_wall_ms" -> "ms", "spark.driver_gap_ms" -> "ms",
    "spark.task_run_ms" -> "ms", "spark.sched_delay_ms" -> "ms",
    "spark.core_util" -> "ratio", "spark.shuffle_read_mb" -> "MB",
    "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.files_written" -> "count", "spark.bytes_written_mb" -> "MB",
    "functions.cosine.rows_per_s" -> "rows/s",
    "functions.shingle_minhash.rows_per_s" -> "rows/s",
    "functions.topk.rows_per_s" -> "rows/s", "functions.kmv.rows_per_s" -> "rows/s",
    "functions.bloom.rows_per_s" -> "rows/s", "plans.asof.rows_per_s" -> "rows/s",
    "store.commit_ms" -> "ms", "store.commit_jobs" -> "count",
    "store.files_per_commit" -> "count", "store.replay_ms" -> "ms",
    "store.replay_jobs" -> "count", "store.lookup_ms" -> "ms",
    "store.time_travel_ms" -> "ms", "store.changes_ms" -> "ms",
    "store.live_files" -> "count", "store.gens_per_bucket" -> "count",
    "matview.refresh_ms" -> "ms", "matview.refresh_jobs" -> "count",
    "sessionstore.update_ms" -> "ms", "sessionstore.replay_jobs" -> "count",
    "ledger.update_ms" -> "ms", "ledger.replay_jobs" -> "count",
    "fs.list_calls" -> "count", "fs.status_calls" -> "count",
    "fs.open_calls" -> "count", "fs.create_calls" -> "count",
    "fs.rename_calls" -> "count", "fs.delete_calls" -> "count", "fs.ms" -> "ms",
    "streaming.start_ms" -> "ms", "streaming.latest_offset_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.commit_offsets_ms" -> "ms",
    "streaming.trigger_ms" -> "ms",
    "jvm.gc_ms" -> "ms")

  /** Counters read before and after the traced window. */
  final case class Counters(gcMs: Long, codegenNs: Long, codegenClasses: Long)

  def counters(): Counters = Counters(Jvm.gcMs(),
    org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  def compute(
      tracer: Tracer, probe: Probe, c0: Counters, c1: Counters, cores: Int,
      state: Map[String, Double]): Map[String, Double] = {
    val spans = tracer.spans.toSeq
    val ops = spans.filter(_.layer == "op")
    val n = math.max(1, ops.size).toDouble
    val kids = tracer.children
    def subtree(s: Span): Set[Int] =
      kids.getOrElse(s.id, Nil).flatMap(subtree).toSet + s.id
    def of(layer: String, name: String) = spans.filter(s => s.layer == layer && s.name == name)
    def meanMs(layer: String, name: String) = Stats.mean(of(layer, name).map(_.ms))
    def jobsPer(layer: String, name: String) =
      Stats.mean(of(layer, name).map(s => probe.jobsOf(subtree(s)).size.toDouble))

    val jobs = opJobs(tracer, probe)
    val union = jobUnion(tracer, probe)
    val unions = ops.map(o => (o, union(o.id)))
    val jobWall = unions.map(_._2).sum
    val taskRun = jobs.map(_.runMs).sum.toDouble
    val mb = 1024.0 * 1024.0
    def fsTotal(i: Int) = ops.map(_.fs(i)).sum.toDouble
    val progress = {
      val it = probe.progress.iterator()
      val b = Seq.newBuilder[Map[String, Long]]
      while (it.hasNext) b += it.next()
      b.result()
    }
    def prog(k: String) = Stats.mean(progress.map(_.getOrElse(k, 0L).toDouble))
    val commits = of("store", "commit")

    Map(
      "ops.build_ms" -> meanMs("ops", "build"),
      "ops.plan_ms" -> meanMs("ops", "plan"),
      "ops.action_ms" -> meanMs("ops", "action"),
      "codegen.compile_ms" -> (c1.codegenNs - c0.codegenNs) / 1e6 / n,
      "codegen.classes" -> (c1.codegenClasses - c0.codegenClasses) / n,
      "spark.jobs" -> jobs.size / n,
      "spark.stages" -> jobs.map(_.nStages).sum / n,
      "spark.tasks" -> jobs.map(_.tasks).sum / n,
      "spark.job_wall_ms" -> jobWall / n,
      "spark.driver_gap_ms" -> unions.map { case (o, u) => (o.endMs - o.startMs) - u }.sum / n,
      "spark.task_run_ms" -> taskRun / n,
      "spark.sched_delay_ms" -> jobs.map(_.schedMs).sum / n,
      "spark.core_util" -> (if (jobWall > 0) taskRun / (jobWall * cores) else 0.0),
      "spark.shuffle_read_mb" -> jobs.map(_.shuffleRead).sum / mb / n,
      "spark.shuffle_write_mb" -> jobs.map(_.shuffleWrite).sum / mb / n,
      "spark.spill_mb" -> jobs.map(_.spill).sum / mb / n,
      "spark.files_written" -> fsTotal(4) / n,
      "spark.bytes_written_mb" -> jobs.map(_.bytesWritten).sum / mb / n,
      "store.commit_ms" -> Stats.mean(commits.map(_.ms)),
      "store.commit_jobs" -> jobsPer("store", "commit"),
      "store.files_per_commit" -> Stats.mean(commits.map(_.fs(3).toDouble)),
      "store.replay_ms" -> meanMs("store", "replay"),
      "store.replay_jobs" -> jobsPer("store", "replay"),
      "store.lookup_ms" -> meanMs("store", "lookup"),
      "store.time_travel_ms" -> meanMs("store", "time_travel"),
      "store.changes_ms" -> meanMs("store", "changes"),
      "matview.refresh_ms" -> meanMs("matview", "refresh"),
      "matview.refresh_jobs" -> jobsPer("matview", "refresh"),
      "sessionstore.update_ms" -> meanMs("sessionstore", "update"),
      "sessionstore.replay_jobs" -> jobsPer("sessionstore", "replay"),
      "ledger.update_ms" -> meanMs("ledger", "update"),
      "ledger.replay_jobs" -> jobsPer("ledger", "replay"),
      "fs.list_calls" -> fsTotal(0) / n,
      "fs.status_calls" -> fsTotal(1) / n,
      "fs.open_calls" -> fsTotal(2) / n,
      "fs.create_calls" -> fsTotal(3) / n,
      "fs.rename_calls" -> fsTotal(5) / n,
      "fs.delete_calls" -> fsTotal(6) / n,
      "fs.ms" -> fsTotal(7) / 1e6 / n,
      "streaming.start_ms" -> meanMs("streaming", "start"),
      "streaming.latest_offset_ms" -> prog("latestOffset"),
      "streaming.query_planning_ms" -> prog("queryPlanning"),
      "streaming.add_batch_ms" -> prog("addBatch"),
      "streaming.wal_commit_ms" -> prog("walCommit"),
      "streaming.commit_offsets_ms" -> prog("commitOffsets"),
      "streaming.trigger_ms" -> prog("triggerExecution"),
      "jvm.gc_ms" -> (c1.gcMs - c0.gcMs) / n,
      "store.live_files" -> state.getOrElse("store.live_files", 0.0),
      "store.gens_per_bucket" -> state.getOrElse("store.gens_per_bucket", 0.0))
  }

  /** Jobs submitted under an op span or any span inside it. */
  private def opJobs(tracer: Tracer, probe: Probe): Seq[JobRec] = {
    val spans = tracer.spans
    probe.jobs.values().toArray(Array.empty[JobRec]).toSeq
      .filter(j => j.span >= 0 && j.span < spans.size && spans(spans(j.span).op).layer == "op")
  }

  /** Per op span id: the union of its jobs' intervals, clipped to the op's
    * own interval and with overlaps counted once, so that the op's wall
    * minus it (the driver gap) can never be negative.
    */
  private def jobUnion(tracer: Tracer, probe: Probe): Map[Int, Double] = {
    val spans = tracer.spans
    val byOp = opJobs(tracer, probe).groupBy(j => spans(j.span).op)
    spans.iterator.filter(_.layer == "op").map { o =>
      o.id -> Stats.unionLength(byOp.getOrElse(o.id, Nil).map { j =>
        val end = if (j.endMs < 0) o.endMs else j.endMs
        (math.max(j.startMs, o.startMs).toDouble, math.min(end, o.endMs).toDouble)
      })
    }.toMap
  }

  /** Self time per layer for each op kind: a span's duration minus the
    * time its children cover, summed per layer and averaged per op.
    * Because the client is single-threaded and children nest inside
    * their parent, the layer self times of an op add up to its wall time.
    */
  def selfTable(tracer: Tracer, probe: Probe): Seq[String] = {
    val spans = tracer.spans.toSeq
    val union = jobUnion(tracer, probe)
    val byOp = spans.groupBy(_.op)
    val ops = spans.filter(_.layer == "op")
    ops.groupBy(_.name).toSeq.sortBy(_._1).map { case (kind, os) =>
      val wall = Stats.mean(os.map(_.ms))
      val layers = os.flatMap(o => byOp(o.id).map(s => s.layer -> tracer.selfMs(s)))
        .groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).sum / os.size }
      val accounted = layers.values.sum
      val inJobs = Stats.mean(os.map(o => union(o.id)))
      f"  $kind%-24s n=${os.size}%3d wall=$wall%8.1f ms  in jobs=$inJobs%8.1f  self: " +
        layers.toSeq.sortBy(-_._2).map { case (l, v) => f"$l=$v%.1f" }.mkString(" ") +
        f"  (accounted ${100 * accounted / wall}%.1f%%)"
    }
  }

  // ------------------------------------------------------------ kernels

  /** Median rows/s of `reps` executions of a count over `df`; a failure
    * counts as a failed attempt and reports 0.
    */
  private def rate(rec: Recorder, rows: Long, reps: Int = 3)(df: => DataFrame): Double =
    rec.op("kernel") {
      val d = df
      d.count() // plan and compile once before timing
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        d.count()
        (System.nanoTime() - t0) / 1e9
      }
      rows / Stats.median(ts)
    }.getOrElse(0.0)

  /** Rows/s of each native expression, aggregator and the as-of plan,
    * each on generated in-memory rows. Each query's output feeds a filter,
    * so that the count cannot prune the piece it times.
    */
  def kernels(spark: SparkSession, cores: Int, rec: Recorder): Map[String, Double] = {
    import spark.implicits._
    graft.functions.CosineSimilarity.register(spark)
    graft.functions.ShingleHashes.register(spark)
    graft.functions.BloomFunctions.register(spark)
    val rnd = new scala.util.Random(7)
    val nVec = 20000
    val vecs = spark.createDataset((0 until nVec).map(_ =>
        (Array.fill(64)(rnd.nextGaussian().toFloat), Array.fill(64)(rnd.nextGaussian().toFloat))))
      .toDF("a", "b").repartition(cores).cache()
    val nDoc = 10000
    val docs = spark.createDataset((0 until nDoc).map(_ => Data.text(rnd)))
      .toDF("text").repartition(cores).cache()
    val nRange = 1000000L
    val range = spark.range(0, nRange, 1, cores)
    val nAsof = 200000L
    val left = spark.range(0, nAsof, 1, cores)
      .select((col("id") % 1000).as("k"), (col("id") * 7).as("lt"), col("id").as("lid"))
    val right = spark.range(0, nAsof, 1, cores)
      .select((col("id") % 1000).as("k"), (col("id") * 7 + 3).as("rt"), col("id").as("rid"))
    try Map(
      "functions.cosine.rows_per_s" -> rate(rec, nVec)(
        vecs.where(expr("cosine_sim(a, b) > 2.0"))),
      "functions.shingle_minhash.rows_per_s" -> rate(rec, nDoc)(
        docs.where(expr("element_at(minhash_sig(shingle_hashes(text)), 1) < 0"))),
      "functions.topk.rows_per_s" -> rate(rec, nRange)(
        range.groupBy((col("id") % 1000).as("g"))
          .agg(graft.functions.TopKAggregator.topK(3)(
            (col("id") * 2654435761L % 1000003).cast("double"), col("id")).as("t"))
          .where(xxhash64(col("t")) === 0L)),
      "functions.kmv.rows_per_s" -> rate(rec, nRange)(
        range.groupBy((col("id") % 10).as("g"))
          .agg(graft.functions.KmvAggregator.kmv(64)(xxhash64(col("id"))).as("m"))
          .where(xxhash64(col("m")) === 0L)),
      "functions.bloom.rows_per_s" -> rate(rec, nRange) {
        range.createOrReplaceTempView("bench_range")
        spark.sql("SELECT id FROM bench_range WHERE bloom_might_contain(" +
          "(SELECT bloom_agg(xxhash64(id)) FROM bench_range WHERE id % 2 = 0), xxhash64(id))")
      },
      "plans.asof.rows_per_s" -> rate(rec, nAsof)(
        graft.plans.AsOf.join(left, right, Seq("k"), leftTs = "lt", rightTs = "rt",
          payload = Seq("rid"), tiebreak = Seq("rid"))))
    finally { vecs.unpersist(); docs.unpersist() }
  }
}
