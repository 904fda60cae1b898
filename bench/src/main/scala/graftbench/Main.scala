package graftbench

import scala.collection.mutable

/** Benchmark entry point; `run.py` builds the classpath and calls it.
  *
  *   Main --workload <query_mix|store_churn> --seed <n>
  *        --seconds <s> --trace <0|1> --work <dir> --expected <dir>
  *        --result <file> [--record]
  *
  * One client thread drives one local session. Set-up runs [[setupReps]]
  * times and reports its median; the window then runs a fixed, seeded op
  * script sized from `--seconds`. With `--trace 1` a second, traced
  * window follows and its per-layer metrics are reported instead.
  */
object Main {

  val setupReps = 3

  final case class Args(
      workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, expected: String, result: String, record: Boolean)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", need("--work"), need("--expected"), need("--result"),
      argv.contains("--record"))
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val load0 = Jvm.load1m()
    val t0 = System.nanoTime()
    val spark = Session.start(cores, a.work, a.trace)
    val sessionS = secs(t0)
    val tracer = new Tracer(spark)
    val rec = new Recorder(tracer)
    // passes and rounds last about 5 s and 8 s at HEAD on 4 cores. At
    // least three passes, so that query_p90_ms has 27 samples, and two
    // rounds, so that every round op type has two window samples.
    val work = s"${a.work}/data"
    val w: Workload = a.workload match {
      case "query_mix" =>
        new QueryMix(spark, rec, tracer, work, a.seed,
          passes = math.max(3, math.round(a.seconds / 5.0).toInt),
          s"${a.expected}/query_mix.json", a.record)
      case "store_churn" =>
        new StoreChurn(spark, rec, tracer, work, a.seed,
          rounds = math.max(2, math.round(a.seconds / 8.0).toInt))
      case other => sys.error(s"unknown workload $other")
    }

    val reps = (0 until setupReps).map { i =>
      val t = System.nanoTime(); w.setup(i); secs(t)
    }
    (0 until setupReps - 1).foreach(i => Io.rmrf(new java.io.File(s"${a.work}/data/rep$i")))
    val tWarm = System.nanoTime()
    w.warm()
    val warmS = secs(tWarm)
    val setupS = sessionS + Stats.median(reps) + warmS
    // a session of its own, so that none of the rules and strategies the
    // engine registers on the benchmark's session plan the job; the first
    // execution compiles it and is not a sample
    val calSpark = spark.newSession()
    val cal0 = Calibration.sample(calSpark, cores, 5).tail

    val bytes0 = Io.bytesWritten()
    rec.timing = true
    val tw = System.nanoTime()
    w.window()
    val wallS = secs(tw)
    rec.timing = false
    val bytesWritten = Io.bytesWritten() - bytes0
    val userBytes = w.userBytes
    val userRows = w.userRows
    val heapMb = Jvm.liveHeapMb()
    val calMs = Stats.median(cal0 ++ Calibration.sample(calSpark, cores, 4))
    val scale = Calibration.refMs / calMs

    val all = rec.samples.values.flatten.toSeq
    val medians = rec.samples.map { case (k, xs) => k -> Stats.median(xs.toSeq) }
    def q(kinds: Seq[String], p: Double): Option[Double] = {
      val xs = kinds.flatMap(k => rec.samples.get(k).orElse(rec.derived.get(k)).toSeq.flatten)
      if (xs.isEmpty) None else Some(Stats.quantile(xs, p))
    }

    // times as measured, then scaled to the calibration job's reference speed
    val raw = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "wall_s" -> (wallS, "s"),
      "query_gm_ms" -> (Stats.geomean(medians.values.toSeq), "ms"),
      "query_p90_ms" -> (Stats.quantile(all, 0.9), "ms"))
    val e2e = raw.map { case (k, (v, u)) => k -> (v * scale, u) } +=
      ("heap_live_mb" -> (heapMb, "MB"))
    // metrics that apply to some workloads only: printed, not in the JSON
    val extra = mutable.LinkedHashMap.empty[String, (Double, String)]
    val commits = Seq("commit_api", "commit_merge")
    q(commits, 0.5).foreach(v => extra("commit_p50_ms") = (v, "ms"))
    q(commits, 0.9).foreach(v => extra("commit_p90_ms") = (v, "ms"))
    q(Seq("fresh"), 0.5).foreach(v => extra("fresh_p50_ms") = (v, "ms"))
    q(Seq("trigger"), 0.5).foreach(v => extra("trigger_p50_ms") = (v, "ms"))
    if (userRows > 0) extra("rows_per_s") = (userRows / wallS, "rows/s")
    if (w.stores.nonEmpty) {
      val onDisk = w.stores.map { case (d, _) => Io.du(new java.io.File(d)) }.sum
      val snap = s"${a.work}/snapshot"
      val live = w.stores.zipWithIndex.map { case ((_, read), i) =>
        read().coalesce(1).write.parquet(s"$snap/$i")
        Io.du(new java.io.File(s"$snap/$i"))
      }.sum
      Io.rmrf(new java.io.File(snap))
      extra("space_amp") = (onDisk.toDouble / live, "ratio")
    }
    if (userBytes > 0) extra("write_amp") = (bytesWritten.toDouble / userBytes, "ratio")

    var layer = Map.empty[String, Double]
    var tracedWall = 0.0
    val probe = new Probe
    if (a.trace) {
      spark.sparkContext.addSparkListener(probe)
      spark.streams.addListener(probe.streams)
      val c0 = Layers.counters()
      FsCounters.on = true
      tracer.on = true
      val tt = System.nanoTime()
      w.window()
      tracedWall = secs(tt)
      tracer.on = false
      FsCounters.on = false
      val c1 = Layers.counters()
      org.apache.spark.BenchBridge.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(probe)
      spark.streams.removeListener(probe.streams)
      layer = Layers.compute(tracer, probe, c0, c1, cores, w.layerState()) ++
        Layers.kernels(spark, cores, rec)
    }

    val tCheck = System.nanoTime()
    w.check()
    val checkS = secs(tCheck)
    extra("fail_ratio") = (rec.failed.toDouble / math.max(1L, rec.attempted), "ratio")
    val load1 = Jvm.load1m()

    def line(s: String): Unit = println(s)
    line(s"== ${a.workload} seed=${a.seed} cpus=$cores load1m=$load0->$load1 " +
      s"spark=${spark.version} jvm=${System.getProperty("java.version")}")
    line(s"   set-up reps (s): ${reps.map(r => f"$r%.2f").mkString(" ")}, session start " +
      f"$sessionS%.2f s, warm $warmS%.2f s, checks $checkS%.2f s")
    line(f"   calibration job $calMs%.1f ms (reference ${Calibration.refMs}%.0f ms): " +
      f"gated times scaled by $scale%.4f")
    e2e.foreach { case (k, (v, u)) =>
      line(f"   $k%-16s $v%14.4f $u" + raw.get(k).fold("")(r => f"   (as measured ${r._1}%.4f)"))
    }
    extra.foreach { case (k, (v, u)) => line(f"   $k%-16s $v%14.4f $u") }
    line("   op medians (ms): " + medians.map { case (k, v) =>
      f"$k=$v%.1f(n=${rec.samples(k).size})" }.mkString(" "))
    if (a.trace) {
      line(f"   traced window $tracedWall%.3f s vs untraced $wallS%.3f s: " +
        f"tracing overhead ${tracedWall - wallS}%.3f s")
      line("   self time per layer (ms per op):")
      Layers.selfTable(tracer, probe).foreach(line)
      Layers.metrics.foreach { case (k, u) => line(f"   $k%-38s ${layer(k)}%14.4f $u") }
    }
    rec.errors.take(20).foreach(e => line(s"   ERROR $e"))

    val metrics =
      if (a.trace) Layers.metrics.map { case (k, u) => k -> (layer(k), u) }
      else e2e.toSeq
    val meta = Seq(
      "cpus" -> cores.toString, "load1m_before" -> num(load0), "load1m_after" -> num(load1),
      "seed" -> a.seed.toString,
      "spark" -> s""""${spark.version}"""",
      "jvm" -> s""""${System.getProperty("java.version")}"""",
      "sf" -> s""""${a.workload}: generated in ${a.work}/data"""",
      "set_up_reps_s" -> reps.map(num).mkString("[", ",", "]"),
      "tracing_overhead_s" -> num(if (a.trace) tracedWall - wallS else 0.0),
      "calibration_ms" -> num(calMs),
      "as_measured" -> raw.map { case (k, (v, u)) =>
        s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}"),
      "samples_ms" -> rec.samples.map { case (k, xs) =>
        s""""$k":${xs.map(x => num(math.rint(x * 10) / 10)).mkString("[", ",", "]")}""" }
        .mkString("{", ",", "}"),
      "extra" -> extra.map { case (k, (v, u)) =>
        s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}"))
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val json = s"""{"correct":${rec.failed == 0},"attempted":${rec.attempted},""" +
      s""""failed":${rec.failed},"metrics":""" +
      metrics.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
        .mkString("{", ",", "}") + "}"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.result),
      s"""{"result":$json,"meta":$meta}""" + "\n")
    spark.stop()
  }
}
