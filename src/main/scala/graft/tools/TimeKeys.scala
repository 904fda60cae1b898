package graft.tools

/** Per-key wall-clock probe on an arbitrary table dir — the local
  * triage companion to Bench (which always runs the full headline).
  * Usage:
  *
  *   sbt "runMain graft.tools.TimeKeys /root/testdata/sf0.1 2 key1 key2"
  *
  * Runs each key `reps` times in registry order and prints one PROBE
  * line per run, so warm-up effects and run-to-run variance are both
  * visible (the round-7 lesson: a contended driver run showed 12x on a
  * query whose clean timing was flat). With one key and many reps it is
  * a `jstack` sampling target; its pid is printed after the warm-up.
  */
object TimeKeys {
  def main(args: Array[String]): Unit = {
    val Array(dir, reps, keys @ _*) = args: @unchecked
    val spark = graft.api.Sessions.minimal(graft.api.Sessions.envCores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try graft.SparkEntry.entry(spark).count() catch { case _: Throwable => } // JIT warm
    println(s"LOOPKEY_PID=${ProcessHandle.current().pid()}")
    for (rep <- 1 to reps.toInt; k <- keys) {
      val t0 = System.nanoTime()
      try {
        val n = graft.Registry.byKey(k).query(spark, dir).count()
        println(f"PROBE $k rep$rep: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
      } catch {
        case e: Throwable => println(s"PROBE $k rep$rep FAILED: ${e.getMessage.take(160)}")
      }
    }
    spark.stop()
  }
}
