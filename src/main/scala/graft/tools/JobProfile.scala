package graft.tools

import org.apache.spark.scheduler._

/** Per-JOB wall-clock breakdown of one registry query (optimization
  * triage: WHERE does a 3 s store op spend its time — how many Spark
  * jobs, how long each, how much un-jobbed driver time). Usage:
  *
  *   sbt "runMain graft.tools.JobProfile /root/testdata/sf0.1 key [key...]"
  *
  * Runs each key once cold + once warm; the warm run prints one line
  * per Spark job (duration, #tasks, first stage name) plus the total
  * driver-side gap (wall − Σjobs ≈ planning + FS metadata + sleeps).
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val Array(dir, keys @ _*) = args: @unchecked
    val spark = graft.api.Sessions.minimal(graft.api.Sessions.envCores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try graft.SparkEntry.entry(spark).count() catch { case _: Throwable => }
    @volatile var jobs = List.empty[(Int, Long, Int, String)]
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int, String)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val nTasks = j.stageInfos.map(_.numTasks).sum
        val what = j.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')).getOrElse("?")
        starts.put(j.jobId, (System.nanoTime(), nTasks, what))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(starts.remove(j.jobId)).foreach { case (t0, nTasks, what) =>
          jobs ::= ((j.jobId, System.nanoTime() - t0, nTasks, what))
        }
      }
    }
    keys.foreach { k =>
      try { graft.Registry.byKey(k).query(spark, dir).count(); () }
      catch { case _: Throwable => } // cold pass: JIT + codegen warm
      spark.sparkContext.addSparkListener(listener)
      jobs = Nil
      val t0 = System.nanoTime()
      val n = try graft.Registry.byKey(k).query(spark, dir).count()
        catch { case e: Throwable => println(s"$k FAILED: ${e.getMessage.take(200)}"); -1L }
      val wall = (System.nanoTime() - t0) / 1e9
      // let async job-end events drain
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(listener)
      val js = jobs.reverse
      val jsum = js.map(_._2).sum / 1e9
      println(f"===== $k: wall $wall%.2f s, ${js.size} jobs totalling $jsum%.2f s, driver gap ${wall - jsum}%.2f s ($n rows)")
      js.foreach { case (id, ns, nTasks, what) =>
        println(f"  job $id%3d ${ns / 1e9}%6.3f s $nTasks%4d tasks  $what")
      }
    }
    spark.stop()
  }
}
