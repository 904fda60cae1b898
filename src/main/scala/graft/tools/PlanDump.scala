package graft.tools

/** Dump `explain("formatted")` for selected registry queries to stdout
  * (source material for PLANS.md). Usage:
  *
  *   sbt "runMain graft.tools.PlanDump key1 key2 ..."
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = graft.api.Sessions.minimal(graft.api.Sessions.envCores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    args.foreach { k =>
      println(s"===== $k =====")
      graft.Registry.byKey(k).query(spark, sf).explain("formatted")
    }
    spark.stop()
  }
}
