package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = api.Sessions.minimal(4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}
