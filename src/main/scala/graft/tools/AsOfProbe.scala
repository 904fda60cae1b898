package graft.tools

import graft.plans.AsOf
import org.apache.spark.sql.functions._

/** Head-to-head of the custom as-of merge exec vs the union+window
  * emulation on the 10x events corpus (~1M rows) — the measurement
  * behind PLANS.md's as-of section. Usage:
  *
  *   sbt "runMain graft.tools.AsOfProbe"
  *
  * (Generates target/tmp/sfbig via ScaleProbe's amplification if absent.)
  */
object AsOfProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.api.Sessions.minimal(graft.api.Sessions.envCores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    val big = "target/tmp/sfbig"
    require(new java.io.File(s"$big/events.parquet").exists(),
      "run graft.tools.ScaleProbe once to build target/tmp/sfbig")
    val ev0 = spark.read.parquet(s"$big/events.parquet")
    // sfbig may predate or postdate the generator's nanos→micros switch
    val ev = ev0.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        ev0.withColumn("ts", expr("timestamp_micros(CAST(ts / 1000 AS BIGINT))"))
      case _ => ev0
    }
    val clicks = ev.where("event_type = 'click'")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
    val buys = ev.where("event_type = 'purchase'")
      .select(col("user_id"), col("event_id").as("buy_id"), col("ts").as("buy_ts"))

    def time(tag: String)(f: => Long): Unit = {
      (1 to 3).foreach { i =>
        val t0 = System.nanoTime()
        val n = f
        println(f"ASOF $tag run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s (sum=$n)")
      }
    }

    time("native-backward") {
      AsOf.join(clicks, buys, Seq("user_id"), "click_ts", "buy_ts",
        payload = Seq("buy_id"), tiebreak = Seq("buy_id"))
        .agg(sum("buy_id")).head.getLong(0)
    }
    time("native-forward") {
      AsOf.join(clicks, buys, Seq("user_id"), "click_ts", "buy_ts",
        payload = Seq("buy_id"), tiebreak = Seq("buy_id"), direction = "forward")
        .agg(sum("buy_id")).head.getLong(0)
    }
    time("emulation-backward") {
      graft.ops.Joins.asofJoin(clicks, buys, "user_id", "click_ts", "buy_ts",
        payload = Seq("buy_id"), tiebreak = "buy_id")
        .agg(sum("__match.buy_id")).head.getLong(0)
    }

    // synthetic 8M/4M case — large enough that per-row merge cost, not
    // stage-scheduling constants, decides the comparison
    val bigL = spark.range(8L * 1000 * 1000).select(
      col("id").as("click_id"), pmod(col("id"), lit(200000L)).as("user_id"),
      expr("timestamp_micros(1700000000000000 + (id * 2654435761) % 86400000000)").as("click_ts"))
    val bigR = spark.range(4L * 1000 * 1000).select(
      pmod(col("id"), lit(200000L)).as("user_id"), col("id").as("buy_id"),
      expr("timestamp_micros(1700000000000000 + (id * 1327217873) % 86400000000)").as("buy_ts"))
    time("native-backward-8M") {
      AsOf.join(bigL, bigR, Seq("user_id"), "click_ts", "buy_ts",
        payload = Seq("buy_id"), tiebreak = Seq("buy_id"))
        .agg(sum("buy_id")).head.getLong(0)
    }
    time("emulation-backward-8M") {
      graft.ops.Joins.asofJoin(bigL, bigR, "user_id", "click_ts", "buy_ts",
        payload = Seq("buy_id"), tiebreak = "buy_id")
        .agg(sum("__match.buy_id")).head.getLong(0)
    }

    // the same 8M/4M merge with a VARIABLE-WIDTH payload — exercises the
    // carried-match copyFrom path (r4 verdict #8: the old per-consumed-
    // match UnsafeRow.copy() allocation sat exactly here)
    val bigRS = bigR.withColumn("tag",
      concat(lit("tag-"), col("buy_id"), lit("-"), md5(col("buy_id").cast("string"))))
    time("native-backward-8M-strpay") {
      AsOf.join(bigL, bigRS, Seq("user_id"), "click_ts", "buy_ts",
        payload = Seq("buy_id", "tag"), tiebreak = Seq("buy_id"))
        .agg(sum(length(col("tag")))).head.getLong(0)
    }
    time("emulation-backward-8M-strpay") {
      graft.ops.Joins.asofJoin(bigL, bigRS, "user_id", "click_ts", "buy_ts",
        payload = Seq("buy_id", "tag"), tiebreak = "buy_id")
        .agg(sum(length(col("__match.tag")))).head.getLong(0)
    }
    spark.stop()
  }
}
