package graft

import graft.streaming.Streams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

case class Ev(user_id: Long, event_id: Long, ts: java.sql.Timestamp,
    event_type: String, value: Double)

case class Doc(doc_id: Long, text: String)

case class EmbRow(vec_id: Long, embedding: Array[Float], label: Int)

/** §2-E parity: each Structured Streaming op over a MemoryStream must
  * equal its batch-equivalent query on the same rows (SURVEY.md §5.4).
  */
class StreamingParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def mkEvents(n: Int): Seq[Ev] = {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    (1 to n).map { i =>
      Ev(i % 7, i.toLong, new java.sql.Timestamp(t0 + (i * 193 % 7200) * 1000L),
        if (i % 3 == 0) "click" else "view", i * 0.5)
    }
  }

  private def runStream[T](events: Seq[Ev], mode: OutputMode)(
      build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(events)
    val name = s"out_${System.nanoTime()}"
    val q = build(mem.toDF()).writeStream.outputMode(mode)
      .format("memory").queryName(name).start()
    q.processAllAvailable(); q.stop()
    spark.table(name)
  }

  test("tumbling window: stream == batch date_trunc counts") {
    val events = mkEvents(200)
    val got = runStream(events, OutputMode.Complete())(Streams.tumbling)
      .select(col("bucket"), col("n_events")).as[(java.sql.Timestamp, Long)].collect().toSet
    val want = events.toDF()
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("n_events"))
      .as[(java.sql.Timestamp, Long)].collect().toSet
    assert(got == want)
  }

  test("sliding window: stream == batch 4-offset explode") {
    val events = mkEvents(150)
    val got = runStream(events, OutputMode.Complete())(Streams.sliding)
      .select(col("w_start"), col("n_events")).as[(java.sql.Timestamp, Long)].collect().toSet
    val want = events.toDF()
      .select(col("ts"), explode(expr("array(0,1,2,3)")).as("k"))
      .withColumn("w_start", expr(
        "date_trunc('hour', ts) + make_interval(0,0,0,0,0,(minute(ts) div 15)*15 - k*15,0)"))
      .groupBy("w_start").agg(count(lit(1)).as("n_events"))
      .as[(java.sql.Timestamp, Long)].collect().toSet
    assert(got == want)
  }

  test("session window: stream == batch window-trick") {
    val events = mkEvents(120)
    val got = runStream(events, OutputMode.Complete())(Streams.sessions)
      .select(col("user_id"), col("session_start"), col("n_events"))
      .as[(Long, java.sql.Timestamp, Long)].collect().toSet
    val want = graft.ops.StreamingOps.sessionizeBatch(events.toDF())
      .groupBy("user_id", "session_id")
      .agg(min("ts").as("session_start"), count(lit(1)).as("n_events"))
      .select("user_id", "session_start", "n_events")
      .as[(Long, java.sql.Timestamp, Long)].collect().toSet
    assert(got == want)
  }

  test("dynamic-gap session window: stream == batch merge semantics") {
    val events = mkEvents(160)
    val gapExpr = expr(
      "CASE WHEN event_type = 'view' THEN '5 minutes' ELSE '15 minutes' END")
    def sessions(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(session_window(col("ts"), gapExpr).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"), col("n_events"))
    val got = runStream(events, OutputMode.Complete())(df =>
        sessions(df.withWatermark("ts", "10 minutes")))
      .as[(Long, java.sql.Timestamp, Long)].collect().toSet
    val want = sessions(events.toDF())
      .as[(Long, java.sql.Timestamp, Long)].collect().toSet
    assert(got == want && got.size > events.map(_.user_id).distinct.size,
      "multiple sessions per user must appear")
  }

  test("streaming dedupe: key set == batch distinct keys") {
    val events = mkEvents(100)
    val got = runStream(events, OutputMode.Append())(Streams.dedupFirstSeen)
      .select("user_id", "event_type").as[(Long, String)].collect()
    val want = events.map(e => (e.user_id, e.event_type)).toSet
    assert(got.length == want.size && got.toSet == want)
  }

  test("windowed top-k: stream == batch per-hour ranked counts") {
    val events = mkEvents(200)
    val got = runStream(events, OutputMode.Update())(df =>
        Streams.topkWindowed(df).toDF())
      .select("bucket_ms", "user_id", "n_ev", "rn")
      .as[(Long, Long, Long, Int)].collect().toSet
    val want = events.toDF()
      .select(unix_millis(date_trunc("hour", col("ts"))).as("bucket_ms"), col("user_id"))
      .groupBy("bucket_ms", "user_id").agg(count(lit(1)).as("n_ev"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("bucket_ms")
          .orderBy(desc("n_ev"), col("user_id"))))
      .where("rn <= 3")
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(got == want)
  }

  test("freshness watermarks: stream == batch per-type max/count, lag derivable") {
    val events = mkEvents(180)
    val table = runStream(events, OutputMode.Complete())(Streams.freshnessWatermarks)
    val got = table
      .crossJoin(broadcast(table.agg(max("max_ts").as("global_max"))))
      .select(col("event_type"), col("max_ts"), col("n_events"),
        expr("unix_micros(global_max) - unix_micros(max_ts)").as("lag_us"))
      .as[(String, java.sql.Timestamp, Long, Long)].collect().toSet
    val batch = events.toDF().groupBy("event_type")
      .agg(max("ts").as("max_ts"), count(lit(1)).as("n_events"))
    val want = batch
      .crossJoin(broadcast(batch.agg(max("max_ts").as("global_max"))))
      .select(col("event_type"), col("max_ts"), col("n_events"),
        expr("unix_micros(global_max) - unix_micros(max_ts)").as("lag_us"))
      .as[(String, java.sql.Timestamp, Long, Long)].collect().toSet
    assert(got == want && got.exists(_._4 > 0))
  }

  test("stream-stream interval join == batch interval join") {
    implicit val ctx = spark.sqlContext
    val events = mkEvents(150)
    val clicks = events.filter(_.event_type == "click")
    val buys = events.filter(_.event_type == "view")
      .map(e => e.copy(event_type = "purchase"))
    val mc = MemoryStream[Ev]; val mp = MemoryStream[Ev]
    mc.addData(clicks); mp.addData(buys)
    val name = s"ssj_${System.nanoTime()}"
    val q = Streams.clickPurchaseJoin(mc.toDF(), mp.toDF())
      .writeStream.outputMode(OutputMode.Append()).format("memory").queryName(name).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table(name).select("click_id", "buy_id")
      .as[(Long, Long)].collect().toSet
    val want = (for {
      c <- clicks; b <- buys
      if b.user_id == c.user_id &&
        b.ts.getTime >= c.ts.getTime - 3600000L && b.ts.getTime <= c.ts.getTime
    } yield (c.event_id, b.event_id)).toSet
    assert(got == want)
  }

  test("stream-static enrichment join: stream == batch broadcast join") {
    implicit val ctx = spark.sqlContext
    val events = mkEvents(120).map(e => e.copy(event_type = "purchase"))
    val dim = Seq((0L, "alice", "AUTO"), (1L, "bob", "BUILDING"),
        (2L, "carol", "AUTO"), (3L, "dave", "HOUSEHOLD"))
      .toDF("c_custkey", "c_name", "c_mktsegment")
    val mem = MemoryStream[Ev]
    mem.addData(events)
    val name = s"enrich_${System.nanoTime()}"
    val q = Streams.enrichPurchases(mem.toDF(), dim)
      .writeStream.outputMode(OutputMode.Append()).format("memory").queryName(name).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table(name).select("event_id", "c_name")
      .as[(Long, String)].collect().toSet
    val want = Streams.enrichPurchases(events.toDF(), dim)
      .select("event_id", "c_name").as[(Long, String)].collect().toSet
    assert(got == want && got.nonEmpty)
  }

  test("streaming anomaly alerts == batch gate with offline-trained thresholds") {
    implicit val ctx = spark.sqlContext
    val events = mkEvents(200)
    // offline thresholds (fixed-point 1e6): both types gated differently,
    // chosen so a real subset of the synthetic values alerts
    val thresholds = Seq(("view", 20000000L, 1000000L), ("click", 30000000L, 2000000L))
      .toDF("event_type", "med", "mad")
    val mem = MemoryStream[Ev]
    mem.addData(events)
    val name = s"alerts_${System.nanoTime()}"
    val q = Streams.anomalyAlerts(mem.toDF(), thresholds)
      .writeStream.outputMode(OutputMode.Complete()).format("memory").queryName(name).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table(name)
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    val want = Streams.anomalyAlerts(events.toDF(), thresholds)
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    assert(got == want && got.nonEmpty)
  }

  test("dropDuplicatesWithinWatermark keeps one row per key on a bounded-lateness stream") {
    implicit val ctx = spark.sqlContext
    val events = mkEvents(100)
    val mem = MemoryStream[Ev]
    mem.addData(events)
    val name = s"ddww_${System.nanoTime()}"
    val q = mem.toDF()
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .writeStream.outputMode(OutputMode.Append()).format("memory").queryName(name).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table(name).select("user_id", "event_type")
      .as[(Long, String)].collect().toList
    // all event ts fall inside one watermark window here, so the result
    // is exactly one row per (user_id, event_type)
    assert(got.toSet == events.map(e => (e.user_id, e.event_type)).toSet)
    assert(got.size == got.toSet.size)
  }

  test("DLQ split sink routes rows by validation and loses none") {
    implicit val ctx = spark.sqlContext
    val events = mkEvents(80)
    val mem = MemoryStream[Ev]
    mem.addData(events)
    val base = s"target/tmp/dlq_${System.nanoTime()}"
    val q = Streams.dlqSink(mem.toDF(),
      concat_ws(",",
        when(col("value") < 5.0, lit("low_value")),
        when(col("event_type") === "click", lit("click_type"))),
      s"$base/good", s"$base/bad", s"$base/ckpt")
    q.awaitTermination()
    val good = spark.read.parquet(s"$base/good")
    val bad = spark.read.parquet(s"$base/bad")
    val nExpectBad = events.count(e => e.value < 5.0 || e.event_type == "click")
    assert(bad.count() == nExpectBad)
    assert(good.count() == events.size - nExpectBad)
    assert(bad.where("reject_reasons = ''").isEmpty)
    assert(!good.columns.contains("reject_reasons"))
  }

  test("foreachBatch dedup ingestion == one-shot incremental op, and accumulates") {
    implicit val ctx = spark.sqlContext
    val docs = Tables.t(spark, TestSpark.sf, "documents")
    val batchRows = docs.where("doc_id % 5 = 0")
      .select("doc_id", "text").collect()
      .map(r => Doc(r.getLong(0), r.getString(1))).toSeq
    val base = s"target/tmp/dedupingest_${System.nanoTime()}"
    api.DedupIndex.build(docs.where("doc_id % 5 <> 0"), s"$base/idx")

    // phase 1: today's batch as ONE micro-batch -> verdicts must equal
    // the one-shot operator exactly
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Doc]
    mem.addData(batchRows)
    Streams.dedupIngestSink(mem.toDF(), s"$base/idx", s"$base/v1", s"$base/ckpt1")
      .awaitTermination()
    val got = spark.read.parquet(s"$base/v1").drop("run_key", "batch_id")
    val want = Registry.byKey("llm_dedup_incremental").query(spark, TestSpark.sf)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "streaming verdicts must equal the batch operator")

    // phase 2: replaying the same docs as a LATER batch — everything
    // accepted in phase 1 is now in the index, so no 'keep' survives
    val mem2 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Doc]
    mem2.addData(batchRows)
    Streams.dedupIngestSink(mem2.toDF(), s"$base/idx", s"$base/v2", s"$base/ckpt2")
      .awaitTermination()
    assert(spark.read.parquet(s"$base/v2").where("verdict = 'keep'").isEmpty,
      "the index must have accumulated phase-1 acceptances")

    // replay pin: the at-least-once crash shape — the index update
    // LANDED but the checkpoint commit was lost. Simulate it literally
    // by deleting batch 0's commit marker, then re-driving the same
    // data against the same checkpoint: the engine re-executes batch 0,
    // whose verdicts now flip ('keep' → 'exact' against the updated
    // index). The rewrite must OVERWRITE the batch's (run_key,
    // batch_id) partition, not append a second, contradictory set.
    assert(new java.io.File(s"$base/ckpt1/commits/0").delete(),
      "test setup: batch-0 commit marker must exist to simulate the crash")
    new java.io.File(s"$base/ckpt1/commits/.0.crc").delete() // hadoop sidecar
    val mem3 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Doc]
    mem3.addData(batchRows)
    Streams.dedupIngestSink(mem3.toDF(), s"$base/idx", s"$base/v1", s"$base/ckpt1")
      .awaitTermination()
    val replayed = spark.read.parquet(s"$base/v1")
    assert(replayed.count() == batchRows.size &&
      replayed.select("doc_id").distinct().count() == batchRows.size,
      "a replayed batch must replace its partition, one verdict per doc")
    assert(replayed.where("verdict = 'keep'").isEmpty,
      "replayed verdicts must reflect the already-updated index")
  }

  test("streaming checksum folds batch digests into the batch op's digest") {
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_cks_").toString
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select("doc_id", "text", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq

    // three disjoint slices arriving as three separate stream runs, in
    // a shuffled order — commutativity must make boundaries irrelevant
    val slices = docs.groupBy(t => (t._1 % 3).toInt).toSeq.sortBy(-_._1).map(_._2)
    slices.zipWithIndex.foreach { case (slice, i) =>
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, String)]
      mem.addData(slice)
      Streams.checksumSink(
        mem.toDF().toDF("doc_id", "text", "lang"),
        s"$base/digest", s"$base/ckpt$i").awaitTermination()
    }

    val got = Streams.corpusChecksum(spark, s"$base/digest")
    val want = Registry.byKey("core_row_checksum").query(spark, TestSpark.sf)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "folded streaming digests must equal the one-shot batch checksum")

    // replay pin: re-driving slice 0 against ITS OWN checkpoint (the
    // at-least-once shape) must leave the fold unchanged — the batch
    // lands on its (run_key, batch_id) partition instead of appending
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String)]
    mem.addData(slices.head)
    Streams.checksumSink(mem.toDF().toDF("doc_id", "text", "lang"),
      s"$base/digest", s"$base/ckpt0").awaitTermination()
    val again = Streams.corpusChecksum(spark, s"$base/digest")
    assert(again.exceptAll(want).isEmpty && want.exceptAll(again).isEmpty,
      "a replayed batch must not change the folded digest")
  }

  test("streaming scoring == batch scoring with offline-trained weights") {
    implicit val ctx = spark.sqlContext
    val embDf = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
    val (w, _, _) = api.Models.logregTrain(embDf)
    val base = java.nio.file.Files.createTempDirectory("graft_score_").toString
    val rows = embDf.collect()
      .map(r => EmbRow(r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))

    // the same corpus arriving as two separate stream runs
    rows.grouped((rows.length + 1) / 2).zipWithIndex.foreach { case (slice, i) =>
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[EmbRow]
      mem.addData(slice.toSeq)
      Streams.scoringSink(mem.toDF(), w, s"$base/scores", s"$base/ckpt$i")
        .awaitTermination()
    }

    val got = spark.read.parquet(s"$base/scores").select("vec_id", "s_fp")
    val want = embDf.withColumn("xq", api.Models.xq)
      .withColumn("s_fp", api.Models.sigmoidFp(w))
      .select("vec_id", "s_fp")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "streamed scores must equal batch scoring exactly")
  }

  test("mapGroupsWithState running totals == batch aggregation") {
    implicit val ctx = spark.sqlContext
    val events = mkEvents(80).map(e => Streams.UserEvent(e.user_id, e.event_id, e.value))
    val mem = MemoryStream[Streams.UserEvent]
    mem.addData(events)
    val name = s"tot_${System.nanoTime()}"
    val q = Streams.runningTotals(mem.toDS()).toDF().writeStream
      .outputMode(OutputMode.Update()).format("memory").queryName(name).start()
    q.processAllAvailable(); q.stop()
    // last update per user is the final state
    val got = spark.table(name)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id").orderBy(desc("n_events"))))
      .where("rn = 1").select("user_id", "n_events", "sum_value")
      .as[(Long, Long, Double)].collect().toSet
    val want = events.groupBy(_.user_id).map { case (u, es) =>
      (u, es.size.toLong, es.map(_.value).sum) }.toSet
    assert(got.map(t => (t._1, t._2, math.round(t._3 * 1e6))) ==
      want.map(t => (t._1, t._2, math.round(t._3 * 1e6))))
  }

  test("transformWithState running totals == mapGroupsWithState == batch (RocksDB store)") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val ctx = s2.sqlContext
    import s2.implicits._
    val events = mkEvents(80).map(e => Streams.UserEvent(e.user_id, e.event_id, e.value))
    val mem = MemoryStream[Streams.UserEvent]
    mem.addData(events)
    val name = s"tws_${System.nanoTime()}"
    val q = Streams.runningTotalsTws(mem.toDS()).toDF().writeStream
      .outputMode(OutputMode.Update()).format("memory").queryName(name).start()
    q.processAllAvailable(); q.stop()
    val got = s2.table(name)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id").orderBy(desc("n_events"))))
      .where("rn = 1").select("user_id", "n_events", "sum_value")
      .as[(Long, Long, Double)].collect().toSet
    val want = events.groupBy(_.user_id).map { case (u, es) =>
      (u, es.size.toLong, es.map(_.value).sum) }.toSet
    assert(got.map(t => (t._1, t._2, math.round(t._3 * 1e6))) ==
      want.map(t => (t._1, t._2, math.round(t._3 * 1e6))))
  }

  test("transformWithState event-time session timers == batch session_window") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val ctx = s2.sqlContext
    import s2.implicits._
    val events = mkEvents(120).map(e => Streams.TimedEvent(e.user_id, e.event_id, e.ts))
    val mem = MemoryStream[Streams.TimedEvent]
    mem.addData(events)
    val name = s"sesstws_${System.nanoTime()}"
    val q = Streams.sessionsTws(mem.toDS()).toDF().writeStream
      .outputMode(OutputMode.Append()).format("memory").queryName(name).start()
    q.processAllAvailable()
    // two far-future sentinel batches: the first advances the watermark,
    // the second gives the timers a batch to fire in
    mem.addData(Seq(Streams.TimedEvent(999L, 0L, java.sql.Timestamp.valueOf("2030-01-01 00:00:00"))))
    q.processAllAvailable()
    mem.addData(Seq(Streams.TimedEvent(998L, 1L, java.sql.Timestamp.valueOf("2030-01-02 00:00:00"))))
    q.processAllAvailable(); q.stop()

    val got = s2.table(name).where("user_id < 900")
      .select("user_id", "session_start", "n_events")
      .as[(Long, java.sql.Timestamp, Long)].collect().toSet
    val want = events.toDF()
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"), col("n_events"))
      .as[(Long, java.sql.Timestamp, Long)].collect().toSet
    assert(got == want)
  }

  test("tumbling window parity holds on the RocksDB state store") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val ctx = s2.sqlContext
    import s2.implicits._
    val events = mkEvents(150)
    val mem = MemoryStream[Ev]
    mem.addData(events)
    val name = s"rdb_${System.nanoTime()}"
    val q = Streams.tumbling(mem.toDF()).writeStream
      .outputMode(OutputMode.Complete()).format("memory").queryName(name).start()
    q.processAllAvailable(); q.stop()
    val got = s2.table(name).select(col("bucket"), col("n_events"))
      .as[(java.sql.Timestamp, Long)].collect().toSet
    val want = events.toDF()
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("n_events"))
      .as[(java.sql.Timestamp, Long)].collect().toSet
    assert(got == want)
  }

  test("flatMapGroupsWithState emits per-batch running counts") {
    implicit val ctx = spark.sqlContext
    val events = mkEvents(40).map(e => Streams.UserEvent(e.user_id, e.event_id, e.value))
    val mem = MemoryStream[Streams.UserEvent]
    val (h1, h2) = events.splitAt(25)
    val name = s"fm_${System.nanoTime()}"
    val q = Streams.sessionCounts(mem.toDS()).toDF().writeStream
      .outputMode(OutputMode.Append()).format("memory").queryName(name).start()
    mem.addData(h1); q.processAllAvailable()
    mem.addData(h2); q.processAllAvailable()
    q.stop()
    // the last emitted row per user carries the total across both batches
    val got = spark.table(name)
      .groupBy("user_id").agg(max("n_events").as("n"))
      .as[(Long, Long)].collect().toSet
    val want = events.groupBy(_.user_id).map { case (u, es) => (u, es.size.toLong) }.toSet
    assert(got == want)
  }

  test("matviewStream: fresh checkpoint resumes from the view cursor") {
    import spark.implicits._
    val base = s"target/tmp/mv_restart_${System.nanoTime()}"
    val dir = s"$base/fact"
    def batch(rows: (Long, Long, Long)*): Unit =
      api.UpsertStore.update(rows.toDF("k", "version", "cents"), dir,
        "k", "version", nBuckets = 4): Unit
    val gcols = Seq("grp" -> (col("k") % 2).as("grp"))
    def live(untilSeq: Long, ckpt: String): Unit = {
      val q = Streams.matviewStream(spark, dir, "k", s"$base/view",
        gcols, Seq("cents"), s"$base/$ckpt", pollIntervalMs = 50L)
      try {
        val deadline = System.currentTimeMillis() + 60000L
        while (api.MatView.cursor(spark, s"$base/view") < untilSeq &&
            System.currentTimeMillis() < deadline) Thread.sleep(20)
      } finally q.stop()
      val cursor = api.MatView.cursor(spark, s"$base/view")
      require(cursor == untilSeq, s"live view must reach seq $untilSeq, at $cursor")
    }
    batch((1L, 1L, 10L), (2L, 1L, 20L))
    live(1L, "ckpt1")
    assert(api.MatView.cursor(spark, s"$base/view") == 1L)
    batch((1L, 2L, 30L), (3L, 1L, 40L))
    // a FRESH checkpoint must not replay the seed window: the view's
    // own cursor — not Spark's offset log — decides what is consumed
    live(2L, "ckpt2")
    val got = api.MatView.read(spark, s"$base/view")
      .select("grp", "n_rows", "sum_cents")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((0L, 1L, 20L), (1L, 2L, 70L)),
      s"view after fresh-checkpoint restart: $got")
  }

  test("foreachBatch upsert sink keeps latest record per key across restarts") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val base = s"target/tmp/upsert_sink_${System.nanoTime()}"
    val mem = MemoryStream[(Long, Long, String)]

    def run(): Unit = {
      val q = Streams.upsertSink(
        mem.toDF().toDF("k", "version", "payload"),
        key = "k", versionCol = "version",
        tableDir = s"$base/table", checkpointDir = s"$base/ckpt")
      q.awaitTermination()
    }
    mem.addData(Seq((1L, 1L, "a1"), (2L, 1L, "b1"), (1L, 2L, "a2")))
    run() // within-batch: key 1 keeps version 2
    mem.addData(Seq((2L, 5L, "b5"), (3L, 1L, "c1")))
    run() // across-restart: key 2 overridden, key 3 inserted

    val got = api.UpsertStore.read(spark, s"$base/table")
      .select("k", "version", "payload")
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 2L, "a2"), (2L, 5L, "b5"), (3L, 1L, "c1")))
  }

  test("UpsertStore: delta-sized merge, replay no-op, generation crash windows") {
    import spark.implicits._
    val dir = s"target/tmp/upsert_store_${System.nanoTime()}"
    def df(rows: (Long, Long, String)*) = rows.toDF("k", "version", "payload")
    def table() = api.UpsertStore.read(spark, dir)
      .select("k", "version", "payload")
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    def bucketFiles(): Map[String, Set[String]] =
      new java.io.File(dir).listFiles().filter(_.getName.startsWith("b"))
        .map(b => b.getName -> b.listFiles().map(_.getName).toSet).toMap

    assert(api.UpsertStore.update(
      df((1 to 20).map(i => (i.toLong, 1L, s"v$i")): _*), dir, "k", "version",
      batchId = Some("a")))
    val before = bucketFiles()
    // one-key batch: only that key's bucket may be rewritten
    assert(api.UpsertStore.update(df((1L, 9L, "vX")), dir, "k", "version",
      batchId = Some("b")))
    val after = bucketFiles()
    val changed = before.keySet.union(after.keySet)
      .filter(b => before.get(b) != after.get(b))
    assert(changed.size == 1, s"one touched key must rewrite exactly one bucket, got $changed")
    assert(table().head == (1L, 9L, "vX"))
    assert(table().size == 20)

    // at-least-once redelivery: the applied ledger makes it a no-op
    assert(!api.UpsertStore.update(df((1L, 9L, "vX")), dir, "k", "version",
      batchId = Some("b")))
    assert(bucketFiles() == after, "replayed batch must not rewrite anything")

    // ledger lost before recording (crash between last swap and
    // recordApplied): the re-merge under a fresh id converges to the
    // same table
    assert(api.UpsertStore.update(df((1L, 9L, "vX")), dir, "k", "version",
      batchId = Some("b2")))
    assert(table().head == (1L, 9L, "vX"))
    assert(table().size == 20)

    // death between the staged write and the first generation publish:
    // the orphaned staged dir must be invisible to readers and harmless
    // to later updates
    val orphan = new java.io.File(s"$dir/staged-deadbeef/__b=0")
    assert(orphan.mkdirs())
    assert(table().size == 20, "an orphaned staged dir must not leak into reads")
    assert(api.UpsertStore.update(df((2L, 11L, "vY")), dir, "k", "version",
      batchId = Some("c")))
    assert(table().find(_._1 == 2L).get == (2L, 11L, "vY"))

    // worst crash window of the generation log: a batch died after
    // publishing SOME buckets' g<seq+1> but before advancing the commit
    // log. Plain read() may see the half-published state (per-bucket
    // newest gen), but readAsOf(snapshotSeq) is torn-proof — the log
    // only advances after every touched bucket lands — and the replayed
    // batch recomputes the SAME seq, overwrites the partial generation,
    // and converges.
    val committed = api.UpsertStore.snapshotSeq(spark, dir)
    val victimBucket = new java.io.File(dir).listFiles()
      .filter(_.getName.matches("b\\d+"))
      .find(b => spark.read.parquet(
        b.listFiles().map(_.getPath).sorted.last).where("k = 1").count() > 0)
      .get
    // the half-published generation is what the died batch WOULD have
    // committed for this bucket: its full merged content (publish only
    // ever renames a complete staged bucket output)
    val victimCur = spark.read.parquet(
      victimBucket.listFiles().map(_.getPath).sorted.last)
    victimCur.where("k <> 1").unionByName(df((1L, 99L, "vZ")))
      .write.parquet(f"${victimBucket.getPath}/g${committed + 1}%012d")
    // torn-proof snapshot: the half-published generation is invisible
    // at the committed seq
    val snap = api.UpsertStore.readAsOf(spark, dir, committed)
      .select("k", "version", "payload")
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(snap.head == (1L, 9L, "vX"),
      "readAsOf(snapshotSeq) must not see a half-published generation")
    assert(snap.size == 20)
    // the foreachBatch replay of the died batch converges: same seq,
    // partial generation overwritten
    assert(api.UpsertStore.update(df((1L, 99L, "vZ")), dir, "k", "version",
      batchId = Some("d")))
    assert(api.UpsertStore.snapshotSeq(spark, dir) == committed + 1)
    assert(table().head == (1L, 99L, "vZ"))
    assert(table().size == 20)

    // rebucket's root-swap crash window: the complete store retired at
    // <dir>-old while <dir> is gone — every read path falls back
    assert(new java.io.File(dir).renameTo(new java.io.File(s"$dir-old")))
    assert(table().size == 20, "read must fall back to the <dir>-old root")
    assert(api.UpsertStore.buckets(spark, dir) > 0)
  }

  test("dqSink: per-micro-batch panels land in DqHistory; trend flags the regression") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val root = s"target/tmp/dqsink_${System.nanoTime()}"
    def panel(df: org.apache.spark.sql.DataFrame) = df
      .agg(count(lit(1)).as("n"), expr("count_if(value > 0)").as("pos"))
      .select(expr("stack(1, 'positive_value', " +
        "CAST(pos * 1000000 div greatest(1, n) AS BIGINT), " +
        "CAST(1000000 AS BIGINT)) AS (expectation, metric_ppm, threshold_ppm)"))
      .withColumn("ok", col("metric_ppm") >= col("threshold_ppm"))
    val mem = MemoryStream[(Long, Double)]
    def run(): Unit = Streams.dqSink(
      mem.toDF().toDF("event_id", "value"), s"$root/hist", s"$root/ck")(panel)
      .awaitTermination()
    mem.addData((1 to 8).map(i => (i.toLong, 1.0)))
    run() // batch 0: fully positive
    mem.addData((1 to 8).map(i => (i.toLong, if (i % 2 == 0) -1.0 else 1.0)))
    run() // batch 1: half positive — a real regression
    assert(api.DqHistory.read(spark, s"$root/hist").count() == 2)
    val t = api.DqHistory.trend(spark, s"$root/hist").collect()
    assert(t.length == 1)
    val r = t.head
    assert(r.getString(0) == "positive_value")
    assert(r.getLong(4) == 1000000L && r.getLong(5) == 500000L)
    assert(r.getBoolean(7), "ok -> fail across micro-batches must flag")
  }

  test("annSink: streamed index == batch-updated index; replay is a no-op") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val emb = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
      .select("vec_id", "embedding")
    val base = emb.where("vec_id % 2 = 0")
    val odd = emb.where("vec_id % 2 = 1")
      .as[(Long, Array[Float])].collect().toSeq
    val root = s"target/tmp/annsink_${System.nanoTime()}"
    val streamedDir = s"$root/streamed"; val batchDir = s"$root/batch"
    api.AnnIndex.build(base, streamedDir, k = 10, iters = 2)
    api.AnnIndex.build(base, batchDir, k = 10, iters = 2)

    // batch path: one update call folds the odd half in
    assert(api.AnnIndex.update(odd.toDF("vec_id", "embedding"), batchDir, Some("bx")))
    // streamed path: the same rows as two micro-batch runs
    val slices = Seq(odd.filter(_._1 % 4 == 1), odd.filter(_._1 % 4 == 3))
    slices.zipWithIndex.foreach { case (slice, i) =>
      val mem = MemoryStream[(Long, Array[Float])]
      mem.addData(slice)
      Streams.annSink(mem.toDF().toDF("vec_id", "embedding"),
        streamedDir, s"$root/ckpt$i").awaitTermination()
    }
    def assigned(d: String): Set[(Long, Long)] =
      spark.read.parquet(s"$d/assignments").select("vec_id", "c_id")
        .as[(Long, Long)].collect().toSet
    assert(assigned(streamedDir) == assigned(batchDir))

    // search over the streamed index equals search over the batch one
    val probes = base.where("vec_id = 0")
      .select(col("vec_id").as("p_id"), col("embedding").as("p_emb"))
    def top(d: String) = api.AnnIndex.searchIndex(spark, d, probes, k = 5, nProbe = 2)
      .select("vec_id", "sim").as[(Long, Double)].collect().toSeq.sortBy(_._1)
    assert(top(streamedDir) == top(batchDir))

    // commit-loss replay of an applied batch id: full no-op
    val n = spark.read.parquet(s"$batchDir/assignments").count()
    assert(!api.AnnIndex.update(odd.toDF("vec_id", "embedding"), batchDir, Some("bx")))
    assert(spark.read.parquet(s"$batchDir/assignments").count() == n)
  }

  test("incremental consumption processes only new blocks per run") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_incr").toString
    val in = s"$tmp/in"; val out = s"$tmp/out"; val ck = s"$tmp/ck"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType)))
    Seq(1L, 2L).toDF("id").write.mode("append").parquet(in)
    Streams.consumeIncrement(spark, in, schema, ck, out)(_.withColumn("doubled", col("id") * 2))
    assert(spark.read.parquet(out).count() == 2)
    Seq(3L).toDF("id").write.mode("append").parquet(in)
    Streams.consumeIncrement(spark, in, schema, ck, out)(_.withColumn("doubled", col("id") * 2))
    val rows = spark.read.parquet(out)
    assert(rows.count() == 3) // 2 + only-the-new block, no reprocessing
    assert(rows.select(sum("doubled")).head.getLong(0) == 12L)
  }

  test("minhashSink: streamed signature store equals build-once; replay is a no-op") {
    implicit val ctx = spark.sqlContext
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => Doc(r.getLong(0), r.getString(1))).toSeq
    val base = s"target/tmp/mhsink_${System.nanoTime()}"

    // two disjoint slices arriving as separate stream runs (the first
    // bootstraps the absent store)
    val slices = Seq(docs.filter(_.doc_id % 2 == 0), docs.filter(_.doc_id % 2 != 0))
    slices.zipWithIndex.foreach { case (slice, i) =>
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Doc]
      mem.addData(slice)
      Streams.minhashSink(mem.toDF(), s"$base/idx", s"$base/ckpt$i")
        .awaitTermination()
    }
    def stored() = api.MinHashIndex.read(spark, s"$base/idx")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val streamed = stored()
    val onceDir = s"$base/once"
    api.MinHashIndex.build(
      spark.read.parquet(s"${TestSpark.sf}/documents.parquet"), onceDir)
    val once = api.MinHashIndex.read(spark, onceDir)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(streamed == once,
      "batch boundaries must not change the stored signatures")

    // at-least-once replay: delete batch 0's commit marker and re-drive
    // the same data against the same checkpoint — the ledger recognizes
    // the (run_key, batch_id) and the store must not change
    assert(new java.io.File(s"$base/ckpt1/commits/0").delete(),
      "test setup: batch-0 commit marker must exist to simulate the crash")
    new java.io.File(s"$base/ckpt1/commits/.0.crc").delete()
    val mem2 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Doc]
    mem2.addData(slices(1))
    Streams.minhashSink(mem2.toDF(), s"$base/idx", s"$base/ckpt1")
      .awaitTermination()
    assert(stored() == streamed, "a replayed micro-batch must be a no-op")
  }

  test("sessionSink: streamed session store equals full recompute; replay is a no-op") {
    implicit val ctx = spark.sqlContext
    val allEvents = Tables.events(spark, TestSpark.sf)
      .select(col("user_id"), col("event_id"), expr("CAST(ts AS TIMESTAMP)").as("ts"))
    val rows = allEvents.collect()
      .map(r => Streams.TimedEvent(r.getLong(0), r.getLong(1), r.getTimestamp(2)))
      .sortBy(e => (e.ts.getTime, e.event_id))
    val base = s"target/tmp/sesssink_${System.nanoTime()}"

    // three time-ordered slices arriving as separate stream runs (the
    // first bootstraps the absent store) — slicing by global time keeps
    // the store's per-user ordered-ingestion contract
    val cut1 = rows(rows.length / 3).ts
    val cut2 = rows(2 * rows.length / 3).ts
    val slices = Seq(
      rows.filter(_.ts.before(cut1)),
      rows.filter(e => !e.ts.before(cut1) && e.ts.before(cut2)),
      rows.filter(e => !e.ts.before(cut2)))
    slices.zipWithIndex.foreach { case (slice, i) =>
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Streams.TimedEvent]
      mem.addData(slice.toSeq)
      Streams.sessionSink(mem.toDF(), s"$base/store", s"$base/ckpt$i")
        .awaitTermination()
    }
    def stored() = api.SessionStore.read(spark, s"$base/store")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val streamed = stored()
    val full = api.SessionStore.sessionAgg(allEvents)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(streamed == full,
      "micro-batch boundaries must not change the session table")

    // at-least-once replay of the last run's batch
    assert(new java.io.File(s"$base/ckpt2/commits/0").delete(),
      "test setup: batch-0 commit marker must exist to simulate the crash")
    new java.io.File(s"$base/ckpt2/commits/.0.crc").delete()
    val mem2 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Streams.TimedEvent]
    mem2.addData(slices(2).toSeq)
    Streams.sessionSink(mem2.toDF(), s"$base/store", s"$base/ckpt2")
      .awaitTermination()
    assert(stored() == streamed, "a replayed micro-batch must be a no-op")
  }
}
