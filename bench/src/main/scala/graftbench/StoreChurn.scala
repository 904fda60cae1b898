package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.{MatView, MergeSql, MinHashIndex, SessionStore, UpsertStore}
import graft.streaming.Streams

/** One writer churning an [[UpsertStore]] seeded from an orders table.
  * Each round commits one batch, through the store API and MERGE text in
  * turn, then refreshes a materialized view over the store, probes it with
  * `lookup`, `readAsOf` on an older commit and `changesBetween`, folds an
  * event batch into a [[SessionStore]] and a document batch into a
  * [[MinHashIndex]], and lands one CDC file that a `Streams.upsertSink`
  * call (`Trigger.AvailableNow`) consumes into the same store. Every
  * round then re-submits its batches under their batch ids, which must be
  * no-ops.
  */
final class StoreChurn(
    spark: SparkSession, rec: Recorder, tracer: Tracer, work: String,
    seed: Long, rounds: Int) extends Workload {
  import StoreChurn._
  import Churn.key

  private val sizes = Data.Sizes(sf)
  private var gen: Churn = _
  private var root = ""
  private def storeDir = s"$root/store"
  private def viewDir = s"$root/view"
  private def sessDir = s"$root/sessions"
  private def ledgerDir = s"$root/ledger"
  private def cdcDir = s"$root/cdc"
  /** Batch ids are numbered by `round`; replays go by full rounds. */
  private var round = 0
  private var fullRounds = 0
  private var firstSeq = 0L
  private var windowRows = 0L
  private var windowBytes = 0L
  private val probeKeys = (0L until 20L).map(Row(_))

  private def commit(rows: Seq[Row], id: String, sql: Boolean): Boolean = {
    val df = Churn.frame(spark, rows, Churn.schema)
    if (sql) {
      df.createOrReplaceTempView("churn_batch")
      MergeSql.run(spark,
        s"MERGE INTO '$storeDir' t USING churn_batch s ON t.$key = s.$key LATEST BY ver " +
          "WHEN MATCHED AND op = 'D' THEN DELETE " +
          "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        nBuckets = buckets, batchId = Some(id))
    } else UpsertStore.update(df, storeDir, key, "ver", nBuckets = buckets,
      batchId = Some(id), deleteWhere = Some(col("op") === "D"))
  }

  private def refresh(): Long =
    MatView.refresh(spark, storeDir, key, viewDir,
      Seq("o_orderstatus" -> col("o_orderstatus"), "o_orderpriority" -> col("o_orderpriority")),
      Seq("o_cents"))

  /** The CDC file format: JSON lines, timestamps as epoch microseconds. */
  private val wire = StructType(Churn.schema.fields.map(f =>
    if (f.dataType == TimestampNTZType) f.copy(dataType = LongType) else f))

  private def cdcStream(): DataFrame =
    spark.readStream.schema(wire).json(cdcDir).select(Churn.schema.fields.toIndexedSeq.map(f =>
      if (f.dataType == TimestampNTZType)
        timestamp_micros(col(f.name)).cast(TimestampNTZType).as(f.name)
      else col(f.name)): _*)

  /** Write rows as a JSON-lines file and move it into the CDC source
    * directory in one rename; returns its size.
    */
  private def land(name: String, rows: Seq[Row]): Long = {
    val tmp = Paths.get(s"$root/landing/$name")
    Files.createDirectories(tmp.getParent)
    Files.createDirectories(Paths.get(cdcDir))
    val body = rows.map(Churn.jsonLine(_, Churn.schema)).mkString("", "\n", "\n")
    Files.writeString(tmp, body)
    Files.move(tmp, Paths.get(s"$cdcDir/$name"), StandardCopyOption.ATOMIC_MOVE)
    body.length.toLong
  }

  private def oneRound(): Unit = {
    val r = round
    round += 1
    val id = s"b$r"
    val rows = gen.batch(updates, inserts, deletes)
    val ev = gen.eventBatch(300, advanceMin = 90)
    val docs = gen.docBatch(20)
    // the warm-up round goes through the API; the window starts with MERGE
    val sql = fullRounds % 2 == 1
    val t0 = System.nanoTime()
    rec.op(if (sql) "commit_merge" else "commit_api") {
      tracer.span("store", "commit")(commit(rows, id, sql))
    }
    val head = rec.op("refresh")(tracer.span("matview", "refresh")(refresh()))
    rec.note("fresh", (System.nanoTime() - t0) / 1e6)
    val probe = Churn.frame(spark, probeKeys, StructType(Churn.schema.fields.take(1)))
    val found = rec.op("lookup") {
      tracer.span("store", "lookup")(UpsertStore.lookup(probe, storeDir, key).count())
    }
    rec.check(s"round $r lookup finds all ${probeKeys.size} hot keys")(
      found.contains(probeKeys.size.toLong))
    head.foreach { h =>
      val oldest = math.max(firstSeq, UpsertStore.baseSeq(spark, storeDir))
      rec.op("time_travel") {
        tracer.span("store", "time_travel")(
          UpsertStore.readAsOf(spark, storeDir, math.max(oldest, h - 4)).count())
      }
      rec.op("changes") {
        tracer.span("store", "changes")(
          UpsertStore.changesBetween(spark, storeDir, math.max(oldest, h - 2), h, key).count())
      }
    }
    val evDf = Churn.frame(spark, ev, Data.eventsSchema)
    val docDf = Churn.frame(spark, docs, Data.documentsSchema)
    rec.op("session_update") {
      tracer.span("sessionstore", "update")(SessionStore.update(evDf, sessDir, Some(id)))
    }
    rec.op("ledger_update") {
      tracer.span("ledger", "update")(MinHashIndex.update(docDf, ledgerDir, Some(id)))
    }
    val cdc = gen.batch(updates, inserts, deletes = 0)
    val cdcBytes = land(f"cdc-$r%06d.json", cdc)
    val landed = System.nanoTime()
    rec.op("upsert_trigger") {
      val q = tracer.span("streaming", "start")(
        Streams.upsertSink(cdcStream(), key, "ver", storeDir, s"$root/ckpt"))
      tracer.span("streaming", "await")(q.awaitTermination())
      q.exception.foreach(e => throw e)
    }
    rec.note("trigger", (System.nanoTime() - landed) / 1e6)
    // a re-submitted batch id must be recognized and change nothing
    val again = rec.op(if (sql) "replay_merge" else "replay_api", sampled = false) {
      tracer.span("store", "replay")(commit(rows, id, sql))
    }
    val sAgain = rec.op("session_replay", sampled = false) {
      tracer.span("sessionstore", "replay")(SessionStore.update(evDf, sessDir, Some(id)))
    }
    val lAgain = rec.op("ledger_replay", sampled = false) {
      tracer.span("ledger", "replay")(MinHashIndex.update(docDf, ledgerDir, Some(id)))
    }
    rec.check(s"round $r replays are no-ops")(
      again.contains(false) && sAgain.contains(false) && lAgain.contains(false))
    fullRounds += 1
    if (rec.timing) {
      windowRows += rows.size + ev.size + docs.size + cdc.size
      windowBytes += Churn.bytes(rows, Churn.schema) + Churn.bytes(ev, Data.eventsSchema) +
        Churn.bytes(docs, Data.documentsSchema) + cdcBytes
    }
  }

  /** Inputs and stores: the seeded store, the session store and the
    * signature ledger, in a fresh directory.
    */
  def setup(rep: Int): Unit = {
    root = s"$work/rep$rep"
    gen = new Churn(seed * 31 + rep, sizes.orders, sizes.customers, sizes.users)
    round = 0
    fullRounds = 0
    rec.op("bootstrap") {
      UpsertStore.update(gen.base(spark), storeDir, key, "ver", nBuckets = buckets,
        batchId = Some("base"))
      firstSeq = UpsertStore.snapshotSeq(spark, storeDir)
      SessionStore.build(Churn.frame(spark, gen.eventBatch(2000, 24 * 60), Data.eventsSchema),
        sessDir)
      MinHashIndex.build(Churn.frame(spark, gen.docBatch(200), Data.documentsSchema), ledgerDir)
    }
  }

  /** Single-row commits, alternating API and MERGE (the first of each
    * also replayed), until the [[warmRounds]] full rounds that follow bring the store to more
    * commits than retention keeps, so that every window commit trims one.
    * The view's first (full) refresh comes before those rounds.
    */
  override def warm(): Unit = {
    // each full round adds two commits (the batch and the CDC trigger)
    while (UpsertStore.snapshotSeq(spark, storeDir) + 2 * warmRounds <= UpsertStore.defaultRetain) {
      val r = round
      round += 1
      val sql = r % 2 == 1
      val rows = gen.batch(1, 0, 0)
      rec.op(if (sql) "commit_merge" else "commit_api")(commit(rows, s"b$r", sql))
      if (r < 2) {
        val again = rec.op(if (sql) "replay_merge" else "replay_api", sampled = false)(
          commit(rows, s"b$r", sql))
        rec.check(s"warm-up commit $r replay is a no-op")(again.contains(false))
      }
    }
    rec.op("refresh")(refresh())
    (0 until warmRounds).foreach(_ => oneRound())
  }

  def window(): Unit = (0 until rounds).foreach(_ => oneRound())

  override def userRows: Long = windowRows
  override def userBytes: Long = windowBytes

  override def stores: Seq[(String, () => DataFrame)] = Seq(
    storeDir -> (() => UpsertStore.read(spark, storeDir)),
    viewDir -> (() => MatView.read(spark, viewDir)),
    sessDir -> (() => SessionStore.read(spark, sessDir)),
    ledgerDir -> (() => MinHashIndex.read(spark, ledgerDir)))

  override def layerState(): Map[String, Double] = {
    val d = new java.io.File(storeDir)
    val gens = Option(d.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.matches("b\\d+"))
      .map(b => Option(b.listFiles()).toSeq.flatten.count(_.getName.matches("g\\d+")).toDouble)
    Map("store.live_files" -> Io.countFiles(d).toDouble,
      "store.gens_per_bucket" -> Stats.mean(gens))
  }

  def check(): Unit = {
    val expected = Churn.fold(gen.base(spark), gen.applied.toSeq).cache()
    rec.check("readAsOf(snapshotSeq) equals the fold of base + batches + CDC files") {
      val snap = UpsertStore.readAsOf(spark, storeDir, UpsertStore.snapshotSeq(spark, storeDir))
      Churn.same(expected, snap)
    }
    rec.check("materialized view equals a groupBy over the snapshot") {
      refresh()
      val want = expected.groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n_rows"), sum("o_cents").as("sum_o_cents"))
      Churn.same(want, MatView.read(spark, viewDir))
    }
    rec.check("session store equals sessionAgg over all events") {
      val all = Churn.frame(spark, gen.events.toSeq, Data.eventsSchema)
      Churn.same(SessionStore.sessionAgg(all), SessionStore.read(spark, sessDir))
    }
    rec.check("minhash ledger holds one signature per document") {
      val sigs = MinHashIndex.read(spark, ledgerDir)
      sigs.count() == gen.docs.size && sigs.select("doc_id").distinct().count() == gen.docs.size
    }
    expected.unpersist()
  }
}

object StoreChurn {
  /** Scale factor of the orders table the store is seeded from. */
  val sf = 0.02
  /** Full rounds before the window, after the single-row commits. */
  val warmRounds = 1
  /** Bucket count of the store: a bucket is the unit of rewrite. */
  val buckets: Int = UpsertStore.defaultBuckets
  /** Batch shape: Zipf-keyed updates, fresh inserts, deletes. A batch
    * touches about a third of the buckets, always the hot key's.
    */
  val updates = 12
  val inserts = 4
  val deletes = 2
}
