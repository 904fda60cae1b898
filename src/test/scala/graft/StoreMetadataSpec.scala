package graft

import scala.jdk.CollectionConverters._

import graft.streaming.Streams
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Store metadata without Spark jobs: replay checks, historical reads
  * and touched-bucket sets run no job of their own; per-commit schemas
  * read exactly like the merged footer read; the JSON ledger is bounded
  * and folds legacy parquet ledgers and the earlier SketchStore and
  * MatView layouts in, and only a store's first generation sweeps the
  * legacy paths; a recorded schema that cannot be parsed falls back to
  * inference; between batches, commit order wins.
  */
class StoreMetadataSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(tag: String) = s"target/tmp/${tag}_${System.nanoTime()}"

  /** `body`'s result and the Spark jobs it submitted, each as its
    * stage names (for failure messages).
    */
  private def jobsOf[A](body: => A): (A, Seq[Seq[String]]) = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(e.stageInfos.map(_.name))
    }
    org.apache.spark.ListenerDrain.drain(sc)
    sc.addSparkListener(l)
    try {
      val out = body
      org.apache.spark.ListenerDrain.drain(sc)
      (out, seen.asScala.toSeq)
    } finally sc.removeSparkListener(l)
  }

  /** `body`'s result and the Dataset actions it ran, by name
    * (`collect`, `localCheckpoint`, `count`, ...).
    */
  private def actionsOf[A](body: => A): (A, Seq[String]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit = seen.add(action)
      override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = seen.add(action)
    }
    org.apache.spark.ListenerDrain.drain(spark.sparkContext)
    spark.listenerManager.register(l)
    try {
      val out = body
      org.apache.spark.ListenerDrain.drain(spark.sparkContext)
      (out, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(l)
  }

  private def kv(rows: (Long, Long, String)*) = rows.toDF("k", "version", "v")
  private def kvx(rows: (Long, Long, String, Long)*) = rows.toDF("k", "version", "v", "extra")

  private def events(rows: (Long, Long, Long)*) =
    rows.toDF("user_id", "event_id", "us")
      .withColumn("ts", expr("CAST(timestamp_micros(us) AS TIMESTAMP_NTZ)"))
      .select("user_id", "event_id", "ts")

  private def docs(ids: Long*) =
    ids.map(i => (i, s"document number $i says hello world $i")).toDF("doc_id", "text")

  private def langDocs(ids: Long*) = docs(ids: _*).withColumn("lang", lit("en"))

  /** SketchStore point estimates of `toks`. */
  private def freq(dir: String, toks: String*) =
    api.SketchStore.freqEstimate(spark, dir, toks).as[(String, Long)].collect().toMap

  private def panel(ppm: Long) =
    Seq(("rows_nonnull", ppm, 900000L, true)).toDF("expectation", "metric_ppm", "threshold_ppm", "ok")

  private lazy val vectors = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
    .select("vec_id", "embedding")

  /** A parquet `applied` ledger as the pre-JSON layouts wrote it. */
  private def legacyLedger(path: String, ids: String*): Unit =
    ids.toDF("batch_id").write.parquet(path)

  private def ledger(dir: String) = api.StoreIO.ledgerOf(spark, dir)

  private def exists(path: String) = new java.io.File(path).exists()

  /** Asserts `replay` is a no-op (returns false) that runs no Spark job. */
  private def noJobReplay(what: String)(replay: => Boolean): Unit = {
    val (applied, jobs) = jobsOf(replay)
    assert(!applied, s"$what: replay must be a no-op")
    assert(jobs.isEmpty, s"$what: replay ran ${jobs.size} Spark job(s): $jobs")
  }

  // ---- replays ------------------------------------------------------------

  test("a replay runs no Spark job on any store") {
    val d = tmpDir("replay_jobs")
    val up = s"$d/upsert"
    assert(api.UpsertStore.update(kv((1L, 1L, "a"), (2L, 1L, "b")), up, "k", "version",
      nBuckets = 4, batchId = Some("u1")))
    kv((3L, 1L, "c")).createOrReplaceTempView("replay_jobs_src")
    val merge = s"MERGE INTO '$up' t USING replay_jobs_src s ON t.k = s.k LATEST BY version " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    assert(api.MergeSql.run(spark, merge, nBuckets = 4, batchId = Some("m1")))
    assert(api.UpsertStore.delete(spark, up, expr("k = 2"), batchId = Some("d1")) == 1L)
    assert(api.SessionStore.update(events((1L, 1L, 0L)), s"$d/sess", Some("s1")))
    assert(api.MinHashIndex.update(docs(1L, 2L), s"$d/mh", Some("h1")))
    assert(api.DqHistory.append(panel(990000L), s"$d/dq", runSeq = 1L, batchId = Some("q1")))
    api.AnnIndex.build(vectors.where("vec_id < 40"), s"$d/ann", k = 4, iters = 1)
    assert(api.AnnIndex.update(vectors.where("vec_id >= 40 AND vec_id < 60"), s"$d/ann", Some("a1")))
    api.SketchStore.build(langDocs(1L, 2L), s"$d/sketch")
    assert(api.SketchStore.updateCms(langDocs(3L), s"$d/sketch", Some("k1")))

    noJobReplay("UpsertStore.update")(api.UpsertStore.update(
      kv((1L, 1L, "a"), (2L, 1L, "b")), up, "k", "version", nBuckets = 4, batchId = Some("u1")))
    noJobReplay("MergeSql.run")(api.MergeSql.run(spark, merge, nBuckets = 4, batchId = Some("m1")))
    noJobReplay("UpsertStore.delete")(
      api.UpsertStore.delete(spark, up, expr("k = 2"), batchId = Some("d1")) > 0L)
    noJobReplay("SessionStore.update")(
      api.SessionStore.update(events((1L, 1L, 0L)), s"$d/sess", Some("s1")))
    noJobReplay("MinHashIndex.update")(api.MinHashIndex.update(docs(1L, 2L), s"$d/mh", Some("h1")))
    noJobReplay("DqHistory.append")(
      api.DqHistory.append(panel(990000L), s"$d/dq", runSeq = 1L, batchId = Some("q1")))
    noJobReplay("AnnIndex.update")(api.AnnIndex.update(
      vectors.where("vec_id >= 40 AND vec_id < 60"), s"$d/ann", Some("a1")))
    noJobReplay("SketchStore.updateCms")(
      api.SketchStore.updateCms(langDocs(3L), s"$d/sketch", Some("k1")))
    val (geometry, geometryJobs) = jobsOf(api.SketchStore.cmsGeometry(spark, s"$d/sketch"))
    assert(geometry == ((4, 1024L)))
    assert(geometryJobs.isEmpty, s"cmsGeometry ran ${geometryJobs.size} Spark job(s): $geometryJobs")
    assert(freq(s"$d/sketch", "hello")("hello") == 3L)
    api.StoreIO.delete(spark, d)
  }

  // ---- historical reads ---------------------------------------------------

  test("readAsOf and changesBetween run no footer-inference job on recorded schemas") {
    val d = tmpDir("asof_jobs")
    def up(df: DataFrame, id: String) =
      api.UpsertStore.update(df, d, "k", "version", nBuckets = 4, batchId = Some(id))
    up(kv((1L, 1L, "a"), (2L, 1L, "b")), "c1")
    up(kvx((1L, 2L, "a2", 7L)), "c2")
    up(kv((3L, 1L, "c")), "c3")
    val reads: Seq[(String, () => DataFrame)] = Seq(
      "readAsOf(1)" -> (() => api.UpsertStore.readAsOf(spark, d, 1L)),
      "readAsOf(2)" -> (() => api.UpsertStore.readAsOf(spark, d, 2L)),
      "changesBetween" -> (() => api.UpsertStore.changesBetween(spark, d, 1L, 3L, "k")),
      "changesBetweenImages" ->
        (() => api.UpsertStore.changesBetweenImages(spark, d, 1L, 3L, "k")))
    reads.foreach { case (what, r) =>
      val (_, jobs) = jobsOf(r())
      assert(jobs.isEmpty, s"$what ran ${jobs.size} job(s) before any action: $jobs")
    }
    // each seq reads with its own schema: seq 1 predates `extra`
    assert(api.UpsertStore.readAsOf(spark, d, 1L).columns.toSeq == Seq("k", "version", "v"))
    assert(api.UpsertStore.readAsOf(spark, d, 2L).columns.toSeq ==
      Seq("k", "version", "v", "extra"))
    val ch = api.UpsertStore.changesBetween(spark, d, 1L, 3L, "k")
      .select("change", "k", "v", "extra").as[(String, Long, String, Option[Long])]
      .collect().sortBy(_._2).toSeq
    assert(ch == Seq(("update", 1L, "a2", Some(7L)), ("insert", 3L, "c", None)))
    api.StoreIO.delete(spark, d)
  }

  test("per-commit schemas read like the merged footer read across add, restore, retention") {
    val d = tmpDir("evolve")
    def up(df: DataFrame, id: String) = api.UpsertStore.update(df, d, "k", "version",
      nBuckets = 4, batchId = Some(id), retainCommits = Int.MaxValue)
    up(kv((1L, 1L, "a"), (2L, 1L, "b"), (3L, 1L, "c"), (4L, 1L, "d")), "c1")
    up(kvx((1L, 2L, "a2", 10L)), "c2") // seq 2 adds `extra`
    up(kvx((5L, 1L, "e", 50L)), "c3")
    assert(api.UpsertStore.restore(spark, d, 1L, Some("r1")) == 4L) // below `extra`
    up(kv((2L, 2L, "b2")), "c5")
    up(kvx((6L, 1L, "f", 60L), (3L, 2L, "c2", 30L)), "c6")
    // the reference: a footer-merged read of each bucket's newest
    // generation at or below `seq`
    def gens(bucketFilter: java.io.File => Boolean): Seq[(Long, String)] =
      new java.io.File(d).listFiles().toSeq
        .filter(b => b.isDirectory && b.getName.matches("b\\d+") && bucketFilter(b))
        .flatMap(_.listFiles().toSeq.filter(_.getName.matches("g\\d{12}"))
          .map(g => g.getName.drop(1).toLong -> g.getPath))
    def merged(seq: Long): DataFrame = {
      val paths = gens(_ => true).groupBy(g => new java.io.File(g._2).getParent).values
        .flatMap(gs => gs.filter(_._1 <= seq).maxByOption(_._1).map(_._2)).toSeq.sorted
      spark.read.option("mergeSchema", "true").parquet(paths: _*)
    }
    def fields(df: DataFrame) = df.schema.map(f => f.name -> f.dataType.simpleString)
    def rows(df: DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    def same(seq: Long): Unit = {
      val got = api.UpsertStore.readAsOf(spark, d, seq)
      val want = merged(seq)
      assert(fields(got) == fields(want), s"schema at seq $seq")
      assert(rows(got) == rows(want), s"rows at seq $seq")
    }
    (1L to 6L).foreach(same)
    assert(api.UpsertStore.readAsOf(spark, d, 4L).columns.toSeq == Seq("k", "version", "v"),
      "the restored commit reads with the schema it restored")
    // retention past the evolution and the restore
    api.UpsertStore.retain(spark, d, 2)
    assert(api.UpsertStore.baseSeq(spark, d) == 5L)
    (5L to 6L).foreach(same)
    // the version history of a key spans every retained generation of its
    // bucket, read with the union of the retained schemas
    val keys = Seq(1L, 3L).toDF("k")
    val hist = api.UpsertStore.rowVersions(keys, d, "k")
    val histRef = {
      val b = keys.select(pmod(xxhash64(col("k")), lit(4L)).cast("int")).as[Int].collect().toSet
      val raw = spark.read.option("mergeSchema", "true")
        .parquet(gens(f => b(f.getName.drop(1).toInt)).map(_._2): _*)
      raw.select(regexp_extract(col("_metadata.file_path"), "/b\\d+/g(\\d{12})/", 1)
          .cast("long").as("commit_seq") +: raw.columns.map(col).toIndexedSeq: _*)
        .join(keys, Seq("k"), "left_semi")
    }
    assert(fields(hist) == fields(histRef))
    assert(rows(hist) == rows(histRef))
    api.StoreIO.delete(spark, d)
  }

  // ---- touched buckets ----------------------------------------------------

  test("update and lookup take their touched buckets from the batch's own job") {
    val d = tmpDir("touched")
    api.UpsertStore.update(kv((1L to 20L).map(i => (i, 1L, s"v$i")): _*), d, "k", "version",
      nBuckets = 8, batchId = Some("c1"))
    val batchKeys = Seq(1L, 9L)
    val (_, actions) = actionsOf(api.UpsertStore.update(
      kv(batchKeys.map(i => (i, 2L, s"w$i")): _*), d, "k", "version", nBuckets = 8,
      batchId = Some("c2")))
    // one pass over the batch (its checkpoint) and the staged write, no
    // separate collect of the bucket set
    assert(actions.count(_ == "localCheckpoint") == 1 && !actions.contains("collect"),
      s"update actions: $actions")
    // the observed set is exact: only the batch keys' buckets gained generation 2
    val want = batchKeys.toDF("k").select(pmod(xxhash64(col("k")), lit(8L)).cast("int"))
      .as[Int].collect().toSet
    val got = new java.io.File(d).listFiles().toSeq
      .filter(b => new java.io.File(b, "g000000000002").exists()).map(_.getName.drop(1).toInt).toSet
    assert(got == want)
    val (probe, lookupActions) =
      actionsOf(api.UpsertStore.lookup(Seq(1L, 9L, 404L).toDF("k"), d, "k"))
    assert(lookupActions == Seq("localCheckpoint"), s"lookup actions: $lookupActions")
    assert(probe.select("k", "v").as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "w1"), (9L, "w9")))
    api.StoreIO.delete(spark, d)
  }

  // ---- the JSON ledger ----------------------------------------------------

  test("legacy parquet ledgers are folded in: a replayed batch id stays a no-op") {
    val d = tmpDir("legacy")
    val hour = 3600000000L

    // SessionStore before state.json: gen/sessions + gen/applied
    val sess = s"$d/sess"
    api.SessionStore.sessionAgg(events((1L, 1L, 0L))).write.parquet(s"$sess/gen/sessions")
    legacyLedger(s"$sess/gen/applied", "b1")
    assert(!api.SessionStore.update(events((1L, 2L, hour)), sess, Some("b1")))
    assert(api.SessionStore.read(spark, sess).select("n_events").as[Long].collect().toSeq == Seq(1L))
    assert(api.SessionStore.update(events((1L, 2L, hour)), sess, Some("b2")))
    assert(ledger(sess) == Seq("b1", "b2") && !exists(s"$sess/gen/applied"))
    noJobReplay("legacy SessionStore")(api.SessionStore.update(events((1L, 2L, hour)), sess, Some("b1")))
    assert(api.SessionStore.read(spark, sess).select("n_events").as[Long].collect().toSeq == Seq(2L))

    // MinHashIndex, DqHistory: table + parquet ledger directly under the store
    val mh = s"$d/mh"
    api.MinHashIndex.signatures(docs(1L, 2L)).write.parquet(s"$mh/sigs")
    legacyLedger(s"$mh/applied", "b1")
    assert(!api.MinHashIndex.update(docs(3L), mh, Some("b1")))
    assert(api.MinHashIndex.read(spark, mh).count() == 2L)
    assert(api.MinHashIndex.update(docs(3L), mh, Some("b2")))
    assert(ledger(mh) == Seq("b1", "b2") && !exists(s"$mh/applied") && !exists(s"$mh/sigs"))
    noJobReplay("legacy MinHashIndex")(api.MinHashIndex.update(docs(4L), mh, Some("b1")))
    assert(api.MinHashIndex.read(spark, mh).count() == 3L)

    val dq = s"$d/dq"
    panel(990000L).withColumn("run_seq", lit(1L)).write.parquet(s"$dq/runs")
    legacyLedger(s"$dq/applied", "r1")
    assert(!api.DqHistory.append(panel(990000L), dq, runSeq = 1L, batchId = Some("r1")))
    assert(api.DqHistory.append(panel(970000L), dq, runSeq = 2L, batchId = Some("r2")))
    assert(ledger(dq) == Seq("r1", "r2") && !exists(s"$dq/applied") && !exists(s"$dq/runs"))
    noJobReplay("legacy DqHistory")(
      api.DqHistory.append(panel(990000L), dq, runSeq = 1L, batchId = Some("r1")))
    assert(api.DqHistory.trend(spark, dq).select("delta_ppm").as[Long].collect().toSeq ==
      Seq(-20000L))

    // AnnIndex: the ledger beside the partitioned assignments
    val ann = s"$d/ann"
    api.AnnIndex.build(vectors.where("vec_id < 40"), ann, k = 4, iters = 1)
    legacyLedger(s"$ann/applied", "b1")
    val more = vectors.where("vec_id >= 40 AND vec_id < 60")
    assert(!api.AnnIndex.update(more, ann, Some("b1")))
    assert(spark.read.parquet(s"$ann/assignments").count() == 40L)
    assert(api.AnnIndex.update(more, ann, Some("b2")))
    assert(ledger(ann) == Seq("b1", "b2") && !exists(s"$ann/applied"))
    noJobReplay("legacy AnnIndex")(api.AnnIndex.update(more, ann, Some("b1")))
    assert(spark.read.parquet(s"$ann/assignments").count() == 60L)
    api.StoreIO.delete(spark, d)
  }

  test("SketchStore and MatView in the earlier layout keep their state and fold it in") {
    val d = tmpDir("legacy_layout")
    // SketchStore: cms/{counters,meta,applied} parquet, and the earlier
    // swap's kept `.retired` copy of each sketch
    def legacySketch(dir: String, cms: String, kmv: Seq[String]): Unit = {
      api.SketchStore.cmsOf(langDocs(1L, 2L), 2048L).write.parquet(s"$dir/$cms/counters")
      Seq((4, 2048L)).toDF("d", "w").write.parquet(s"$dir/$cms/meta")
      legacyLedger(s"$dir/$cms/applied", "b1")
      kmv.foreach(api.SketchStore.kmvOf(langDocs(1L, 2L)).write.parquet(_))
    }
    val sk = s"$d/sketch"
    legacySketch(sk, "cms", Seq(s"$sk/kmv", s"$sk/kmv.retired"))
    assert(api.SketchStore.cmsGeometry(spark, sk) == ((4, 2048L)))
    assert(freq(sk, "hello", "number") == Map("hello" -> 2L, "number" -> 2L))
    assert(!api.SketchStore.updateCms(langDocs(3L), sk, Some("b1")))
    assert(freq(sk, "hello")("hello") == 2L)
    api.SketchStore.update(langDocs(3L), sk, Some("b2"))
    assert(new java.io.File(sk).list().sorted.toSeq == Seq("cms", "kmv"))
    assert(new java.io.File(s"$sk/cms").list().sorted.toSeq == Seq("counters", "state.json"))
    assert(api.SketchStore.cmsGeometry(spark, sk) == ((4, 2048L)))
    noJobReplay("legacy SketchStore")(api.SketchStore.updateCms(langDocs(3L), sk, Some("b1")))
    assert(freq(sk, "hello")("hello") == 3L)
    assert(api.SketchStore.distinctEstimate(spark, sk).as[(String, Long)].collect().toSeq ==
      Seq(("en", 3L)))

    // the earlier crash state: a swap died between its renames, so only
    // `cms.retired` and `kmv.retired` are left
    val crashed = s"$d/crashed"
    legacySketch(crashed, "cms.retired", Seq(s"$crashed/kmv.retired"))
    assert(api.SketchStore.cmsGeometry(spark, crashed) == ((4, 2048L)))
    assert(api.SketchStore.distinctEstimate(spark, crashed).as[(String, Long)].collect().toSeq ==
      Seq(("en", 2L)))
    assert(!api.SketchStore.updateCms(langDocs(3L), crashed, Some("b1")))
    api.SketchStore.update(langDocs(3L), crashed, Some("b2"))
    assert(new java.io.File(crashed).list().sorted.toSeq == Seq("cms", "kmv"))
    assert(freq(crashed, "hello")("hello") == 3L)
    assert(api.SketchStore.cmsGeometry(spark, crashed) == ((4, 2048L)))

    // MatView: gen/ holds the state and `cursor.json`, no state.json
    val st = s"$d/store"
    val v = s"$d/view"
    val grp = Seq("v" -> col("v"))
    def state() = api.MatView.read(spark, v).select("v", "n_rows").as[(String, Long)]
      .collect().sortBy(_._1).toSeq
    api.UpsertStore.update(kv((1L, 1L, "a"), (2L, 1L, "b")), st, "k", "version",
      nBuckets = 4, batchId = Some("c1"))
    assert(api.MatView.refresh(spark, st, "k", v, grp, Seq("version")) == 1L)
    val schema = api.MatView.read(spark, v).schema.json
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$v/gen/state.json"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$v/gen/cursor.json"),
      s"""{"last_seq":1,"schema":${new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(schema)}}""")
    assert(api.MatView.cursor(spark, v) == 1L)
    assert(state() == Seq(("a", 1L), ("b", 1L)))
    api.UpsertStore.update(kv((3L, 1L, "a"), (2L, 2L, "a")), st, "k", "version",
      batchId = Some("c2"))
    assert(api.MatView.refresh(spark, st, "k", v, grp, Seq("version")) == 2L)
    // exactly the (1, 2] window: k=3 joins `a`, k=2 moves from `b` to `a`
    assert(state() == Seq(("a", 3L)))
    assert(new java.io.File(s"$v/gen").list().sorted.toSeq == Seq("state", "state.json"))
    assert(api.MatView.cursor(spark, v) == 2L)
    api.StoreIO.delete(spark, d)
  }

  test("SketchStore leaves no retired generation, heals a crashed swap, vacuums a dead staged write") {
    val sk = tmpDir("sketch_debris")
    api.SketchStore.build(langDocs(1L, 2L), sk)
    api.SketchStore.update(langDocs(3L), sk, Some("b1"))
    api.SketchStore.update(langDocs(4L), sk, Some("b2"))
    assert(new java.io.File(sk).list().sorted.toSeq == Seq("cms", "kmv"))
    // the staged writes of a real update, as a directory watcher sees them
    val seen = new java.util.concurrent.ConcurrentSkipListSet[String]()
    @volatile var watching = true
    val watcher = new Thread(() =>
      while (watching) {
        Option(new java.io.File(sk).list()).toSeq.flatten.filter(_.contains("staged"))
          .foreach(seen.add)
        Thread.sleep(1)
      })
    watcher.start()
    try api.SketchStore.update(langDocs(5L), sk, Some("b3"))
    finally { watching = false; watcher.join() }
    val staged = seen.asScala.toSeq
    assert(staged.map(_.take(3)) == Seq("cms", "kmv"), s"staged writes: $staged")
    // a writer that died after its staged write, before the swap, leaves
    // that directory complete (a failed write job removes its own output)
    val f = api.StoreIO.fs(spark, sk)
    staged.foreach(n => org.apache.hadoop.fs.FileUtil.copy(f,
      new org.apache.hadoop.fs.Path(s"$sk/${n.take(3)}"), f,
      new org.apache.hadoop.fs.Path(s"$sk/$n"), false, f.getConf))
    assert(api.StoreIO.vacuum(spark, sk) == ((2, 0)))
    assert(new java.io.File(sk).list().sorted.toSeq == Seq("cms", "kmv"))
    assert(api.SketchStore.distinctEstimate(spark, sk).as[(String, Long)].collect().toSeq ==
      Seq(("en", 5L)))
    assert(freq(sk, "hello")("hello") == 5L)
    // a swap that died between its renames: only `<sketch>-old` is left
    Seq("kmv", "cms").foreach(n =>
      assert(new java.io.File(s"$sk/$n").renameTo(new java.io.File(s"$sk/$n-old"))))
    assert(api.SketchStore.cmsGeometry(spark, sk) == ((4, 1024L)))
    assert(freq(sk, "hello")("hello") == 5L)
    noJobReplay("crashed SketchStore")(api.SketchStore.updateCms(langDocs(5L), sk, Some("b3")))
    api.SketchStore.update(langDocs(6L), sk, Some("b4"))
    assert(new java.io.File(sk).list().sorted.toSeq == Seq("cms", "kmv"))
    assert(freq(sk, "hello")("hello") == 6L)
    api.StoreIO.delete(spark, sk)
  }

  test("only a store's first generation sweeps the legacy paths") {
    val abs = new java.io.File(tmpDir("sweep")).getAbsolutePath
    val dir = s"rec://$abs" // the local FS, recording every delete
    spark.sparkContext.hadoopConfiguration.set("fs.rec.impl", classOf[DeleteRecordingFs].getName)
    val legacy = Seq("applied", "applied-old", "t", "t-old")
    def plantLegacy(): Unit = legacy.foreach(n => assert(new java.io.File(s"$abs/$n").mkdirs()))
    def commit(ids: String*): Seq[String] = {
      DeleteRecordingFs.deletes.clear()
      api.StoreIO.commitGen(spark, dir, ids, Some("t" -> Seq(1L, 2L).toDF("k")))
      DeleteRecordingFs.deletes.asScala.toSeq
    }
    plantLegacy()
    commit("b1")
    legacy.foreach(n => assert(!exists(s"$abs/$n"), s"first generation kept $n"))
    // once `gen` exists, a commit deletes only inside its own swap, and
    // legacy leftovers are inert: nothing reads them
    plantLegacy()
    val deletes = commit("b1", "b2")
    assert(deletes.contains(s"$abs/gen-old"), s"deletes: $deletes")
    val outside = deletes.filterNot(p => p == s"$abs/gen-old" || p.startsWith(s"$abs/gen-staged-"))
    assert(outside.isEmpty, s"deletes outside the swap: $outside")
    legacy.foreach(n => assert(exists(s"$abs/$n")))
    assert(ledger(dir) == Seq("b1", "b2"))
    assert(api.StoreIO.readTable(spark, dir, "t").count() == 2L)
    api.StoreIO.delete(spark, abs)
  }

  test("the JSON ledger keeps the newest ledgerWindow ids") {
    val d = tmpDir("bounded")
    val hour = 3600000000L
    api.SessionStore.build(events((1L, 0L, 0L)), d)
    (1 to 70).foreach { i =>
      assert(api.SessionStore.update(events((1L, i.toLong, i * hour)), d, Some(s"b$i")))
    }
    val ids = ledger(d)
    assert(ids.size == api.UpsertStore.ledgerWindow && ids.size == 64)
    assert(ids == (7 to 70).map(i => s"b$i"))
    noJobReplay("latest batch")(api.SessionStore.update(events((1L, 70L, 70 * hour)), d, Some("b70")))
    assert(api.SessionStore.read(spark, d).select("n_events").as[Long].collect().sum == 71L)
    api.StoreIO.delete(spark, d)
  }

  test("a corrupt recorded schema falls back to footer inference") {
    val d = tmpDir("corrupt_store")
    val v = tmpDir("corrupt_view")
    api.UpsertStore.update(kv((1L, 1L, "a"), (2L, 1L, "a"), (3L, 1L, "b")), d, "k", "version",
      nBuckets = 4, batchId = Some("c1"))
    val grp = Seq("v" -> col("v"))
    assert(api.MatView.refresh(spark, d, "k", v, grp, Seq("version")) == 1L)
    def state() = api.MatView.read(spark, v).select("v", "n_rows").as[(String, Long)]
      .collect().sortBy(_._1).toSeq
    val want = state()
    assert(want == Seq(("a", 2L), ("b", 1L)))
    val record = java.nio.file.Paths.get(s"$v/gen/state.json")
    // not JSON at all, and valid JSON naming a non-struct type
    Seq("\"{not a schema\"", "\"\\\"integer\\\"\"").foreach { bad =>
      java.nio.file.Files.writeString(record, s"""{"applied":[],"last_seq":1,"schema":$bad}""")
      assert(state() == want, s"schema $bad")
      assert(api.MatView.cursor(spark, v) == 1L)
    }
    // the view keeps maintaining itself from the fallback read
    api.UpsertStore.update(kv((4L, 1L, "b")), d, "k", "version", batchId = Some("c2"))
    assert(api.MatView.refresh(spark, d, "k", v, grp, Seq("version")) == 2L)
    assert(state() == Seq(("a", 2L), ("b", 2L)))
    api.StoreIO.delete(spark, d)
    api.StoreIO.delete(spark, v)
  }

  // ---- commit order -------------------------------------------------------

  test("between batches the later commit wins: a CDC trigger, then an API update") {
    implicit val ctx = spark.sqlContext
    val base = tmpDir("commit_order")
    val dir = s"$base/store"
    api.UpsertStore.update(kv((1L, 1L, "a1"), (2L, 1L, "b1")), dir, "k", "version",
      nBuckets = 4, batchId = Some("seed"))
    val mem = MemoryStream[(Long, Long, String)]
    mem.addData(Seq((1L, 5L, "a5"), (2L, 5L, "b5")))
    Streams.upsertSink(mem.toDF().toDF("k", "version", "v"), "k", "version", dir,
      s"$base/ckpt").awaitTermination()
    // the API batch commits after the trigger but carries a LOWER version
    // for key 1: versions arbitrate only inside one batch, so it still wins
    assert(api.UpsertStore.update(kv((1L, 3L, "a3")), dir, "k", "version",
      batchId = Some("api")))
    val got = api.UpsertStore.read(spark, dir).select("k", "version", "v")
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 3L, "a3"), (2L, 5L, "b5")))
    api.StoreIO.delete(spark, base)
  }
}

/** `rec://`: the local filesystem, recording the path of every delete. */
class DeleteRecordingFs extends api.NioRawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("rec:///")
  override def delete(p: org.apache.hadoop.fs.Path, recursive: Boolean): Boolean =
    DeleteRecordingFs.deletes.add(p.toUri.getPath) && super.delete(p, recursive)
}
object DeleteRecordingFs { val deletes = new java.util.concurrent.ConcurrentLinkedQueue[String]() }
