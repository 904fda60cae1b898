package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Per-operator invariants over the sf0.001 fixtures plus literal
  * mini-frame tests for the semantic corners (SURVEY.md §5).
  */
class OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sf = TestSpark.sf
  private def q(key: String) = Registry.byKey(key).query(spark, sf)

  test("registry: keys unique, every oracle belongs to a query") {
    assert(Registry.all.map(_.key).distinct.size == Registry.all.size)
    // pinned sizes: regrouping the op modules must not drop an op
    assert(Registry.all.size == 355)
    assert(SparkEntry.oracleSql.size == 355)
    val keys = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(keys))
    // full-coverage invariant: every operator is DuckDB-oracle-checked,
    // so the driver's t2 gate covers the whole registry — an op added
    // without an oracle silently downgrades its check and fails here
    val missing = Registry.all.filter(_.oracle.isEmpty).map(_.key)
    assert(missing.isEmpty, s"ops without oracles: $missing")
    // object-initialization-order guard: an oracle built from a shared
    // CTE val declared AFTER `ops` captures the literal string "null"
    // (seen live with oSubstringCtes) — every oracle keeps uppercase
    // NULL, so a lowercase standalone token is always that bug
    val nullCaptured = Registry.all.filter(_.oracle.exists(
      _.matches("(?s).*(?<![A-Za-z_])null(?![A-Za-z_(]).*"))).map(_.key)
    assert(nullCaptured.isEmpty, s"oracles with captured-null fragments: $nullCaptured")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("core_dedupe_keep_latest keeps exactly the latest event per user") {
    val got = q("core_dedupe_keep_latest").cache()
    assert(got.groupBy("user_id").count().where("count > 1").isEmpty)
    val maxTs = Tables.events(spark, sf).groupBy("user_id").agg(max("ts").as("mx"))
    assert(got.join(maxTs, "user_id").where("ts <> mx").isEmpty)
  }

  test("rel_join_semi_anti partitions customers") {
    val got = q("rel_join_semi_anti").cache()
    val nCust = Tables.t(spark, sf, "customer").count()
    assert(got.count() == nCust)
    assert(got.select("c_custkey").distinct().count() == nCust)
  }

  test("rel_join_asof matches latest purchase at or before each click") {
    val got = q("rel_join_asof").cache()
    val nClicks = Tables.events(spark, sf).where("event_type = 'click'").count()
    assert(got.count() == nClicks)
    assert(got.where("buy_ts IS NOT NULL AND buy_ts > click_ts").isEmpty)
  }

  test("strm_dedup_stateful is idempotent and keyed uniquely") {
    val got = q("strm_dedup_stateful").cache()
    assert(got.groupBy("user_id", "event_type").count().where("count > 1").isEmpty)
  }

  test("llm_dedup_exact accounts for every document") {
    val total = Tables.t(spark, sf, "documents").count()
    assert(q("llm_dedup_exact").agg(sum("n_dups")).head.getLong(0) == total)
  }

  test("llm_similarity_topk returns k descending sims in [-1, 1]") {
    val sims = q("llm_similarity_topk").select("sim").as[Double].collect()
    assert(sims.length == 10)
    assert(sims.forall(s => s >= -1.0 - 1e-9 && s <= 1.0 + 1e-9))
    assert(sims.sliding(2).forall(p => p(0) >= p(1)))
  }

  test("llm_fingerprint stays within the modulus") {
    assert(q("llm_fingerprint").where("fp < 0 OR fp >= 1000000007").isEmpty)
  }

  test("src_csv_roundtrip preserves region") {
    val region = Tables.t(spark, sf, "region").orderBy("r_regionkey").collect()
    assert(q("src_csv_roundtrip").collect().toSeq == region.toSeq)
  }

  test("cosine fold: duplicate=1, orthogonal=0, antipodal=-1") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 2.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 2.0f, 0.0f)),
      (3L, Array(0.0f, 3.0f, 0.0f, 0.0f)),
      (4L, Array(-1.0f, 0.0f, -2.0f, 0.0f))).toDF("id", "v")
    val probe = df.where("id = 1").select(col("v").as("p"))
    val sims = df.crossJoin(probe)
      .select(col("id"), expr(graft.ops.LlmOps.sim("v", "p")).as("s"))
      .orderBy("id").as[(Long, Double)].collect().toMap
    assert(math.abs(sims(2L) - 1.0) < 1e-12)
    assert(math.abs(sims(3L)) < 1e-12)
    assert(math.abs(sims(4L) + 1.0) < 1e-12)
  }

  test("rel_pivot cells account for every order") {
    val total = Tables.t(spark, sf, "orders").count()
    val cells = q("rel_pivot").agg(sum(expr("n_f + n_o + n_p"))).head.getLong(0)
    assert(cells == total)
  }

  test("llm_sample_stratified rate is near the nominal 20%") {
    val total = Tables.t(spark, sf, "documents").count().toDouble
    val kept = q("llm_sample_stratified").count().toDouble
    assert(kept / total > 0.10 && kept / total < 0.32)
  }

  test("llm_ann_lsh returns at most k bucket-mates, sims descending") {
    val rows = q("llm_ann_lsh").select("sim").as[Double].collect()
    assert(rows.length <= 5)
    assert(rows.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
  }

  test("llm_corpus_dedupe keeps exactly one doc per signature group") {
    val kept = q("llm_corpus_dedupe").count()
    val groups = Tables.t(spark, sf, "documents")
      .select(expr("array_join(array_sort(array_distinct(split(lower(text), ' '))), ' ')").as("sig"))
      .distinct().count()
    assert(kept == groups)
  }

  test("levenshtein blocking finds constructed near-dups and rejects far pairs") {
    // the real corpus has no near-identical docs (llm_dedup_levenshtein
    // correctly returns 0 rows there) — pin the logic on literal data
    val docs = Seq(
      (1L, "en", 20L, "the quick brown fox!"),
      (2L, "en", 20L, "the quick brown fox?"), // dist 1 <= 20/5 -> pair
      (3L, "en", 20L, "a totally other text"), // same length, far -> no
      (4L, "de", 20L, "the quick brown fox!")  // other lang block -> no
    ).toDF("doc_id", "lang", "n_chars", "text")
    val pairs = docs.as("x").join(docs.as("y"),
        col("x.lang") === col("y.lang") &&
          col("x.n_chars") === col("y.n_chars") &&
          col("x.doc_id") < col("y.doc_id"))
      .withColumn("dist", levenshtein(col("x.text"), col("y.text")))
      .where("dist <= CAST(x.n_chars AS INT) / 5")
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  /** The graft functions (by `ExpressionInfo` class) in a session's registry. */
  private def graftFunctions(s: org.apache.spark.sql.SparkSession): Set[String] = {
    val reg = s.sessionState.functionRegistry
    reg.listFunction().filter(reg.lookupFunction(_).exists(_.getClassName == "graft"))
      .map(_.funcName).toSet
  }

  test("GraftExtensions registers the native functions in a fresh session") {
    import org.apache.spark.sql.SparkSession
    val prev = spark // ensure base session exists first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val withExt = api.Sessions.minimal(4).appName("graft-ext-test")
        .withExtensions(new GraftExtensions).getOrCreate()
      val r = withExt.sql(
        "SELECT cosine_sim(array(CAST(1 AS FLOAT), CAST(0 AS FLOAT)), array(CAST(1 AS FLOAT), CAST(0 AS FLOAT))) AS s, " +
        "simhash32(shingle_hashes('a b c d')) AS h, " +
        "bloom_might_contain((SELECT bloom_agg(xxhash64(id)) FROM range(10)), xxhash64(CAST(3 AS BIGINT))) AS b").collect().head
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
      assert(r.getLong(1) != 0L)
      assert(r.getBoolean(2))
      // the injected and the installed table are the same table
      val installed = prev.newSession()
      assert(graftFunctions(installed).isEmpty)
      GraftExtensions.install(installed)
      assert(graftFunctions(withExt) == graftFunctions(installed))
      assert(graftFunctions(installed) == Set("cosine_sim", "shingle_hashes", "minhash_sig",
        "simhash32", "bloom_agg", "bloom_might_contain"))
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  test("ops and entry points install the functions and as-of rules once, quietly") {
    val fresh = spark.newSession() // no temp functions, no extra strategies
    val logged = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "graft-install-test", null, null, true, Array.empty) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        logged.add(e.getMessage.getFormattedMessage)
    }
    val root = org.apache.logging.log4j.LogManager.getRootLogger
      .asInstanceOf[org.apache.logging.log4j.core.Logger]
    appender.start()
    root.addAppender(appender)
    try {
      for (_ <- 1 to 2; k <- Seq("llm_dedup_minhash", "rel_join_bloom_prefilter"))
        Registry.byKey(k).query(fresh, sf)
      val docs = fresh.read.parquet(s"$sf/documents.parquet")
      assert(api.MinHashIndex.signatures(docs).count() > 0L)
      val emb = fresh.read.parquet(s"$sf/embeddings.parquet").orderBy("vec_id")
      val probes = emb.limit(2).select(col("vec_id").as("p_id"), col("embedding").as("p_emb"))
      val cells = emb.limit(1).select(lit(0).as("c_id"), col("embedding").as("c_vec"))
      assert(api.AnnIndex.search(emb.withColumn("c_id", lit(0)), cells, probes, 2, 1).count() == 4L)
      val ids = fresh.range(3).select(col("id").as("k"), col("id").as("ts"), col("id").as("v"))
      assert(plans.AsOf.join(ids.drop("v"), ids, Seq("k"), "ts", "ts", Seq("v")).where("v = k")
        .count() == 3L)
    } finally { root.removeAppender(appender); appender.stop() }
    val replaced = logged.toArray.filter(_.toString.contains("replaced a previously registered"))
    assert(replaced.isEmpty, s"re-registrations logged: ${replaced.toSeq}")
    val strategies = fresh.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .experimental.extraStrategies
    assert(strategies.count(_ == plans.AsOfJoinStrategy) == 1, s"strategies: $strategies")
  }

  test("codegen CosineSimilarity is bit-identical to the declarative fold") {
    graft.functions.CosineSimilarity.register(spark)
    val emb = Tables.t(spark, sf, "embeddings")
    val probe = emb.where("vec_id = 0").select(col("embedding").as("p"))
    val both = emb.crossJoin(probe)
      .select(
        expr("cosine_sim(embedding, p)").as("fast"),
        expr(graft.ops.LlmOps.sim("embedding", "p")).as("fold"))
      .as[(Double, Double)].collect()
    assert(both.nonEmpty)
    assert(both.forall { case (f, g) =>
      java.lang.Double.doubleToLongBits(f) == java.lang.Double.doubleToLongBits(g) })
  }

  test("sessionize window-trick: gap fixture incl. exact-30min boundary") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def plus(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    // user 1: gaps 1m, 10m, 45m -> sessions {a,b,c | d};
    // user 2: exact 30m gap -> boundary-touching, SAME session
    // (session_window merges windows that touch; 31m -> new session).
    val events = Seq(
      (1L, 1L, plus(0)), (1L, 2L, plus(1)), (1L, 3L, plus(11)), (1L, 4L, plus(56)),
      (2L, 5L, plus(0)), (2L, 6L, plus(30)), (2L, 7L, plus(61))).toDF("user_id", "event_id", "ts")
    val got = graft.ops.StreamingOps.sessionizeBatch(events)
      .select("user_id", "event_id", "session_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 1L, 1L), (1L, 2L, 1L), (1L, 3L, 1L), (1L, 4L, 2L),
      (2L, 5L, 1L), (2L, 6L, 1L), (2L, 7L, 2L)))
  }

  test("multimodal decode: real PNG payloads, lossless codec round-trip") {
    import graft.ops.Multimodal
    val assets = Multimodal.imageAssets(spark, sf)
    // the binary column holds genuine PNG files (magic header)
    val heads = assets.limit(5).collect()
    assert(heads.forall(a => a.png.length > 8 &&
      (a.png(0) & 0xff) == 0x89 && a.png(1) == 'P' && a.png(2) == 'N' && a.png(3) == 'G'))
    val stats = Multimodal.decodeImages(assets).orderBy("asset_id").collect()
    assert(stats.length == 500)
    // decoded dimensions match the generator's formula, and channel sums
    // are bounded by 255 * pixels (a color-space or byte-order slip in
    // the codec path would blow these)
    assert(stats.forall { st =>
      st.width == (8 + st.asset_id % 9).toInt &&
        st.height == (8 + st.asset_id % 7).toInt &&
        st.sum_r <= 255L * st.width * st.height && st.sum_r >= 0
    })
    // one exact pixel-sum spot check against the formula, off-codec
    val s0 = stats.find(_.asset_id == heads.head.asset_id).get
    val id = s0.asset_id
    val exp = (for { y <- 0 until s0.height; x <- 0 until s0.width }
      yield (id * 31 + x * 7 + y * 13) % 256).sum
    assert(s0.sum_r == exp)
    val resized = Multimodal.resizeImages(assets, 4).collect()
    assert(resized.forall(r => r.width == 4 && r.height == 4 &&
      r.sum_r <= 255L * 16 && r.sum_g <= 255L * 16 && r.sum_b <= 255L * 16))
  }

  test("llm_dedup_cluster merges transitively-linked docs into one component") {
    // three docs in a sliding 12-token window: 1~2 and 2~3 overlap enough
    // (jaccard 6/14 ≈ 0.43) but 1~3 share only 2 of 18 trigrams (≈ 0.11
    // < τ) — so doc 3 joins doc 1's cluster ONLY via label propagation
    // through doc 2, which is exactly the transitivity being pinned.
    val toks = (1 to 20).map(i => s"t$i")
    def text(from: Int) = toks.slice(from - 1, from - 1 + 12).mkString(" ")
    val dir = "target/tmp/cc_docs"
    Seq(
      (1L, text(1), "en", "src0", 12L),
      (2L, text(5), "en", "src0", 12L),
      (3L, text(9), "en", "src0", 12L),
      (4L, "completely different tokens here with no overlap at all whatsoever", "en", "src0", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = Registry.byKey("llm_ngram_jaccard").query(spark, dir)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (2L, 3L)))
    val clusters = Registry.byKey("llm_dedup_cluster").query(spark, dir)
      .as[(Long, Long)].collect().toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }
}
