package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-8 pins: the sketch-sizing loop (KMV cardinality → CMS width /
  * Bloom geometry), the replay-safe CMS batch ledger, and the
  * empty-cell-is-zero CMS point-query fix.
  */
class Round8Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("auto-sized CMS join estimate stays <5% on a high-cardinality corpus") {
    // 200k distinct keys — 200× the width the round-7 fixed w=1024 CMS
    // was built for, the regime where its raw estimate read 15.6× high.
    // The KMV-derived width must absorb the cardinality jump by design.
    val a = spark.range(0L, 200000L).select(col("id").as("ka"))
    val b = spark.range(0L, 600000L).select((col("id") % 200000L).as("kb"))
    val r = ops.Relational.autosizedJoinEstimate(a, "ka", b, "kb").head()
    val (nEst, w, est, exact) = (r.getLong(0), r.getLong(1), r.getLong(4), r.getLong(5))
    assert(exact == 600000L)
    assert(w >= 2 * nEst && w >= 1024L, s"width must come from the estimate: w=$w n=$nEst")
    // KMV k=64 → σ ≈ n/√63 ≈ 12.6%; 4σ bound on the sizing input
    assert(math.abs(nEst - 200000L) <= 200000L / 2, s"sizing cardinality off: $nEst")
    val errPct = math.abs(est - exact).toDouble / exact * 100
    assert(errPct < 5.0, s"corrected estimate must stay within 5%: est=$est ($errPct%)")
  }

  test("tokenCardinality KMV estimate tracks the exact distinct-token count") {
    val docs = Tables.t(spark, TestSpark.sf, "documents")
    val exact = docs.where("text IS NOT NULL")
      .select(explode(split(col("text"), " ")).as("tok"))
      .where("tok <> ''").select("tok").distinct().count()
    val est = api.SketchStore.tokenCardinality(docs)
    // k=64 KMV: σ ≈ n/√63; allow 4σ
    assert(math.abs(est - exact) <= math.max(4L, (4 * exact / math.sqrt(63)).toLong),
      s"est=$est exact=$exact")
  }

  test("buildSized derives the CMS width from the corpus and persists it") {
    // synthetic vocabulary-rich corpus: 100 heavy tokens (20 hits each)
    // + 2000 singletons → ~2100 distinct tokens, forcing the sized
    // width beyond the 1024 default the fixed-literal path would use
    val docs = (0L until 2000L)
      .map(i => (i, s"common${i % 100} unique$i", "en", "s", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = s"target/tmp/r8sized_${System.nanoTime()}"
    val w = api.SketchStore.buildSized(docs, dir)
    val (d, wStored) = api.SketchStore.cmsGeometry(spark, dir)
    assert(d == 4 && wStored == w)
    assert(w == api.SketchStore.cmsWidthFor(api.SketchStore.tokenCardinality(docs)))
    assert(w > api.SketchStore.DefaultWidth,
      s"~2100 distinct tokens must size the width beyond the 1024 default: $w")
    // the wider sketch keeps one-sided error and, at load ≤ ½, the
    // heavy hitters' estimates should collapse onto the exact counts
    val exact = ops.LlmText.tokenCounts(docs).orderBy(desc("exact"), asc("tok"))
      .limit(20).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ests = api.SketchStore.freqEstimate(spark, dir, exact.keys.toSeq.sorted)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (t, c) =>
      assert(ests(t) >= c, s"CMS must never undercount: $t")
    }
    val overcount = exact.keys.map(t => ests(t) - exact(t)).sum
    assert(overcount == 0L,
      s"at ≤½ expected keys per cell the top-20 min-of-rows estimates are exact; overcount=$overcount")
  }

  test("updateCms with a batch id is replay-safe: double-apply == single-apply") {
    val docs = Tables.t(spark, TestSpark.sf, "documents")
    val dir = s"target/tmp/r8ledger_${System.nanoTime()}"
    val batches = docs.withColumn("b", pmod(col("doc_id"), lit(2)))
    api.SketchStore.build(batches.where("b = 0").drop("b"), dir)
    def counters() = spark.read.parquet(s"$dir/cms/counters")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val b1 = batches.where("b = 1").drop("b")
    assert(api.SketchStore.updateCms(b1, dir, Some("batch-1")))
    val afterOnce = counters()
    // the retry a crash-recovering ingestion driver would issue
    assert(!api.SketchStore.updateCms(b1, dir, Some("batch-1")),
      "replayed batch id must be recognized as already applied")
    assert(counters() == afterOnce, "double-apply must not change any cell")
    // and the ledgered result equals the build-once sketch of the union
    val onceDir = s"target/tmp/r8ledger_once_${System.nanoTime()}"
    api.SketchStore.build(docs, onceDir)
    assert(counters() == spark.read.parquet(s"$onceDir/cms/counters")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap)
  }

  test("CMS point query treats absent cells as zero counts") {
    // one tiny doc -> almost every cell of the 4x1024 table is ABSENT;
    // a token the corpus never saw must estimate 0 (an empty cell in
    // its row-min), not the min of whatever collides in non-empty cells
    val dir = s"target/tmp/r8zero_${System.nanoTime()}"
    val one = Seq((1L, "alpha beta gamma", "en", "s", 16L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    api.SketchStore.build(one, dir)
    val est = api.SketchStore.freqEstimate(spark, dir,
        Seq("alpha", "beta", "zzabsent"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("alpha") == 1L && est("beta") == 1L)
    assert(est("zzabsent") == 0L,
      s"absent token must estimate 0, got ${est("zzabsent")}")
  }

  test("bloomSizeFor lands the textbook geometry and the op agrees") {
    val (m, j) = api.SketchStore.bloomSizeFor(1500L, 0.01)
    assert(j == 7, s"1% fpr optimum is 7 probes: $j")
    assert(math.abs(m - math.ceil(1500 * 9.585).toLong) <= 2, s"m=$m")
    // registry op geometry (from the KMV estimate) matches the library
    // formula applied to ITS sizing input, modulo fixed-point flooring
    val r = Registry.byKey("llm_bloom_autosized").query(spark, TestSpark.sf).head()
    val (nEst, opM, opJ) = (r.getLong(1), r.getLong(2), r.getLong(3))
    val (libM, libJ) = api.SketchStore.bloomSizeFor(nEst, 0.01)
    assert(math.abs(opM - libM) <= nEst / 100000 + 2, s"opM=$opM libM=$libM")
    assert(opJ == libJ, s"opJ=$opJ libJ=$libJ")
    // the measured FPR must track the theory value computed from the
    // EXACT key count (the op's own audit column) within binomial noise
    // on 10k probes, and stay inside the sizing-slack envelope: the
    // k=64 sketch sizes m to ±~13% (1σ), so the realized FPR is
    // target-ORDER (here ≤5×1%), not target-exact — by design, since
    // the filter must be sized before the exact count exists
    val (fpr, theory) = (r.getLong(7), r.getLong(8))
    assert(math.abs(fpr - theory) <= 6000L, s"fpr=$fpr theory=$theory")
    assert(fpr <= 50000L, s"measured fpr_ppm $fpr outside the sizing-slack envelope")
  }

  test("llm_minhash_incremental finds the seeded batch-vs-corpus near-dup pair") {
    val out = Registry.byKey("llm_minhash_incremental")
      .query(spark, TestSpark.sf).collect()
    val seeded = out.filter(r => r.getLong(0) == 899999997L)
    assert(seeded.exists(_.getLong(1) == 899999998L),
      "the constructed 10/11-shingle near-dup pair must survive banding + estimate")
    assert(seeded.forall(_.getDouble(2) >= 0.5))
    // the incremental direction is strict: batch ids only on the left,
    // corpus ids only on the right
    assert(out.forall(r => r.getLong(0) % 17 == 5 && r.getLong(1) % 17 != 5))
  }

  test("MinHashIndex store: check == one-shot matches; replayed update is a no-op") {
    val docs = Tables.t(spark, TestSpark.sf, "documents").select("doc_id", "text")
    val corpus = docs.where("doc_id % 17 <> 5")
    val batch = docs.where("doc_id % 17 = 5")
    val dir = s"target/tmp/r8mhidx_${System.nanoTime()}"
    api.MinHashIndex.build(corpus, dir)
    val stored = api.MinHashIndex.check(batch, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val oneShot = api.MinHashIndex.matches(
        api.MinHashIndex.signatures(batch), api.MinHashIndex.signatures(corpus))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stored == oneShot,
      "persistent-index check must equal the one-shot batch-vs-corpus path")
    // ledgered replay: the second apply of the same batch id is a no-op
    def sigCount() = api.MinHashIndex.read(spark, dir).count()
    assert(api.MinHashIndex.update(batch, dir, Some("b-1")))
    val afterOnce = sigCount()
    assert(!api.MinHashIndex.update(batch, dir, Some("b-1")))
    assert(sigCount() == afterOnce)
    // and even an unledgered replay cannot duplicate doc_ids
    assert(api.MinHashIndex.update(batch, dir, None))
    assert(sigCount() == afterOnce, "doc_id-keyed merge must dedup replays")
  }

  test("BM25 ranks the all-terms doc first and respects length normalization") {
    val dir = s"target/tmp/r8bm25_${System.nanoTime()}"
    // doc 1: all of q1's terms, short; doc 2: same terms + padding
    // (length-normalized below doc 1); doc 3: one term only
    Seq(
      (1L, "hash join table", "en", "s", 15L),
      (2L, "hash join table pad pad pad pad pad pad pad pad pad", "en", "s", 52L),
      (3L, "hash pad pad", "en", "s", 12L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val q1 = Registry.byKey("llm_bm25_topk").query(spark, dir)
      .where("q_id = 1").orderBy("rank")
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(q1.take(2).toSeq == Seq((1, 1L), (2, 2L)),
      s"short all-terms doc must outrank the padded one: ${q1.toSeq}")
  }

  test("RRF fusion: the both-signal candidate beats either single-signal winner") {
    val dir = s"target/tmp/r8rrf_${System.nanoTime()}"
    // probe 0: doc 1 wins cosine alone (identical vector, alien text),
    // doc 2 wins tokens alone (identical text, orthogonal vector),
    // doc 3 is second on BOTH — fusion must put a two-list candidate
    // (here doc 2: tok_rank 1 + cos_rank 3) over the cosine-only winner
    Seq(
      (0L, "alpha beta gamma", "en", "s", 16L),
      (1L, "zz1 zz2 zz3", "en", "s", 11L),
      (2L, "alpha beta gamma", "en", "s", 16L),
      (3L, "alpha beta zz9", "en", "s", 14L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Seq(
      (0L, Array(1f, 0f), 0), (1L, Array(1f, 0f), 0),
      (2L, Array(0f, 1f), 0), (3L, Array(2f, 1f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val p0 = Registry.byKey("llm_rrf_fusion").query(spark, dir)
      .where("p_id = 0").orderBy("rank")
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(p0.head == ((1, 2L)),
      s"doc 2 (tok #1 + cos #3) must outrank the cosine-only doc 1: ${p0.toSeq}")
    assert(p0.map(_._2).contains(1L), "the cosine-only winner still places")
  }

  test("PQ: zero reconstruction error and perfect ADC recall on 8-pattern data") {
    // 32 vectors = 8 distinct patterns x 4 copies; the first 8 ids ARE
    // the patterns, so Lloyd's seeds start on the optimum: every
    // subspace codebook must represent the corpus EXACTLY (pattern
    // values are 1e-4-exact, so the fixed-point centroid rebuild is
    // lossless), and code-only ADC ranking must equal the exact-L2
    // ranking — recall@5 = 1.0. On the random synthetic corpus the op
    // honestly measures near-zero recall (4x8 codes cannot separate
    // unclusterable vectors); THIS pins that the machinery, not the
    // data, decides the number.
    val dir = s"target/tmp/r8pq_${System.nanoTime()}"
    (0 until 32).map { i =>
      (i.toLong, Array.fill(64)((i % 8 + 1).toFloat), 0)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    (0 until 32).map(i => (i.toLong, s"doc $i pad", "en", "s", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val jobsBefore = api.AnnIndex.trainJobs
    val mse = Registry.byKey("llm_pq_train").query(spark, dir)
      .collect().map(r => r.getInt(0) -> r.getLong(3)).toMap
    assert(mse.values.forall(_ == 0L),
      s"8 codewords must represent 8 patterns losslessly: $mse")
    val rec = Registry.byKey("llm_pq_adc_recall").query(spark, dir)
      .collect().map(_.getLong(3))
    assert(rec.nonEmpty && rec.forall(_ == 1000000L),
      s"ADC ranking must equal exact-L2 ranking on pattern data: ${rec.toSeq}")
    // the memoized combined subspace training: ONE Lloyd stream trains
    // all 4 codebooks, and the PQ pair shares it within the session
    assert(api.AnnIndex.trainJobs - jobsBefore == 1,
      s"expected ONE shared subspace training, ran ${api.AnnIndex.trainJobs - jobsBefore}")
  }

  test("blocklist filter flags unigram and bigram hits, never the absent phrase") {
    val out = Registry.byKey("llm_blocklist_filter")
      .query(spark, TestSpark.sf).collect()
    assert(out.nonEmpty, "the organic corpus contains 'spark' tokens")
    assert(out.forall(!_.getString(4).contains("drop cascade")),
      "the corpus never contains the absent phrase")
    val terms = out.flatMap(_.getString(4).split('|')).toSet
    assert(terms.contains("spark"))
    assert(terms.contains("slow row"),
      "adjacent-bigram matching must fire on the organic corpus")
  }
}
