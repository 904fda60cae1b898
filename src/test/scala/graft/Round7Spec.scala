package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-7 batch: mergeable sketches and estimator audits. */
class Round7Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("KMV sketch is partition-independent and collapses duplicates") {
    import spark.implicits._
    val kmv4 = graft.functions.KmvAggregator.kmv(4)
    // 6 distinct values, heavy duplication; k=4 keeps the 4 smallest
    // DISTINCT values whatever the partitioning or merge order.
    val vals = Seq(50L, 10L, 40L, 10L, 10L, 30L, 60L, 20L, 20L, 50L)
    def sketch(parts: Int): Seq[Long] =
      vals.toDF("h").repartition(parts)
        .agg(kmv4(col("h")).as("mins"))
        .head().getSeq[Long](0)
    assert(sketch(1) == Seq(10L, 20L, 30L, 40L))
    assert(sketch(7) == Seq(10L, 20L, 30L, 40L))
    // under-filled sketch holds EVERY distinct value (exact mode)
    val under = Seq(9L, 7L, 9L, 7L, 8L).toDF("h")
      .agg(kmv4(col("h"))).head().getSeq[Long](0)
    assert(under == Seq(7L, 8L, 9L))
  }

  test("rel_agg_kmv_distinct: exact below k, within 4 sigma above") {
    val got = Registry.byKey("rel_agg_kmv_distinct").query(spark, TestSpark.sf).collect()
    val exact = Tables.t(spark, TestSpark.sf, "documents")
      .where("lang IS NOT NULL AND text IS NOT NULL")
      .groupBy("lang").agg(countDistinct("text").as("nd"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty)
    got.foreach { r =>
      val (lang, kth, est) = (r.getString(0), r.getLong(1), r.getLong(2))
      if (kth == -1L) assert(est == exact(lang), s"under-k branch must be exact for $lang")
      else {
        // KMV relative std err ~ 1/sqrt(k-2) ~ 12.7% at k=64; 4 sigma.
        val rel = math.abs(est.toDouble / exact(lang) - 1.0)
        assert(rel < 0.51, s"KMV estimate $est vs exact ${exact(lang)} for $lang (rel $rel)")
      }
    }
  }

  test("llm_heavy_hitters_cms: one-sided error, exact counts verified") {
    val got = Registry.byKey("llm_heavy_hitters_cms").query(spark, TestSpark.sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1),
        s"CMS must never undercount: ${r.getString(0)}")
      assert(r.getLong(3) == r.getLong(2) - r.getLong(1))
    }
    // ground-truth the single most frequent token independently
    val top = got.head
    val n = Tables.t(spark, TestSpark.sf, "documents")
      .select(explode(split(col("text"), " ")).as("t"))
      .where(col("t") === top.getString(0)).count()
    assert(top.getLong(1) == n, "exact column must be the true count")
  }

  test("llm_kn_bigram_lm == independent Scala replay on a fixture") {
    import spark.implicits._
    val dir = s"target/tmp/r7kn_${System.nanoTime()}"
    val texts = Seq(
      "a b a b a b c", "b a b a b", "a b a b", "c a b a", "a c a b a b")
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // second implementation: plain Scala maps, same IEEE formula tree
    val bi = texts.map(_.toLowerCase.split(" ").toSeq)
      .filter(_.size >= 2)
      .flatMap(ts => ts.zip(ts.tail))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c1 = bi.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val nSucc = bi.groupBy(_._1._1).view.mapValues(_.size.toLong).toMap
    val nPred = bi.groupBy(_._1._2).view.mapValues(_.size.toLong).toMap
    val b = bi.size.toLong
    val expect = bi.collect { case ((w1, w2), c12) if c12 >= 3 =>
      (w1, w2) -> ((math.max(c12 - 0.75, 0.0) / c1(w1)) +
        ((0.75 * nSucc(w1)) / c1(w1)) * (nPred(w2).toDouble / b))
    }.toMap
    val got = Registry.byKey("llm_kn_bigram_lm").query(spark, dir).collect()
    assert(got.nonEmpty && got.length == expect.size)
    got.foreach { r =>
      val k = (r.getString(0), r.getString(1))
      assert(r.getDouble(7) == expect(k), s"p_kn mismatch for $k")
    }
    // discounted + continuation mass stays a probability
    got.foreach(r => assert(r.getDouble(7) > 0.0 && r.getDouble(7) <= 1.0))
  }

  test("cmsSink fold == batch CMS counters regardless of batch boundaries") {
    import org.apache.spark.sql.functions._
    val docs = Tables.t(spark, TestSpark.sf, "documents")
    val stamp = System.nanoTime()
    val srcDir = s"target/tmp/r7cms_src_$stamp"
    val cmsDir = s"target/tmp/r7cms_out_$stamp"
    val ckDir = s"target/tmp/r7cms_ck_$stamp"
    // 4 files -> maxFilesPerTrigger(1) yields 4 micro-batches
    docs.repartition(4).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream
      .schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(srcDir)
    val q = graft.streaming.Streams.cmsSink(stream, cmsDir, ckDir)
    q.awaitTermination()
    val folded = graft.streaming.Streams.corpusCms(spark, cmsDir)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val batch = graft.ops.LlmText.cmsCounters(docs)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(folded == batch)
    assert(spark.read.parquet(cmsDir).select("batch_id").distinct().count() > 1,
      "parity must be across MULTIPLE micro-batches")
  }

  test("llm_source_overlap_kmv: union bounds, symmetry inputs, exact audit") {
    val got = Registry.byKey("llm_source_overlap_kmv").query(spark, TestSpark.sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (ea, eb, eu, ei, xi) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(eu >= math.max(ea, eb) - 1, s"union below max component: $r")
      assert(eu <= ea + eb, s"union above sum: $r")
      assert(ei >= 0 && ei <= math.min(ea, eb) + (ea + eb) / 4, s"inter out of range: $r")
      assert(xi >= 0)
    }
    // under-k sketches are exact sets, so inclusion-exclusion is exact:
    // whenever BOTH sketches and the union are under-filled the
    // estimated intersection must equal the audited exact one.
    val exact = got.filter(r => r.getLong(2) < 64 && r.getLong(3) < 64 && r.getLong(4) < 64)
    exact.foreach(r => assert(r.getLong(5) == r.getLong(6), s"under-k pair must be exact: $r"))
  }

  test("SketchStore: incremental updates land on the build-once sketches") {
    import org.apache.spark.sql.functions._
    val docs = Tables.t(spark, TestSpark.sf, "documents")
    val stamp = System.nanoTime()
    val onceDir = s"target/tmp/r7store_once_$stamp"
    val incrDir = s"target/tmp/r7store_incr_$stamp"
    graft.api.SketchStore.build(docs, onceDir)
    // three arbitrary disjoint batches, ingested one update at a time
    val b = docs.withColumn("b", pmod(col("doc_id"), lit(3)))
    (0 to 2).foreach(i =>
      graft.api.SketchStore.update(b.where(s"b = $i").drop("b"), incrDir))
    def kmv(dir: String) = spark.read.parquet(s"$dir/kmv")
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    def cms(dir: String) = spark.read.parquet(s"$dir/cms/counters")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(kmv(onceDir) == kmv(incrDir), "KMV union must be batch-invariant")
    assert(cms(onceDir) == cms(incrDir), "CMS add must be batch-invariant")
    // the stored sketch answers the operator's question without data:
    // estimates from the store equal the registry op's n_est column
    val fromStore = graft.api.SketchStore.distinctEstimate(spark, incrDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val fromOp = Registry.byKey("rel_agg_kmv_distinct").query(spark, TestSpark.sf)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(fromStore == fromOp)
    // point lookups against the stored CMS match the op's estimates
    val opTop = Registry.byKey("llm_heavy_hitters_cms").query(spark, TestSpark.sf)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val lookups = graft.api.SketchStore.freqEstimate(
        spark, incrDir, opTop.keys.toSeq.sorted)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(lookups == opTop)
  }

  test("rel_join_size_estimate: raw bound one-sided, corrected within 5%") {
    val r = Registry.byKey("rel_join_size_estimate").query(spark, TestSpark.sf).head()
    val (estUpper, est, exact, ppm) =
      (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    val trueExact = Tables.t(spark, TestSpark.sf, "orders").join(
      Tables.t(spark, TestSpark.sf, "lineitem"),
      org.apache.spark.sql.functions.expr("o_orderkey = l_orderkey")).count()
    assert(exact == trueExact)
    assert(estUpper >= exact, "CM inner product must overestimate")
    assert(ppm == math.abs(est - exact) * 1000000L / exact)
    // the collision-corrected estimator is what planning consults:
    // measured 5.7% at sf0.001 (1.5k keys) and 0.05% at sf0.01 —
    // variance shrinks with table size; 15% is the planning-grade pin
    assert(ppm < 150000, s"corrected estimate $est vs exact $exact ($ppm ppm)")
  }

  test("rel_bloom_fpr_audit: no false negatives by construction, sane FPR") {
    val r = Registry.byKey("rel_bloom_fpr_audit").query(spark, TestSpark.sf).head()
    val (nKeys, bitsSet, nProbes, fp, fprPpm, theoryPpm) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    assert(nProbes == 10000L)
    assert(bitsSet <= 6 * nKeys, "at most j bits per inserted key")
    assert(fprPpm == fp * 1000000L / nProbes)
    // at sf0.001 load (n=150, m=131072) theory is ~1e-13 — zero false
    // positives are certain; at larger SFs measured must track theory
    if (theoryPpm < 10) assert(fp <= 1, s"fp=$fp at near-zero load")
    else assert(fprPpm <= 6 * theoryPpm + 1000, s"measured $fprPpm vs theory $theoryPpm")
    // every inserted key must hit all its own bits: probe the filter
    // with the build keys through the SAME op arithmetic
    import org.apache.spark.sql.functions._
    val m = 131072
    def bitsOf(k: String) =
      s"transform(sequence(0, 5), i -> (" +
        s"CAST(conv(substring(md5(concat('b1:', CAST($k AS STRING))), 1, 8), 16, 10) AS BIGINT) + i * " +
        s"CAST(conv(substring(md5(concat('b2:', CAST($k AS STRING))), 1, 8), 16, 10) AS BIGINT)) % $m)"
    val keys = Tables.t(spark, TestSpark.sf, "customer").select(col("c_custkey").as("k"))
    val bits = keys.select(explode(expr(bitsOf("k"))).as("bit")).distinct()
    val selfMiss = keys.select(col("k"), explode(expr(bitsOf("k"))).as("bit"))
      .join(bits.withColumn("b1", lit(1L)), Seq("bit"), "left")
      .where("b1 IS NULL").count()
    assert(selfMiss == 0L, "a member key missed one of its own bits")
  }

  test("llm_lexical_diversity: ratios consistent and bounded") {
    val got = Registry.byKey("llm_lexical_diversity").query(spark, TestSpark.sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (nt, ty, hx, ttr, hap) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(ty <= nt && hx <= ty)
      assert(ttr == ty * 1000000L / nt && hap == hx * 1000000L / ty)
      assert(ttr <= 1000000L && hap <= 1000000L)
    }
  }

  test("kmvSink: streamed union == build-once, and replay is a no-op") {
    import org.apache.spark.sql.functions._
    val docs = Tables.t(spark, TestSpark.sf, "documents")
    val stamp = System.nanoTime()
    val srcDir = s"target/tmp/r7kmv_src_$stamp"
    val storeDir = s"target/tmp/r7kmv_store_$stamp"
    val onceDir = s"target/tmp/r7kmv_once_$stamp"
    docs.repartition(4).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream
      .schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(srcDir)
    graft.streaming.Streams.kmvSink(stream, storeDir, s"$storeDir.ck")
      .awaitTermination()
    graft.api.SketchStore.build(docs, onceDir)
    def kmv(dir: String) = spark.read.parquet(s"$dir/kmv")
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(kmv(storeDir) == kmv(onceDir), "streamed KMV must equal build-once")
    // idempotence: re-ingesting an already-merged batch changes nothing
    graft.api.SketchStore.updateKmv(docs.limit(100), storeDir)
    assert(kmv(storeDir) == kmv(onceDir), "KMV replay must be a no-op")
  }

  test("core_column_histogram: partitions the table, cumulative consistent") {
    val got = Registry.byKey("core_column_histogram").query(spark, TestSpark.sf).collect()
    assert(got.nonEmpty && got.length <= 20)
    val total = Tables.t(spark, TestSpark.sf, "orders").count()
    assert(got.map(_.getLong(3)).sum == total, "bins must partition all rows")
    assert(got.last.getLong(4) == total, "last cumulative == total")
    // cum is the running sum in bin order
    var run = 0L
    got.sortBy(_.getInt(0)).foreach { r =>
      run += r.getLong(3)
      assert(r.getLong(4) == run)
    }
  }

  test("rel_selectivity_estimate: interpolation lands near the exact count") {
    val r = Registry.byKey("rel_selectivity_estimate").query(spark, TestSpark.sf).head()
    val (est, exact, ppm) = (r.getLong(1), r.getLong(2), r.getLong(3))
    assert(ppm == math.abs(est - exact) * 1000000L / exact)
    // uniformish synthetic data: 20-bin interpolation is a few percent
    assert(ppm < 150000, s"histogram estimate $est vs exact $exact ($ppm ppm)")
  }

  test("llm_shingle_containment catches an embedded copy jaccard misses") {
    import spark.implicits._
    val dir = s"target/tmp/r7cont_${System.nanoTime()}"
    // doc 1 = 20 tokens; doc 2 = those 20 tokens inside 180 tokens of
    // other text: containment(1 in 2) = 1.0, jaccard ~ 0.1 (< 0.2 gate)
    val core = (1 to 20).map(i => s"core$i").mkString(" ")
    val wrap = (1 to 180).map(i => s"boiler$i").mkString(" ")
    Seq((1L, core), (2L, s"$wrap $core"), (3L, "unrelated text entirely " +
        (1 to 30).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cont = Registry.byKey("llm_shingle_containment").query(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(cont.contains((1L, 2L)), s"containment must flag the embedded copy: $cont")
    assert(cont((1L, 2L)) >= 0.85)
    assert(!cont.keySet.exists(p => p._1 == 3L || p._2 == 3L))
    val jac = Registry.byKey("llm_ngram_jaccard").query(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((1L, 2L)),
      "fixture broken: jaccard should sit under its 0.2 gate here")
  }

  test("rel_quantile_sketch_audit: monotone quantiles within interpolation error") {
    val got = Registry.byKey("rel_quantile_sketch_audit").query(spark, TestSpark.sf).collect()
    assert(got.map(_.getInt(0)).toSeq == Seq(50, 90, 99))
    // quantiles must be monotone in q, estimates within 1% (the 256-bin
    // interpolation measures 3-61 ppm at sf0.01)
    val ests = got.map(_.getDouble(1))
    assert(ests.sorted.toSeq == ests.toSeq)
    got.foreach { r =>
      assert(r.getLong(3) == math.floor(
        math.abs(r.getDouble(1) - r.getDouble(2)) / r.getDouble(2) * 1000000.0).toLong)
      assert(r.getLong(3) < 10000, s"q${r.getInt(0)}: ${r.getLong(3)} ppm")
    }
  }

  test("SketchStore survives the swap crash window via the retired generation") {
    val docs = Tables.t(spark, TestSpark.sf, "documents")
    val dir = s"target/tmp/r7crash_${System.nanoTime()}"
    graft.api.SketchStore.build(docs, dir)
    val before = graft.api.SketchStore.distinctEstimate(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // simulate a crash between the two swap renames: cur retired,
    // staged never promoted
    assert(new java.io.File(s"$dir/kmv").renameTo(new java.io.File(s"$dir/kmv.retired")))
    val after = graft.api.SketchStore.distinctEstimate(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after == before, "read must fall back to the retired generation")
    // an update on the crashed store merges onto the retired gen and
    // re-promotes a complete current generation
    graft.api.SketchStore.updateKmv(docs, dir)
    assert(new java.io.File(s"$dir/kmv").exists())
    val healed = graft.api.SketchStore.distinctEstimate(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(healed == before, "idempotent re-merge must land on the same sketch")
  }

  test("llm_dup_rate_kmv: exact column true, estimate tracks it") {
    val got = Registry.byKey("llm_dup_rate_kmv").query(spark, TestSpark.sf).collect()
    assert(got.nonEmpty)
    val card = Tables.t(spark, TestSpark.sf, "documents")
      .where("lang IS NOT NULL AND text IS NOT NULL")
      .groupBy("lang").agg(
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.countDistinct("text").as("nd"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    got.foreach { r =>
      val (lang, n, est, estPpm, exPpm) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      val (cn, cnd) = card(lang)
      assert(n == cn && exPpm == (cn - cnd) * 1000000L / cn)
      assert(est <= n && estPpm == (n - est) * 1000000L / n)
      // under-k langs are exact; estimator noise stays under 10 pct pts
      assert(math.abs(estPpm - exPpm) < 100000, s"$lang: est $estPpm vs exact $exPpm")
    }
  }

  test("llm_temperature_mix: weights normalize, targets bounded, order preserved") {
    val got = Registry.byKey("llm_temperature_mix").query(spark, TestSpark.sf).collect()
    assert(got.nonEmpty)
    val nTotal = Tables.t(spark, TestSpark.sf, "documents").count()
    val wSum = got.map(_.getLong(2)).sum
    // floor division loses < 1 unit per group
    assert(wSum <= 1000000000L && wSum > 1000000000L - got.length)
    assert(got.map(_.getLong(3)).sum <= nTotal)
    // temperature flattens but never reorders the distribution
    val byN = got.sortBy(_.getLong(1))
    assert(byN.map(_.getLong(2)).toSeq == byN.map(_.getLong(2)).sorted.toSeq)
    // tail langs are upsampled relative to proportional share: the
    // smallest lang's weight share must exceed its doc share
    val small = byN.head
    assert(small.getLong(2).toDouble / 1e9 > small.getLong(1).toDouble / nTotal)
  }
}
