package graft.tools

import org.apache.spark.sql.functions._

/** Scale smoke: amplify the sf0.1 documents/embeddings tables (20x / 10x,
  * every row duplicated — a pathological near-dup corpus) into
  * target/tmp/sfbig and time the heavy operators on it. Usage:
  *
  *   SPARK_DRIVER_MEM=48g sbt "runMain graft.tools.ScaleProbe [keys...]"
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.api.Sessions.minimal(graft.api.Sessions.envCores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val big = "target/tmp/sfbig"
    if (!new java.io.File(s"$big/documents.parquet").exists()) {
      val docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      val copies = spark.range(20).select(col("id").as("copy"))
      docs.crossJoin(copies)
        .withColumn("doc_id", col("doc_id") + col("copy") * 1000000L).drop("copy")
        .repartition(32).write.mode("overwrite").parquet(s"$big/documents.parquet")
      emb.crossJoin(copies.where("copy < 10"))
        .withColumn("vec_id", col("vec_id") + col("copy") * 1000000L).drop("copy")
        .repartition(32).write.mode("overwrite").parquet(s"$big/embeddings.parquet")
    }
    if (!new java.io.File(s"$big/events.parquet").exists()) {
      // 10x events with disjoint users per copy — grows both sides of the
      // as-of join without changing per-key density
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val ev = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
      val copies = spark.range(10).select(col("id").as("copy"))
      ev.crossJoin(copies)
        .withColumn("event_id", col("event_id") + col("copy") * 100000000L)
        .withColumn("user_id", col("user_id") + col("copy") * 1000000L)
        .drop("copy")
        .repartition(32).write.mode("overwrite").parquet(s"$big/events.parquet")
    }

    // 20x TPC-H fact/dim tables with DISJOINT shifted keys per copy (FK
    // relations preserved: every key column participating in a join is
    // shifted by the same copy offset on both sides), so the relational /
    // source / function registry keys can run under the same amplified
    // corpus as the documents family. region/nation stay verbatim — the
    // realistic scale model is facts growing while enum-like dims don't
    // (and nationkey FKs from amplified customer/supplier remain valid).
    val keyShift = 10000000L // > any sf0.1 key (max ~600k orderkeys)
    def amplify(name: String, copies: Int, keyCols: Seq[String]): Unit = {
      val out = s"$big/$name.parquet"
      if (new java.io.File(out).exists()) return
      val df = spark.read.parquet(s"/root/testdata/sf0.1/$name.parquet")
      val cs = spark.range(copies).select(col("id").as("copy"))
      val shifted = keyCols.foldLeft(df.crossJoin(cs)) { (d, c) =>
        val dt = df.schema(c).dataType
        d.withColumn(c, (col(c) + col("copy") * keyShift).cast(dt))
      }
      shifted.drop("copy")
        .repartition(32).write.mode("overwrite").parquet(out)
    }
    amplify("customer", 20, Seq("c_custkey"))
    amplify("supplier", 20, Seq("s_suppkey"))
    amplify("part", 20, Seq("p_partkey"))
    amplify("orders", 20, Seq("o_orderkey", "o_custkey"))
    amplify("lineitem", 20, Seq("l_orderkey", "l_partkey", "l_suppkey"))
    amplify("region", 1, Seq.empty)
    amplify("nation", 1, Seq.empty)
    println("PROBE docs=" + spark.read.parquet(s"$big/documents.parquet").count() +
      " emb=" + spark.read.parquet(s"$big/embeddings.parquet").count() +
      " ev=" + spark.read.parquet(s"$big/events.parquet").count() +
      " li=" + spark.read.parquet(s"$big/lineitem.parquet").count())

    // Default = the ENTIRE registry, in registry order — every key runs
    // under the amplified corpus, not a hand-picked heavy subset (the
    // round-7 curated 97-key list lives in git history). Pass explicit
    // keys as args to probe a subset.
    val keys = if (args.nonEmpty) args.toSeq else graft.Registry.all.map(_.key)
    // warm the JSON-path evaluator: its first hot loop JITs ~4-7 s and
    // would otherwise land on whichever probed key parses JSON first
    try spark.range(300000).selectExpr(
      "count(get_json_object(concat('{\"k\":', id, '}'), '$.k'))").collect()
    catch { case _: Throwable => }
    keys.foreach { k =>
      val t0 = System.nanoTime()
      try {
        val n = graft.Registry.byKey(k).query(spark, big).count()
        println(f"PROBE $k: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
      } catch {
        case e: Throwable =>
          println(s"PROBE $k FAILED: ${e.getMessage.take(200)}")
      }
      // measurement hygiene: consumed frames' localCheckpoint blocks
      // linger until the ContextCleaner notices; 70 queries of that in
      // one JVM turns late keys' numbers into storage-pressure noise
      // (observed: llm_ann_ivf_trained 33 s in-sequence vs 3.3 s alone).
      // BUT: checkpoint-backed RDDs must survive — the session memos
      // (AnnIndex.trainFor / Models.logregTrainFor / CorpusStats) hand
      // out localCheckpointed frames whose lineage is GONE; dropping
      // their blocks would turn the next memo hit into a dead
      // 'Checkpoint block not found' failure instead of a timing.
      spark.catalog.clearCache()
      // (isCheckpointed is true for a MATERIALIZED local checkpoint —
      // exactly the case whose lineage is truncated; an unmaterialized
      // mark still has its full lineage and can recompute)
      spark.sparkContext.getPersistentRDDs.values
        .filterNot(_.isCheckpointed)
        .foreach(_.unpersist(blocking = false))
    }

    // Round-9 near-dup scale-invariance audit: the rare-shingle cap is
    // corpus-relative (df <= max(256, 1% of docs)), so amplifying the
    // corpus 20x (every multiplicity-weighted df grows 20x) must NOT
    // lose capped-path recall against the exact UNCAPPED truth — the
    // absolute-256 cap regressed exactly here (organic max df is 25,
    // 20x pushes it to 500 > 256 and pairs silently vanished).
    {
      val sf = "/root/testdata/sf0.1"
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      val sid = docs
        .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
        .where("size(toks) >= 3")
        .select(col("doc_id"), explode(expr(
          "array_distinct(transform(sequence(1, size(toks) - 2), " +
            "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1), " +
            "' ', element_at(toks, i + 2))))")).as("s"))
        .persist()
      val counts = sid.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      val truth = sid.as("x").join(sid.as("y"),
          col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
        .agg(count(lit(1)).as("shared"))
        .join(counts.select(col("doc_id").as("d1"), col("n_sh").as("n1")), "d1")
        .join(counts.select(col("doc_id").as("d2"), col("n_sh").as("n2")), "d2")
        .where("CAST(shared AS DOUBLE) / (n1 + n2 - shared) >= 0.2")
        .select("d1", "d2").distinct().localCheckpoint()
      sid.unpersist()
      def capped(dir: String) = graft.Registry.byKey("llm_ngram_jaccard")
        .query(spark, dir)
        .selectExpr("least(d1 % 1000000, d2 % 1000000) AS d1",
          "greatest(d1 % 1000000, d2 % 1000000) AS d2")
        .distinct()
      val nTruth = truth.count()
      def recall(dir: String): Double =
        if (nTruth == 0) 1.0
        else capped(dir).join(truth, Seq("d1", "d2")).count().toDouble / nTruth
      val r1 = recall(sf)
      val r20 = recall(big)
      println(f"PROBE neardup_recall[1x]: $r1%.4f  [20x]: $r20%.4f  (truth $nTruth pairs)")
      require(r20 + 1e-9 >= r1,
        f"20x near-dup recall dropped vs 1x: $r20%.4f < $r1%.4f — the rare cap is not scale-invariant")
    }

    // Market-basket scale invariance: the amplified lineitem shifts
    // order AND part keys per copy, so every copy's baskets are intact
    // replicas — each 20x top pair must map (mod keyShift) onto a 1x
    // pair with IDENTICAL within-copy supports (supp_ab, supp1, supp2
    // are copy-local; only n_orders — and hence lift — gains the 20x
    // factor). A mismatch means amplification warped the pair stats,
    // i.e. the operator's support counting is not scale-stable.
    {
      val sf = "/root/testdata/sf0.1"
      def items(dir: String) = spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
      val it1 = items(sf).localCheckpoint()
      val s1 = it1.groupBy("pk").agg(count(lit(1)).as("s"))
      val pairs1 = it1.as("a").join(it1.as("b"), Seq("ok"))
        .where(col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("q1"), col("b.pk").as("q2"))
        .agg(count(lit(1)).as("sab1")).where("sab1 >= 2")
      val top20 = graft.Registry.byKey("rel_market_basket").query(spark, big)
        .selectExpr(s"p1 % ${keyShift}L AS q1", s"p2 % ${keyShift}L AS q2",
          "supp_ab", "supp1", "supp2")
      val n = top20.count()
      val bad = top20.join(pairs1, Seq("q1", "q2"), "left")
        .join(s1.select(col("pk").as("q1"), col("s").as("e1")), Seq("q1"), "left")
        .join(s1.select(col("pk").as("q2"), col("s").as("e2")), Seq("q2"), "left")
        .where("sab1 IS NULL OR supp_ab <> sab1 OR supp1 <> e1 OR supp2 <> e2")
        .count()
      println(s"PROBE basket_scale_invariance: mismatches=$bad of $n top pairs")
      require(bad == 0,
        "20x market-basket top pairs do not map onto their 1x within-copy supports")
    }

    // Pathological levenshtein corpus: ONE (lang, n_chars) block holding
    // 100k DISTINCT texts (so the exact-dedup quotient cannot collapse
    // anything) — unbounded blocking would need 5e9 O(len^2) distance
    // computations here and never finish. The prefix sub-blocking caps
    // every all-pairs term at the ~20-doc prefix groups.
    val lev = "target/tmp/sflev"
    if (!new java.io.File(s"$lev/documents.parquet").exists()) {
      spark.range(100000).select(
          col("id").as("doc_id"),
          lit("en").as("lang"),
          // first TWO tokens shared by the 20 docs of each id%5000 group
          // (the sub-block key), third token distinct per doc — so the
          // capped path still has real within-block pairs to find
          format_string("g%05d g%05d d%06d %s", col("id") % 5000L,
            col("id") % 5000L, col("id"),
            lit(Seq.fill(13)("padpadpad").mkString(" "))).as("text"))
        .withColumn("source", lit("synthetic"))
        .withColumn("n_chars", length(col("text")))
        .repartition(32).write.mode("overwrite").parquet(s"$lev/documents.parquet")
    }
    val t0 = System.nanoTime()
    val n = graft.Registry.byKey("llm_dedup_levenshtein").query(spark, lev).count()
    println(f"PROBE llm_dedup_levenshtein[single-block-100k-distinct]: " +
      f"${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")

    // Trained-ANN MAINTENANCE loop under the amplified corpus (verdict
    // r7 #8): build the persistent index on 90% of the 10x embeddings,
    // audit stored-search recall on a 16-probe panel, fold the held-out
    // 10% in via update() (centroids FIXED, assignment partitions
    // appended), and re-audit — the recall that matters is the one
    // measured AFTER the index has grown, against exact truth over the
    // full corpus.
    {
      import org.apache.spark.sql.DataFrame
      graft.GraftExtensions.install(spark)
      val idxDir = "target/tmp/annmaint"
      org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(idxDir), true)
      val emb = spark.read.parquet(s"$big/embeddings.parquet")
        .repartition(32).localCheckpoint()
      val base = emb.where("vec_id % 10 <> 3")
      val late = emb.where("vec_id % 10 = 3")
      val probes = graft.api.AnnIndex.probePanel(emb, 16).localCheckpoint()
      def recall(corpus: DataFrame, tag: String): Unit = {
        val ta = System.nanoTime()
        val approx = graft.api.AnnIndex.searchIndex(spark, idxDir, probes, k = 5, nProbe = 2)
        val r = graft.api.AnnIndex.recallAt5(corpus, probes, approx).collect()(0)
        println(f"PROBE ann_maint[$tag]: recall@5 mean=${r.getDouble(2)}%.3f " +
          f"min=${r.getDouble(3)}%.3f (${(System.nanoTime() - ta) / 1e9}%.2f s)")
      }
      var ts = System.nanoTime()
      graft.api.AnnIndex.build(base, idxDir, k = 10, iters = 3)
      println(f"PROBE ann_maint[build-90pct]: ${(System.nanoTime() - ts) / 1e9}%.2f s")
      recall(base, "post-build vs 90pct-truth")
      ts = System.nanoTime()
      graft.api.AnnIndex.update(late, idxDir)
      println(f"PROBE ann_maint[update-10pct]: ${(System.nanoTime() - ts) / 1e9}%.2f s")
      recall(emb, "post-update vs full-truth")
    }
    spark.stop()
  }
}
