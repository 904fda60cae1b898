package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-4 additions: the adaptive quotient pair generation and the new
  * incremental-dedup / tokenize-apply operators.
  */
class Round4Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** A duplicate-heavy documents fixture (every doc 4 copies, plus a few
    * near-dup variants) written where Registry queries can read it —
    * this forces the QUOTIENT path of jaccardPairs/dedup_substring,
    * which the duplicate-free sf fixtures never exercise.
    */
  private lazy val dupDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_dupfx_").toString
    val base = (0 until 30).map { i =>
      val words = (0 until 25).map(j => s"w${(i * 7 + j * 3) % 40}").mkString(" ")
      (i.toLong, words)
    }
    val near = base.take(6).map { case (i, t) =>
      (1000L + i, t.split(" ").dropRight(2).mkString(" ") + " zz yy")
    }
    val rows = (base ++ near).flatMap { case (id, t) =>
      (0 until 4).map(c => (id + c * 10000L, t, "en", "webcrawl", t.length))
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("quotient jaccard pairs == naive all-pairs on a duplicate-heavy corpus") {
    val got = Registry.byKey("llm_ngram_jaccard").query(spark, dupDir)
    // naive reference: explode shingles per doc, all-pairs join, same
    // df<=256 rare cap and 0.2 threshold
    val sh = spark.read.parquet(s"$dupDir/documents.parquet")
      .withColumn("toks", split(lower(col("text")), " "))
      .where("size(toks) >= 3")
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(1, size(toks) - 2), " +
          "i -> xxhash64(concat(element_at(toks, i), ' ', element_at(toks, i + 1), ' ', element_at(toks, i + 2)))))"
      )).as("sid"))
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val rare = sh.groupBy("sid").agg(count(lit(1)).as("df")).where("df <= 256").select("sid")
    val shr = sh.join(rare, "sid")
    val want = shr.as("x").join(shr.as("y"),
        col("x.sid") === col("y.sid") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .agg(count(lit(1)).as("shared"))
      .join(counts.select(col("doc_id").as("d1"), col("n_sh").as("n1")), "d1")
      .join(counts.select(col("doc_id").as("d2"), col("n_sh").as("n2")), "d2")
      .withColumn("jaccard", expr("CAST(shared AS DOUBLE) / (n1 + n2 - shared)"))
      .where("jaccard >= 0.2")
      .select("d1", "d2", "jaccard")
    assert(got.count() > 100, "fixture must generate a rich pair set")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("quotient substring pairs == naive all-pairs on a duplicate-heavy corpus") {
    val got = Registry.byKey("llm_dedup_substring").query(spark, dupDir)
    val win = spark.read.parquet(s"$dupDir/documents.parquet")
      .withColumn("toks", split(lower(col("text")), " "))
      .where("size(toks) >= 20")
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(1, size(toks) - 19), " +
          "i -> xxhash64(concat_ws(' ', slice(toks, i, 20)))))")).as("w"))
    val rare = win.groupBy("w").agg(count(lit(1)).as("df")).where("df <= 256").select("w")
    val wr = win.join(rare, "w")
    val want = wr.as("x").join(wr.as("y"),
        col("x.w") === col("y.w") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .agg(count(lit(1)).as("n_shared"))
    assert(got.count() > 50, "fixture must generate shared windows")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("quotient levenshtein pairs == naive blocked join on a duplicate-heavy corpus") {
    val got = Registry.byKey("llm_dedup_levenshtein").query(spark, dupDir)
      .where("d1 < 900000000") // drop the op's own seeded demo pair
    val docs = spark.read.parquet(s"$dupDir/documents.parquet")
      .where("n_chars < 200").select("doc_id", "lang", "n_chars", "text")
    val want = docs.as("x").join(docs.as("y"),
        col("x.lang") === col("y.lang") &&
          col("x.n_chars") === col("y.n_chars") &&
          col("x.doc_id") < col("y.doc_id"))
      .withColumn("dist", levenshtein(col("x.text"), col("y.text")))
      .where("dist <= CAST(x.n_chars AS INT) / 5")
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        col("dist").cast("int").as("dist"))
    assert(got.count() > 50, "fixture must generate in-tolerance pairs")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("incremental dedup verdicts: exact beats near, keep means genuinely new") {
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "delta epsilon zeta"), (3L, "unique corpus text"),
      // increment (doc_id % 5 == 0):
      (5L, "alpha beta gamma"),        // exact dup of 1
      (10L, "epsilon zeta delta"),     // word-set match of 2 (near)
      (15L, "completely fresh words")  // keep
    ).map { case (id, t) => (id, t, "en", "s", t.length) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_incfx_").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Registry.byKey("llm_dedup_incremental").query(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(got == Seq((5L, "exact", 1L), (10L, "near", 2L), (15L, "keep", -1L)))
  }

  test("DedupIndex: build/check/update round-trip matches the one-shot operator") {
    val dir = java.nio.file.Files.createTempDirectory("graft_didx_").toString + "/idx"
    val docs = Tables.t(spark, TestSpark.sf, "documents")
    val corpus = docs.where("doc_id % 5 <> 0")
    val batch = docs.where("doc_id % 5 = 0")

    api.DedupIndex.build(corpus, dir)
    val viaIndex = api.DedupIndex.check(batch, dir).orderBy("doc_id")
    val oneShot = Registry.byKey("llm_dedup_incremental").query(spark, TestSpark.sf)
    assert(viaIndex.exceptAll(oneShot).isEmpty && oneShot.exceptAll(viaIndex).isEmpty,
      "index-backed check must equal the one-shot operator")

    // fold the batch in: every batch doc is now a dup of itself or better
    api.DedupIndex.update(batch, dir)
    val recheck = api.DedupIndex.check(batch, dir)
    assert(recheck.where("verdict = 'keep'").isEmpty,
      "after update, re-checking the same batch finds every doc")
    // idempotent: a second update changes nothing
    val size1 = api.DedupIndex.read(spark, dir).count()
    api.DedupIndex.update(batch, dir)
    assert(api.DedupIndex.read(spark, dir).count() == size1)
  }

  test("winnowing guarantee: docs sharing a >=10-token run share a fingerprint") {
    // the defining invariant of winnowing (k=3, w=8): any run of
    // k+w-1 = 10 identical tokens forces at least one common selected
    // hash. Plant a 12-token shared segment at random offsets inside
    // otherwise-disjoint documents and assert fingerprint overlap.
    val rnd = new scala.util.Random(11)
    val cases = (1 to 6).map { c =>
      val shared = (0 until 12).map(i => s"s${c}x$i").mkString(" ")
      def doc(prefix: String) = {
        val pad1 = (0 until 3 + rnd.nextInt(10)).map(i => s"$prefix$i").mkString(" ")
        val pad2 = (0 until 3 + rnd.nextInt(10)).map(i => s"$prefix${100 + i}").mkString(" ")
        s"$pad1 $shared $pad2"
      }
      (2L * c, doc(s"a$c"), 2L * c + 1, doc(s"b$c"))
    }
    val docs = cases.flatMap { case (i1, t1, i2, t2) => Seq((i1, t1), (i2, t2)) }
      .toDF("doc_id", "text")
    val fps = docs
      .withColumn("toks", split(lower(col("text")), " "))
      .withColumn("hs", expr(ops.LlmDedup.winnowHashExpr))
      .withColumn("fps", expr(ops.LlmDedup.winnowFpsExpr))
      .select("doc_id", "fps")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    cases.foreach { case (i1, _, i2, _) =>
      assert(fps(i1).intersect(fps(i2)).nonEmpty,
        s"docs $i1/$i2 share a 12-token run but no fingerprint")
      // and disjoint docs (different cases) share nothing
    }
    val (a, _, _, _) = cases.head; val (_, _, b2, _) = cases.last
    assert(fps(a).intersect(fps(b2)).isEmpty, "unrelated docs must not collide")
  }

  test("adaptive ops survive an empty corpus (decision agg on zero rows)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_emptyfx_").toString
    Seq.empty[(Long, String, String, String, Int)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    for (key <- Seq("llm_ngram_jaccard", "llm_dedup_substring",
        "llm_dedup_cluster", "llm_dedup_incremental",
        "llm_dup_histogram")) {
      assert(Registry.byKey(key).query(spark, dir).count() == 0, key)
    }
    // levenshtein always unions its seeded demo pair — on an empty
    // corpus that pair is the entire (non-crashing) output
    assert(Registry.byKey("llm_dedup_levenshtein").query(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq ==
      Seq((900000001L, 900000002L, 1)), "llm_dedup_levenshtein seeded pair")
  }

  test("tokenize_apply ids map OOV to 0 and preserve token positions") {
    val out = Registry.byKey("llm_tokenize_apply").query(spark, TestSpark.sf)
    val docs = Tables.t(spark, TestSpark.sf, "documents")
    // every doc present, token counts match the raw split
    assert(out.count() == docs.count())
    val bad = out.join(
        docs.select(col("doc_id"), size(split(lower(col("text")), " ")).as("nt")), "doc_id")
      .where("n_tokens <> nt OR size(split(ids, ',')) <> nt OR n_oov > n_tokens")
    assert(bad.isEmpty)
  }
}
