package graft.ops

import graft.{Op, Tables => T}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM training-data text operators: tokenization and BPE, language
  * models and n-gram statistics, language ID, quality scores and gates,
  * sampling, mixing and packing, PII scrubbing and dataset reports.
  */
object LlmText {

  /** Contiguous token-budget shard packing (per language, doc_id order,
    * ~2000-token shards) — shared by llm_pack_shards (per-doc
    * assignment), llm_shard_manifest, and llm_packing_efficiency.
    *
    * Two-level cumulative sum so no single partition ever holds a whole
    * language: docs bucket into contiguous doc_id ranges of 4096, the
    * running sum is computed inside each bounded (lang, bucket) group,
    * and per-bucket offsets (an exclusive prefix over the 4096x-smaller
    * bucket-totals table) reconcile it to the exact per-lang global
    * cumulative sum. Output is numerically identical to a single
    * per-lang window; at 100 TB the dominant language splits across
    * corpus/4096 parallel window partitions instead of one.
    */
  private[ops] def packShards(s: org.apache.spark.sql.SparkSession, d: String) = {
    val B = 4096
    val docs = T.t(s, d, "documents")
      .withColumn("n_tokens", expr("size(split(text, ' '))"))
      .withColumn("bucket", expr(s"CAST(doc_id div $B AS INT)"))
    val wLocal = Window.partitionBy("lang", "bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wOffset = Window.partitionBy("lang").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = docs.groupBy("lang", "bucket").agg(sum("n_tokens").as("btok"))
      .withColumn("off", coalesce(sum("btok").over(wOffset), lit(0L)))
      .select("lang", "bucket", "off")
    docs.withColumn("lcum", sum("n_tokens").over(wLocal))
      .join(offsets, Seq("lang", "bucket"))
      .withColumn("cum", col("off") + col("lcum"))
      .withColumn("shard_id", expr("CAST((cum - n_tokens) div 2000 AS INT)"))
      .select("doc_id", "lang", "n_tokens", "shard_id")
  }

  /** DuckDB equivalent of [[packShards]] as a CTE named `packed`. */
  private val oPackShards: String =
    "packed AS (SELECT doc_id, lang, n_tokens, CAST((cum - n_tokens) // 2000 AS INTEGER) AS shard_id FROM (" +
      "SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens, " +
      "CAST(SUM(len(string_split(text, ' '))) OVER (PARTITION BY lang ORDER BY doc_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum " +
      "FROM documents))"

  /** N-gram-heuristic language ID (shared by llm_lang_id and
    * llm_langid_confusion): top-20 tokens per labeled language form the
    * profile; a doc's prediction is the profile with most distinct-token
    * matches (p_lang tiebreak), 'unknown' when nothing matches. Returns
    * (doc_id, lang, pred_lang, matches).
    */
  private[ops] def langIdPredictions(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val docs = T.t(s, d, "documents")
    val tok = T.spread(docs).select(col("doc_id"), col("lang"),
      explode(split(col("text"), " ")).as("token"))
    val wp = Window.partitionBy("lang").orderBy(desc("cnt"), col("token"))
    val profile = tok.groupBy("lang", "token").agg(count(lit(1)).as("cnt"))
      .withColumn("rnk", row_number().over(wp)).where("rnk <= 20")
      .select(col("lang").as("p_lang"), col("token"))
    val docTok = tok.select("doc_id", "token").distinct()
    val wb = Window.partitionBy("doc_id").orderBy(desc("matches"), col("p_lang"))
    val best = docTok.join(broadcast(profile), "token")
      .groupBy("doc_id", "p_lang").agg(count(lit(1)).as("matches"))
      .withColumn("rn", row_number().over(wb)).where("rn = 1")
      .select(col("doc_id"), col("p_lang").as("pred_lang"), col("matches"))
    docs.select("doc_id", "lang").join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("pred_lang"), lit("unknown")).as("pred_lang"),
        coalesce(col("matches"), lit(0L)).as("matches"))
  }

  /** DuckDB CTE prefix matching [[langIdPredictions]]; terminal CTE is
    * `best(doc_id, p_lang, matches)` (join back to documents for the
    * unmatched-doc 'unknown' fallback).
    */
  private[ops] val oLangIdCtes: String =
    "WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents), " +
      "profile AS (SELECT p_lang, token FROM (SELECT lang AS p_lang, token, count(*) AS cnt, " +
      "row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, token) AS rnk " +
      "FROM tok GROUP BY lang, token) WHERE rnk <= 20), " +
      "doctok AS (SELECT DISTINCT doc_id, token FROM tok), " +
      "scores AS (SELECT doc_id, p_lang, count(*) AS matches FROM doctok JOIN profile USING (token) GROUP BY doc_id, p_lang), " +
      "best AS (SELECT doc_id, p_lang, matches FROM (SELECT doc_id, p_lang, matches, " +
      "row_number() OVER (PARTITION BY doc_id ORDER BY matches DESC, p_lang) AS rn FROM scores) WHERE rn = 1)"

  /** Exact whitespace token counts (the CMS input). */
  private[graft] def tokenCounts(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(explode(split(col("text"), " ")).as("tok"))
      .where("tok <> ''")
      .groupBy("tok").agg(count(lit(1)).as("exact"))

  /** The 4 (row_i, bucket) CMS cells of each token (d=4, width w —
    * default 1024; [[graft.api.SketchStore.buildSized]] derives w from
    * the KMV token-cardinality estimate instead).
    */
  private[graft] def cmsBuckets(df: org.apache.spark.sql.DataFrame,
      width: Long = 1024L): org.apache.spark.sql.DataFrame = df
    .select(col("tok"), col("exact"),
      posexplode(expr(
        "transform(sequence(0, 3), i -> CAST(" +
          T.h32("concat(CAST(i AS STRING), ':', tok)") +
          s" % CAST($width AS BIGINT) AS INT))")))
    .withColumnRenamed("pos", "row_i")
    .withColumnRenamed("col", "bucket")

  /** The count-min counter table of a document set: 4×w cells,
    * additive across disjoint document sets (cell-wise sum) — the
    * property [[graft.streaming.Streams.cmsSink]] relies on.
    */
  private[graft] def cmsCounters(docs: org.apache.spark.sql.DataFrame,
      width: Long = 1024L): org.apache.spark.sql.DataFrame =
    cmsBuckets(tokenCounts(docs), width)
      .groupBy("row_i", "bucket").agg(sum("exact").as("c"))

  /** Blocklist panel: one unigram, one adjacent bigram the synthetic
    * corpus produces organically, and one phrase it never contains
    * (exercising the miss path).
    */
  private[graft] val blocklistTerms: Seq[String] =
    Seq("spark", "slow row", "drop cascade")

  val ops: Seq[Op] = Seq(

    Op("llm_text_stats",
      (s, d) => T.t(s, d, "documents").groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          round(avg(expr("CAST(size(split(text, ' ')) AS DOUBLE)")), 4).as("avg_tokens"),
          sum("n_chars").as("total_chars"),
          min("n_chars").as("min_chars"),
          max("n_chars").as("max_chars"))
        .orderBy("lang"),
      Some("SELECT lang, count(*) AS n_docs, " +
        "ROUND(AVG(CAST(len(string_split(text, ' ')) AS DOUBLE)), 4) AS avg_tokens, " +
        "CAST(SUM(n_chars) AS BIGINT) AS total_chars, min(n_chars) AS min_chars, " +
        "max(n_chars) AS max_chars FROM documents GROUP BY lang ORDER BY lang")),

    Op("llm_top_terms",
      (s, d) => {
        val w = Window.partitionBy("lang").orderBy(desc("cnt"), col("token"))
        T.t(s, d, "documents")
          .select(col("lang"), explode(split(col("text"), " ")).as("token"))
          .groupBy("lang", "token").agg(count(lit(1)).as("cnt"))
          .withColumn("rnk", row_number().over(w))
          .where("rnk <= 5")
          .orderBy("lang", "rnk")
      },
      Some("SELECT * FROM (SELECT lang, token, cnt, " +
        "CAST(row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token) AS INTEGER) AS rnk " +
        "FROM (SELECT lang, token, count(*) AS cnt FROM (" +
        "SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents) " +
        "GROUP BY lang, token)) WHERE rnk <= 5 ORDER BY lang, rnk")),

    // language-ID by n-gram/token-profile overlap: profiles are the top-20
    // tokens per language derived from the corpus itself (pure integer
    // logic, fully deterministic), prediction is the best-overlap language.
    Op("llm_lang_id",
      (s, d) => langIdPredictions(s, d).orderBy("doc_id"),
      Some(oLangIdCtes +
        " SELECT d.doc_id, d.lang, COALESCE(b.p_lang, 'unknown') AS pred_lang, " +
        "COALESCE(b.matches, 0) AS matches FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id " +
        "ORDER BY d.doc_id")),

    Op("llm_quality_score",
      (s, d) => T.t(s, d, "documents").select(
          col("doc_id"),
          expr("size(split(text, ' '))").as("n_tokens"),
          col("n_chars"),
          expr("round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / size(split(text, ' ')), 4)").as("avg_word_len"),
          expr("round(CAST(length(regexp_replace(text, '[^0-9]', '')) AS DOUBLE) / length(text), 4)").as("digit_ratio"),
          expr("round(CAST(size(filter(split(text, ' '), x -> length(x) <= 3)) AS DOUBLE) / size(split(text, ' ')), 4)").as("short_tok_ratio"))
        .orderBy("doc_id"),
      Some("SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens, n_chars, " +
        "ROUND(CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')), 4) AS avg_word_len, " +
        "ROUND(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text), 4) AS digit_ratio, " +
        "ROUND(CAST(len(list_filter(string_split(text, ' '), x -> length(x) <= 3)) AS DOUBLE) / len(string_split(text, ' ')), 4) AS short_tok_ratio " +
        "FROM documents ORDER BY doc_id")),

    // token counting: whitespace tokens plus a BPE-ish regex token count.
    Op("llm_token_count",
      (s, d) => T.t(s, d, "documents").select(
          col("doc_id"),
          expr("size(split(text, ' '))").as("ws_tokens"),
          expr("size(regexp_extract_all(text, '[a-z]+|[A-Z]+|[0-9]+', 0))").as("re_tokens"))
        .orderBy("doc_id"),
      Some("SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens, " +
        "CAST(len(regexp_extract_all(text, '[a-z]+|[A-Z]+|[0-9]+', 0)) AS INTEGER) AS re_tokens " +
        "FROM documents ORDER BY doc_id")),

    // TF-IDF: integer tf/df with a rounded ln-based idf; top-scoring term
    // per document (deterministic tiebreak on the term itself).
    Op("llm_tfidf",
      (s, d) => {
        val docs = T.t(s, d, "documents")
        val n = docs.agg(count(lit(1)).as("n_docs"))
        val tf = T.spread(docs)
          .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
          .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        val df_ = tf.groupBy("token").agg(count(lit(1)).as("df"))
        val w = Window.partitionBy("doc_id").orderBy(desc("score"), col("token"))
        tf.join(df_, "token").crossJoin(broadcast(n))
          .withColumn("score", expr("round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6)"))
          .withColumn("rn", row_number().over(w)).where("rn = 1")
          .select(col("doc_id"), col("token").as("top_term"), col("score"))
          .orderBy("doc_id")
      },
      Some("WITH tf AS (SELECT doc_id, token, count(*) AS tf FROM (" +
        "SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents) " +
        "GROUP BY doc_id, token), " +
        "df AS (SELECT token, count(*) AS df FROM tf GROUP BY token), " +
        "n AS (SELECT count(*) AS n_docs FROM documents), " +
        "scored AS (SELECT doc_id, token, " +
        "round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS score FROM tf JOIN df USING (token), n) " +
        "SELECT doc_id, token AS top_term, score FROM (SELECT doc_id, token, score, " +
        "row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rn FROM scored) " +
        "WHERE rn = 1 ORDER BY doc_id")),

    // reproducible stratified sampling: hash-mod selection is stable
    // across runs, partitionings, and engines (unlike rand()-based
    // sampling) — the only sampling admissible in a training-data
    // pipeline that must be auditable.
    Op("llm_sample_stratified",
      (s, d) => T.t(s, d, "documents")
        .where(s"${T.h32("concat(lang, ':', CAST(doc_id AS STRING))")} % 100 < 20")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id"),
      Some("SELECT doc_id, lang, source, n_chars FROM documents " +
        s"WHERE ${T.oH32("concat(lang, ':', CAST(doc_id AS VARCHAR))")} % 100 < 20 " +
        "ORDER BY doc_id")),

    // corpus composition: per-source language mix with exact-ratio
    // percentages (integer counts divided once -> deterministic doubles).
    Op("llm_source_mix",
      (s, d) => {
        val w = Window.partitionBy("source")
        T.t(s, d, "documents")
          .groupBy("source", "lang").agg(count(lit(1)).as("n_docs"))
          .withColumn("pct", expr(
            "round(CAST(n_docs AS DOUBLE) * 100 / CAST(sum(n_docs) OVER (PARTITION BY source) AS DOUBLE), 4)"))
          .select("source", "lang", "n_docs", "pct")
          .orderBy("source", "lang")
      },
      Some("SELECT source, lang, n_docs, " +
        "round(CAST(n_docs AS DOUBLE) * 100 / CAST(SUM(n_docs) OVER (PARTITION BY source) AS DOUBLE), 4) AS pct " +
        "FROM (SELECT source, lang, count(*) AS n_docs FROM documents GROUP BY source, lang) " +
        "ORDER BY source, lang")),

    // PII-style scrubbing: redact digit runs, report redaction counts.
    Op("llm_pii_scrub",
      (s, d) => T.t(s, d, "documents")
        .select(
          col("doc_id"),
          expr("substring(regexp_replace(text, '[0-9]+', '[NUM]'), 1, 60)").as("scrubbed_head"),
          expr("length(regexp_replace(text, '[0-9]+', '[NUM]'))").as("scrubbed_len"),
          expr("size(regexp_extract_all(text, '[0-9]+', 0))").as("n_redactions"))
        .orderBy("doc_id"),
      Some("SELECT doc_id, " +
        "substring(regexp_replace(text, '[0-9]+', '[NUM]', 'g'), 1, 60) AS scrubbed_head, " +
        "CAST(length(regexp_replace(text, '[0-9]+', '[NUM]', 'g')) AS INTEGER) AS scrubbed_len, " +
        "CAST(len(regexp_extract_all(text, '[0-9]+', 0)) AS INTEGER) AS n_redactions " +
        "FROM documents ORDER BY doc_id")),

    // training-shard packing: contiguous docs (per language, doc_id
    // order) packed into ~2000-token shards — the deterministic variant
    // of greedy sequence packing. Range-bucketed two-level cumulative
    // sum (see packShards) so the dominant language never lands in a
    // single window partition.
    Op("llm_pack_shards",
      (s, d) => packShards(s, d).orderBy("doc_id"),
      Some("WITH " + oPackShards +
        " SELECT doc_id, lang, n_tokens, shard_id FROM packed ORDER BY doc_id")),

    // fixed-size token chunking with overlap (context-window packing prep):
    // 32-token chunks every 24 tokens. One narrow shuffle-free pass —
    // sequence+explode stays inside codegen; at 100 TB this is a pure map
    // stage whose output partitioning follows the input.
    Op("llm_doc_chunk",
      (s, d) => {
        val cs = 32; val step = 24
        T.t(s, d, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .select(col("doc_id"), col("toks"),
            explode(sequence(lit(1), size(col("toks")), lit(step))).as("start"))
          .select(col("doc_id"), col("start").cast("int").as("chunk_start"),
            array_join(slice(col("toks"), col("start"), lit(cs)), " ").as("chunk_text"),
            size(slice(col("toks"), col("start"), lit(cs))).cast("int").as("n_tokens"))
          .orderBy("doc_id", "chunk_start")
      },
      Some("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        "s AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks), 24)) AS start FROM t) " +
        "SELECT doc_id, CAST(start AS INTEGER) AS chunk_start, " +
        "array_to_string(toks[start:least(start + 31, len(toks))], ' ') AS chunk_text, " +
        "CAST(least(start + 31, len(toks)) - start + 1 AS INTEGER) AS n_tokens " +
        "FROM s ORDER BY doc_id, chunk_start")),

    // stopword-ratio quality signal with CORPUS-DERIVED stopwords (top-20
    // most frequent tokens): the stopword list is a bounded aggregate ->
    // broadcast back against the token stream; two shuffles total
    // regardless of corpus size.
    Op("llm_stopword_ratio",
      (s, d) => {
        val toks = T.t(s, d, "documents")
          .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
        val stop = toks.groupBy("tok").agg(count(lit(1)).as("tf"))
          .orderBy(col("tf").desc, col("tok")).limit(20).select("tok")
        toks.join(broadcast(stop.withColumn("is_stop", lit(1))), Seq("tok"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_toks"),
            sum(coalesce(col("is_stop"), lit(0))).as("n_stop"))
          .withColumn("stop_ratio",
            round(col("n_stop") * 10000L / col("n_toks"), 0).cast("long"))
          .select("doc_id", "n_toks", "n_stop", "stop_ratio")
          .orderBy("doc_id")
      },
      Some("WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents), " +
        "stop AS (SELECT tok FROM (SELECT tok, count(*) AS tf FROM toks GROUP BY tok " +
        "ORDER BY tf DESC, tok LIMIT 20)) " +
        "SELECT doc_id, count(*) AS n_toks, " +
        "CAST(SUM(CASE WHEN tok IN (SELECT tok FROM stop) THEN 1 ELSE 0 END) AS BIGINT) AS n_stop, " +
        "CAST(round(CAST(SUM(CASE WHEN tok IN (SELECT tok FROM stop) THEN 1 ELSE 0 END) AS BIGINT) * 10000 " +
        "/ count(*), 0) AS BIGINT) AS stop_ratio " +
        "FROM toks GROUP BY doc_id ORDER BY doc_id")),

    // document-length histogram (50-char buckets) — the one-pass profile
    // every corpus intake job runs first.
    Op("llm_length_histogram",
      (s, d) => T.t(s, d, "documents")
        .groupBy((floor(col("n_chars") / 50) * 50).cast("long").as("bucket_lo"))
        .agg(count(lit(1)).as("n_docs"),
          min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
        .orderBy("bucket_lo"),
      Some("SELECT CAST(floor(n_chars / 50) * 50 AS BIGINT) AS bucket_lo, count(*) AS n_docs, " +
        "min(n_chars) AS min_chars, max(n_chars) AS max_chars " +
        "FROM documents GROUP BY 1 ORDER BY bucket_lo")),

    // end-to-end corpus cleaning as a declared DAG (snapflow's named-node
    // graph ergonomics via graft.Pipeline): language filter -> quality
    // gate -> exact dedup -> per-(lang, source) stats. Every stage is a
    // narrow transform except the dedup window and the final aggregate —
    // two shuffles total on a 100 TB corpus.
    Op("llm_clean_pipeline",
      (s, d) => {
        val p = graft.Pipeline(
          "docs" -> graft.Pipeline.source(T.t(s, d, "documents")),
          "lang" -> graft.Pipeline.map1("docs")(
            _.where("lang IN ('en', 'de', 'fr')")),
          "quality" -> graft.Pipeline.map1("lang")(
            _.where("n_chars BETWEEN 100 AND 500 AND size(split(text, ' ')) >= 20")),
          "dedup" -> graft.Pipeline.map1("quality") { df =>
            val w = Window.partitionBy("sig").orderBy("doc_id")
            df.withColumn("sig", sha2(lower(trim(col("text"))), 256))
              .withColumn("rn", row_number().over(w))
              .where("rn = 1").drop("sig", "rn")
          },
          "stats" -> graft.Pipeline.map1("dedup")(
            _.groupBy("lang", "source")
              .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))))
        p.run("stats").orderBy("lang", "source")
      },
      Some("WITH l AS (SELECT * FROM documents WHERE lang IN ('en', 'de', 'fr')), " +
        "q AS (SELECT * FROM l WHERE n_chars BETWEEN 100 AND 500 AND len(string_split(text, ' ')) >= 20), " +
        "dd AS (SELECT * FROM (SELECT *, row_number() OVER (" +
        "PARTITION BY lower(trim(text)) ORDER BY doc_id) AS rn FROM q) WHERE rn = 1) " +
        "SELECT lang, source, count(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars " +
        "FROM dd GROUP BY lang, source ORDER BY lang, source")),

    // deterministic train/val/test assignment: md5-bucket each doc_id into
    // 100 buckets, split 90/5/5. Hash-based (not random) so the split is
    // stable under re-runs, additions, and re-partitioning — the property
    // a training pipeline actually needs. Pure map stage + tiny agg.
    Op("llm_train_split",
      (s, d) => T.t(s, d, "documents")
        .withColumn("bucket",
          expr(s"${T.h32("CAST(doc_id AS STRING)")} % 100"))
        .withColumn("split",
          expr("CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val' ELSE 'test' END"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("split"),
      Some(s"WITH b AS (SELECT *, ${T.oH32("CAST(doc_id AS VARCHAR)")} % 100 AS bucket " +
        "FROM documents) " +
        "SELECT CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split, " +
        "count(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars, " +
        "min(doc_id) AS min_id, max(doc_id) AS max_id " +
        "FROM b GROUP BY 1 ORDER BY split")),

    // Gopher-style repetition filter: fraction of repeated words and of
    // repeated word-bigrams per document; docs over threshold are flagged
    // for removal. All ratios are exact int/int double divisions (rule 12)
    // — no rounding, no drift. Pure per-row map stage at any scale.
    Op("llm_repetition_filter",
      (s, d) => T.t(s, d, "documents")
        .withColumn("toks", split(lower(col("text")), " "))
        .where("size(toks) >= 2")
        .withColumn("bigrams", expr(
          "transform(sequence(1, size(toks) - 1), " +
            "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_toks"),
          (size(col("toks")) - size(array_distinct(col("toks")))).cast("long").as("rep_toks"),
          expr("CAST(size(toks) - size(array_distinct(toks)) AS BIGINT) / size(toks)").as("rep_tok_ratio"),
          expr("CAST(size(bigrams) - size(array_distinct(bigrams)) AS BIGINT) / size(bigrams)").as("rep_bigram_ratio"))
        .withColumn("flagged",
          col("rep_tok_ratio") > 0.3 || col("rep_bigram_ratio") > 0.15)
        .orderBy("doc_id"),
      Some("SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks, " +
        "CAST(len(toks) - len(list_distinct(toks)) AS BIGINT) AS rep_toks, " +
        "CAST(len(toks) - len(list_distinct(toks)) AS BIGINT) / len(toks) AS rep_tok_ratio, " +
        "CAST(len(bigrams) - len(list_distinct(bigrams)) AS BIGINT) / len(bigrams) AS rep_bigram_ratio, " +
        "(CAST(len(toks) - len(list_distinct(toks)) AS BIGINT) / len(toks) > 0.3 OR " +
        "CAST(len(bigrams) - len(list_distinct(bigrams)) AS BIGINT) / len(bigrams) > 0.15) AS flagged " +
        "FROM (SELECT doc_id, toks, list_transform(range(1, len(toks)), " +
        "i -> concat(toks[i], ' ', toks[i + 1])) AS bigrams " +
        "FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents) " +
        "WHERE len(toks) >= 2) ORDER BY doc_id")),

    // unigram-LM negative log-likelihood per doc (the CCNet-style quality
    // proxy, with corpus frequencies standing in for the external LM):
    // nll = -avg_t ln(freq(t)/total). Per-token ln goes through
    // floor(x*1e6) fixed point so the per-doc sum is an exact-integer
    // aggregation (order-independent across partitions AND engines);
    // the final division is exact-int/exact-int (rule 12). Corpus freq
    // table is a groupBy; the doc join shuffles on the token.
    Op("llm_perplexity_proxy",
      (s, d) => {
        val toks = T.spread(T.t(s, d, "documents"))
          .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
        val freq = toks.groupBy("tok").agg(count(lit(1)).as("freq"))
        val total = toks.count()
        toks.join(freq, "tok")
          // +1e-6 epsilon before the floor: a 1-ulp JVM-vs-libm ln()
          // difference exactly at a fixed-point boundary would otherwise
          // flip the integer on one engine only (nudging by 1e-6 of a
          // fixed-point unit moves values off the knife edge while never
          // crossing a boundary legitimately).
          .withColumn("nll_fp", expr(
            s"CAST(floor(-ln(CAST(freq AS DOUBLE) / $total) * 1000000 + 0.000001) AS BIGINT)"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_toks"), sum("nll_fp").as("nll_fp"))
          .select(col("doc_id"), col("n_toks"),
            (col("nll_fp") / (col("n_toks") * lit(1000000L))).as("nll"))
          .orderBy("doc_id")
      },
      Some("WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents), " +
        "freq AS (SELECT tok, count(*) AS freq FROM toks GROUP BY tok), " +
        "total AS (SELECT count(*) AS n FROM toks), " +
        "per AS (SELECT doc_id, " +
        "CAST(floor(-ln(CAST(freq AS DOUBLE) / n) * 1000000 + 0.000001) AS BIGINT) AS nll_fp " +
        "FROM toks JOIN freq USING (tok), total) " +
        "SELECT doc_id, count(*) AS n_toks, " +
        "CAST(SUM(nll_fp) AS BIGINT) / (count(*) * 1000000) AS nll " +
        "FROM per GROUP BY doc_id ORDER BY doc_id")),

    // shard manifest: the summary a training loader reads instead of
    // listing files — doc count, token total and doc-id range per
    // (lang, shard). One partial-aggregated shuffle over the packing
    // output; at 100 TB the manifest is millions of rows describing
    // billions, which is the point.
    Op("llm_shard_manifest",
      (s, d) => packShards(s, d)
        .groupBy("lang", "shard_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("lang", "shard_id"),
      Some("WITH " + oPackShards + " SELECT lang, shard_id, count(*) AS n_docs, " +
        "CAST(SUM(n_tokens) AS BIGINT) AS total_tokens, " +
        "min(doc_id) AS first_doc, max(doc_id) AS last_doc " +
        "FROM packed GROUP BY lang, shard_id ORDER BY lang, shard_id")),

    // source-mix rebalancing: per-source sampling weights that steer the
    // corpus toward a uniform target mix (weight > 1 ⇒ upsample, < 1 ⇒
    // downsample), plus the post-cap kept-doc count. The counts shuffle
    // is one partial-agg pass; the total is a broadcast scalar — the
    // standard first step of training-mix curation at any scale.
    Op("llm_domain_rebalance",
      (s, d) => {
        val counts = T.t(s, d, "documents").groupBy("source")
          .agg(count(lit(1)).as("n_docs"))
        val total = counts.agg(sum("n_docs").as("total"))
        val nSrc = counts.agg(count(lit(1)).as("n_sources"))
        counts.crossJoin(total).crossJoin(nSrc)
          .withColumn("share", expr("round(CAST(n_docs AS DOUBLE) / total, 6)"))
          .withColumn("weight", expr(
            "round((CAST(total AS DOUBLE) / n_sources) / n_docs, 6)"))
          .withColumn("n_keep", expr(
            "CAST(least(CAST(n_docs AS DOUBLE), floor(n_docs * ((CAST(total AS DOUBLE) / n_sources) / n_docs))) AS BIGINT)"))
          .select("source", "n_docs", "share", "weight", "n_keep")
          .orderBy("source")
      },
      Some("WITH counts AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source), " +
        "t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total, count(*) AS n_sources FROM counts) " +
        "SELECT source, n_docs, round(CAST(n_docs AS DOUBLE) / total, 6) AS share, " +
        "round((CAST(total AS DOUBLE) / n_sources) / n_docs, 6) AS weight, " +
        "CAST(least(CAST(n_docs AS DOUBLE), floor(n_docs * ((CAST(total AS DOUBLE) / n_sources) / n_docs))) AS BIGINT) AS n_keep " +
        "FROM counts, t ORDER BY source")),

    // quality-gate audit: per-rule rejection counts and rates across the
    // corpus — the report a data-curation run emits BEFORE anyone drops a
    // row. Single aggregation pass computing every rule at once (sum of
    // flags), unpivoted to one row per rule; no per-rule rescans.
    Op("llm_quality_gate_report",
      (s, d) => {
        val flagged = T.t(s, d, "documents").select(
          expr("CASE WHEN n_chars < 150 THEN 1 ELSE 0 END").as("f_short"),
          expr("CASE WHEN n_chars > 450 THEN 1 ELSE 0 END").as("f_long"),
          expr("CASE WHEN CAST(length(regexp_replace(text, '[^0-9]', '')) AS DOUBLE) / length(text) > 0.05 THEN 1 ELSE 0 END").as("f_digit"),
          expr("CASE WHEN CAST(size(array_distinct(split(lower(text), ' '))) AS DOUBLE) / size(split(text, ' ')) < 0.5 THEN 1 ELSE 0 END").as("f_repeat"))
        val agg = flagged.agg(
          sum("f_short").as("too_short"), sum("f_long").as("too_long"),
          sum("f_digit").as("digit_heavy"), sum("f_repeat").as("repetitive"),
          count(lit(1)).as("n_total"))
        agg.select(expr(
            "stack(4, 'digit_heavy', digit_heavy, 'repetitive', repetitive, " +
            "'too_long', too_long, 'too_short', too_short) AS (rule, n_fail)"),
            col("n_total"))
          .withColumn("fail_rate", expr("round(CAST(n_fail AS DOUBLE) / n_total, 6)"))
          .select("rule", "n_fail", "fail_rate")
          .orderBy("rule")
      },
      Some("WITH f AS (SELECT " +
        "CAST(SUM(CASE WHEN n_chars < 150 THEN 1 ELSE 0 END) AS BIGINT) AS too_short, " +
        "CAST(SUM(CASE WHEN n_chars > 450 THEN 1 ELSE 0 END) AS BIGINT) AS too_long, " +
        "CAST(SUM(CASE WHEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS digit_heavy, " +
        "CAST(SUM(CASE WHEN CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE) / len(string_split(text, ' ')) < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS repetitive, " +
        "count(*) AS n_total FROM documents) " +
        "SELECT rule, n_fail, round(CAST(n_fail AS DOUBLE) / n_total, 6) AS fail_rate FROM (" +
        "SELECT 'digit_heavy' AS rule, digit_heavy AS n_fail, n_total FROM f " +
        "UNION ALL SELECT 'repetitive', repetitive, n_total FROM f " +
        "UNION ALL SELECT 'too_long', too_long, n_total FROM f " +
        "UNION ALL SELECT 'too_short', too_short, n_total FROM f) ORDER BY rule")),

    // frequency-ranked tokenizer vocabulary: top-1024 tokens with dense
    // ids and cumulative corpus coverage — the deterministic skeleton of
    // vocab construction (a real BPE adds merges on top; the counting
    // and ranking shape is identical). floor() for the coverage share
    // (parity rule: round() is unsafe on exact rationals).
    Op("llm_tokenizer_vocab",
      (s, d) => {
        val freq = T.t(s, d, "documents")
          .select(explode(split(lower(col("text")), " ")).as("token"))
          .groupBy("token").agg(count(lit(1)).as("freq"))
        val total = freq.agg(sum("freq").as("total"))
        // top-N via TakeOrderedAndProject (per-partition top-N, driver
        // merges N per partition) — never a global no-partition window
        // over the unbounded distinct-token table. Rank + running sum
        // are then recovered inside the bounded 1024-row set by a
        // broadcast theta self-join: (freq desc, token) is a total
        // order, so rank = |{b : b at-or-before a}| and the inclusive
        // prefix sum = sum(freq of that set). 1024^2 comparisons is a
        // constant regardless of corpus size.
        val top = freq.orderBy(desc("freq"), col("token")).limit(1024)
        top.as("a")
          .join(broadcast(top.as("b")), expr(
            "b.freq > a.freq OR (b.freq = a.freq AND b.token <= a.token)"))
          .groupBy(col("a.token").as("token"), col("a.freq").as("freq"))
          .agg(count(lit(1)).cast("int").as("id"), sum(col("b.freq")).as("cumfreq"))
          .crossJoin(broadcast(total))
          .withColumn("cum_share",
            expr("floor(CAST(cumfreq AS DOUBLE) / total * 1000000) / 1000000"))
          .select("id", "token", "freq", "cum_share")
          .orderBy("id")
      },
      Some("WITH freq AS (SELECT token, count(*) AS freq FROM " +
        "(SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents) GROUP BY token), " +
        "t AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM freq) " +
        "SELECT id, token, freq, cum_share FROM (" +
        "SELECT CAST(row_number() OVER (ORDER BY freq DESC, token) AS INTEGER) AS id, token, freq, " +
        "floor(CAST(SUM(freq) OVER (ORDER BY freq DESC, token " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / total * 1000000) / 1000000 AS cum_share " +
        "FROM freq, t) WHERE id <= 1024 ORDER BY id")),

    // out-of-vocabulary rate: per-doc fraction of token OCCURRENCES not
    // covered by the top-16 corpus vocabulary — the coverage check run
    // after building any tokenizer vocab (a high OOV tail is how you
    // catch domains the vocab under-serves). The vocab is bounded and
    // broadcast; the rate is an exact integer ratio.
    Op("llm_vocab_oov_rate",
      (s, d) => {
        val toks = T.spread(T.t(s, d, "documents"))
          .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
        // top-16 selection as TakeOrderedAndProject — no global window
        val vocab = toks.groupBy("token").agg(count(lit(1)).as("freq"))
          .orderBy(desc("freq"), col("token")).limit(16).select("token")
        toks.join(broadcast(vocab.withColumn("in_vocab", lit(1))), Seq("token"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
          .withColumn("oov_rate", expr("CAST(n_oov AS DOUBLE) / n_tokens"))
          .orderBy("doc_id")
      },
      Some("WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents), " +
        "vocab AS (SELECT token FROM (SELECT token, row_number() OVER " +
        "(ORDER BY count(*) DESC, token) AS id FROM toks GROUP BY token) WHERE id <= 16) " +
        "SELECT doc_id, count(*) AS n_tokens, " +
        "CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov, " +
        "CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS oov_rate " +
        "FROM toks t LEFT JOIN vocab v ON t.token = v.token " +
        "GROUP BY doc_id ORDER BY doc_id")),

    // curriculum ordering: phase docs easy -> hard by length band, with a
    // deterministic in-phase shuffle (md5 of the text as the sort key) so
    // every run and every engine produces the same training order. At
    // scale the output is range-partitioned by (phase, ord) so shard N
    // of the curriculum is one partition — no global sort at read time.
    Op("llm_curriculum_order",
      (s, d) => T.t(s, d, "documents")
        .withColumn("phase", expr(
          "CASE WHEN n_chars < 250 THEN 0 WHEN n_chars < 400 THEN 1 ELSE 2 END"))
        .withColumn("ord", row_number().over(
          Window.partitionBy("phase").orderBy(md5(col("text")), col("doc_id"))))
        .select("doc_id", "phase", "ord")
        .orderBy("phase", "ord"),
      Some("SELECT doc_id, phase, CAST(row_number() OVER " +
        "(PARTITION BY phase ORDER BY md5(text), doc_id) AS INTEGER) AS ord " +
        "FROM (SELECT doc_id, text, CASE WHEN n_chars < 250 THEN 0 " +
        "WHEN n_chars < 400 THEN 1 ELSE 2 END AS phase FROM documents) " +
        "ORDER BY phase, ord")),

    // exact-k per-stratum reservoir sample, derandomized: rank docs
    // inside each language by a content hash and keep the first 20 —
    // the reproducible equivalent of reservoir sampling (same sample on
    // every run and every engine). Runs on the bounded MinKByKeyAggregator
    // (map-side partial top-k over the FULL md5 key, identical to the
    // window formulation), so the shuffle carries ≤ 20 rows per stratum
    // per mapper — never the stratum itself. The tiny winner set then
    // broadcasts back against the corpus to fetch payload columns.
    Op("llm_reservoir_sample",
      (s, d) => {
        val docs = T.t(s, d, "documents")
        val winners = docs
          .groupBy("lang")
          .agg(graft.functions.MinKByKeyAggregator.minKByKey(20)(
            md5(col("text")), col("doc_id")).as("top"))
          .select(posexplode(col("top")).as(Seq("pos", "e")))
          .select(expr("CAST(pos + 1 AS INT)").as("rk"), col("e.id").as("doc_id"))
        docs.join(broadcast(winners), "doc_id")
          .select("lang", "rk", "doc_id", "source")
          .orderBy("lang", "rk")
      },
      Some("SELECT lang, rk, doc_id, source FROM (" +
        "SELECT lang, doc_id, source, CAST(row_number() OVER " +
        "(PARTITION BY lang ORDER BY md5(text), doc_id) AS INTEGER) AS rk " +
        "FROM documents) WHERE rk <= 20 ORDER BY lang, rk")),

    // length-bucketed batching: docs grouped into batches of similar
    // token length (bucket = n_tokens div 50, batch = 8 docs per bucket
    // in doc_id order) so training batches waste minimal padding — the
    // standard seq-len bucketing pass. Padding waste per batch is
    // reported as max_len·8 − sum_len, all integers.
    Op("llm_length_bucket_pack",
      (s, d) => {
        val docs = T.t(s, d, "documents")
          .withColumn("n_tokens", expr("size(split(text, ' '))"))
          .withColumn("bucket", expr("CAST(n_tokens div 50 AS INT)"))
          .withColumn("seq", row_number().over(
            Window.partitionBy("bucket").orderBy("doc_id")))
          .withColumn("batch_id", expr("CAST((seq - 1) div 8 AS INT)"))
        docs.groupBy("bucket", "batch_id")
          .agg(count(lit(1)).as("n_docs"), max("n_tokens").as("max_len"),
            sum("n_tokens").as("sum_len"))
          .withColumn("padding_waste", expr("CAST(max_len * n_docs - sum_len AS BIGINT)"))
          .orderBy("bucket", "batch_id")
      },
      Some("SELECT bucket, batch_id, count(*) AS n_docs, max(n_tokens) AS max_len, " +
        "CAST(SUM(n_tokens) AS BIGINT) AS sum_len, " +
        "CAST(max(n_tokens) * count(*) - SUM(n_tokens) AS BIGINT) AS padding_waste " +
        "FROM (SELECT bucket, CAST((seq - 1) // 8 AS INTEGER) AS batch_id, n_tokens FROM (" +
        "SELECT n_tokens, bucket, row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS seq " +
        "FROM (SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens, " +
        "CAST(len(string_split(text, ' ')) // 50 AS INTEGER) AS bucket FROM documents))) " +
        "GROUP BY bucket, batch_id ORDER BY bucket, batch_id")),

    // span-corruption prep (T5-style denoising, derandomized): token
    // spans of length 2 starting at positions ≡ 1 (mod 7) are replaced
    // by sentinels; the op reports per-doc corruption stats (masked
    // token count, sentinel count, corrupted-text digest). A pure
    // codegen map stage — the shape of masking at 100 TB is a narrow
    // pass whose output partitioning follows the input.
    Op("llm_span_corrupt",
      (s, d) => T.t(s, d, "documents")
        .withColumn("toks", split(col("text"), " "))
        .withColumn("masked", expr(
          "transform(toks, (t, i) -> CASE WHEN i % 7 = 0 THEN '<extra_id>' " +
            "WHEN i % 7 = 1 THEN NULL ELSE t END)"))
        .select(
          col("doc_id"),
          expr("size(toks)").as("n_tokens"),
          expr("size(filter(masked, t -> t IS NULL)) + size(filter(masked, t -> t = '<extra_id>'))")
            .as("n_masked"),
          expr("size(filter(masked, t -> t = '<extra_id>'))").as("n_sentinels"),
          md5(expr("concat_ws(' ', filter(masked, t -> t IS NOT NULL))")).as("digest"))
        .orderBy("doc_id"),
      Some("SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tokens, " +
        "CAST(len(list_filter(masked, t -> t IS NULL)) + len(list_filter(masked, t -> t = '<extra_id>')) AS INTEGER) AS n_masked, " +
        "CAST(len(list_filter(masked, t -> t = '<extra_id>')) AS INTEGER) AS n_sentinels, " +
        "md5(array_to_string(list_filter(masked, t -> t IS NOT NULL), ' ')) AS digest " +
        "FROM (SELECT doc_id, toks, list_transform(range(1, len(toks) + 1), " +
        "i -> CASE WHEN (i - 1) % 7 = 0 THEN '<extra_id>' WHEN (i - 1) % 7 = 1 THEN NULL ELSE toks[i] END) AS masked " +
        "FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)) ORDER BY doc_id")),

    // bigram language-model estimation: for every token, its most likely
    // successor with count and conditional probability — the counting
    // core of n-gram LM training. Two partial-aggregated shuffles
    // (bigram counts, then per-head argmax via window); probabilities
    // are exact integer ratios so the doubles agree across engines.
    Op("llm_bigram_lm",
      (s, d) => {
        val bi = T.spread(T.t(s, d, "documents"))
          .withColumn("toks", split(lower(col("text")), " "))
          .where("size(toks) >= 2")
          .select(explode(expr(
            "transform(sequence(1, size(toks) - 1), " +
              "i -> struct(element_at(toks, i) AS w1, element_at(toks, i + 1) AS w2))"))
            .as("b"))
          .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
          .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        val heads = bi.groupBy("w1").agg(sum("c12").as("c1"))
        bi.join(heads, "w1")
          .withColumn("rn", row_number().over(
            Window.partitionBy("w1").orderBy(desc("c12"), col("w2"))))
          .where("rn = 1")
          .select(col("w1"), col("w2"), col("c12"),
            expr("CAST(c1 AS BIGINT)").as("c1"),
            expr("CAST(c12 AS DOUBLE) / c1").as("p"))
          .orderBy("w1")
      },
      Some("WITH bi AS (SELECT w1, w2, count(*) AS c12 FROM (" +
        "SELECT toks[i] AS w1, toks[i + 1] AS w2 " +
        "FROM (SELECT string_split(lower(text), ' ') AS toks FROM documents) , " +
        "unnest(range(1, len(toks))) t(i) WHERE len(toks) >= 2) GROUP BY w1, w2), " +
        "heads AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM bi GROUP BY w1) " +
        "SELECT w1, w2, c12, c1, CAST(c12 AS DOUBLE) / c1 AS p FROM (" +
        "SELECT bi.w1, w2, c12, c1, row_number() OVER " +
        "(PARTITION BY bi.w1 ORDER BY c12 DESC, w2) AS rn FROM bi JOIN heads ON bi.w1 = heads.w1) " +
        "WHERE rn = 1 ORDER BY w1")),

    // dataset card: the one-row corpus summary a published dataset ships
    // with — doc/token/vocab sizes, language and source spread, exact-dup
    // rate, mean length. One aggregation pass; ratios are exact integer
    // quotients (floor-scaled where they can sit on rounding boundaries).
    Op("llm_dataset_card",
      (s, d) => T.t(s, d, "documents").agg(
          count(lit(1)).as("n_docs"),
          expr("CAST(SUM(size(split(text, ' '))) AS BIGINT)").as("n_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources"),
          expr("floor((1 - CAST(count(DISTINCT lower(trim(text))) AS DOUBLE) / count(1)) * 1000000) / 1000000")
            .as("dup_rate"),
          expr("CAST(SUM(n_chars) AS DOUBLE) / count(1)").as("avg_chars")),
      Some("SELECT count(*) AS n_docs, " +
        "CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens, " +
        "count(DISTINCT lang) AS n_langs, count(DISTINCT source) AS n_sources, " +
        "floor((1 - CAST(count(DISTINCT lower(trim(text))) AS DOUBLE) / count(*)) * 1000000) / 1000000 AS dup_rate, " +
        "CAST(SUM(n_chars) AS DOUBLE) / count(*) AS avg_chars FROM documents")),

    // One BPE-style merge step at word level: find the globally most
    // frequent adjacent token pair (tie-broken lexicographically), then
    // merge its occurrences in every document. replace() is left-to-right
    // non-overlapping in both engines, so the merge is bit-identical.
    Op("llm_bpe_merge_step",
      (s, d) => {
        val toks = T.spread(T.t(s, d, "documents"))
          .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
        // size guard: Spark's sequence(1, 0) DESCENDS (would hit index 0)
        val top = toks.where("size(toks) >= 2")
          .select(explode(expr("transform(sequence(1, size(toks) - 1), " +
            "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))")).as("pair"))
          .groupBy("pair").agg(count(lit(1)).as("cnt"))
          .orderBy(desc("cnt"), col("pair")).limit(1)
        // two replace passes = greedy left-to-right BPE: pass 1 merges
        // every other occurrence in a run (the shared boundary space is
        // consumed), pass 2 catches the now-isolated remainder.
        toks.crossJoin(broadcast(top))
          .withColumn("padded", concat(lit(" "), array_join(col("toks"), " "), lit(" ")))
          .withColumn("merged",
            expr("replace(replace(padded, concat(' ', pair, ' '), concat(' ', replace(pair, ' ', '_'), ' ')), " +
              "concat(' ', pair, ' '), concat(' ', replace(pair, ' ', '_'), ' '))"))
          .select(col("doc_id"), col("pair").as("top_pair"),
            // each merge collapses two tokens into one
            expr("CAST(size(toks) - size(split(trim(merged), ' ')) AS INT)").as("n_merges"),
            expr("md5(trim(merged))").as("merged_md5"))
          .orderBy("doc_id")
      },
      Some("WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents), " +
        "pairs AS (SELECT unnest(list_transform(range(1, len(toks)), " +
        "i -> concat(toks[i], ' ', toks[i + 1]))) AS pair FROM toks), " +
        "top AS (SELECT pair, count(*) AS cnt FROM pairs GROUP BY pair " +
        "ORDER BY cnt DESC, pair LIMIT 1), " +
        "m AS (SELECT doc_id, pair, len(toks) AS n_toks, " +
        "replace(replace(concat(' ', array_to_string(toks, ' '), ' '), " +
        "concat(' ', pair, ' '), concat(' ', replace(pair, ' ', '_'), ' ')), " +
        "concat(' ', pair, ' '), concat(' ', replace(pair, ' ', '_'), ' ')) AS merged FROM toks, top) " +
        "SELECT doc_id, pair AS top_pair, " +
        "CAST(n_toks - len(string_split(trim(merged), ' ')) AS INTEGER) AS n_merges, " +
        "md5(trim(merged)) AS merged_md5 " +
        "FROM m ORDER BY doc_id")),

    // Per-document unigram entropy (repetition/diversity quality signal):
    // H = ln(n) - sum(c*ln c)/n over within-doc token counts. The inner
    // sum goes through per-term fixed-point BIGINTs so partition order
    // cannot drift the total (rule 4 for transcendentals).
    Op("llm_token_entropy",
      (s, d) => T.spread(T.t(s, d, "documents"))
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_toks"),
          sum(expr("CAST(floor(c * ln(c) * 1000000 + 0.000001) AS BIGINT)")).as("s_fp"))
        .select(col("doc_id"), col("n_toks"),
          expr("CAST(floor(ln(n_toks) * 1000000 + 0.000001) AS BIGINT) - s_fp div n_toks").as("ent_fp"))
        .withColumn("entropy", expr("CAST(ent_fp AS DOUBLE) / 1000000"))
        .orderBy("doc_id"),
      Some("WITH tc AS (SELECT doc_id, tok, count(*) AS c FROM " +
        "(SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents) GROUP BY doc_id, tok), " +
        "agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_toks, " +
        "CAST(SUM(CAST(floor(c * ln(c) * 1000000 + 0.000001) AS BIGINT)) AS BIGINT) AS s_fp " +
        "FROM tc GROUP BY doc_id) " +
        "SELECT doc_id, n_toks, " +
        "CAST(floor(ln(n_toks) * 1000000 + 0.000001) AS BIGINT) - s_fp // n_toks AS ent_fp, " +
        "CAST(CAST(floor(ln(n_toks) * 1000000 + 0.000001) AS BIGINT) - s_fp // n_toks AS DOUBLE) / 1000000 AS entropy " +
        "FROM agg ORDER BY doc_id")),

    // Zipf slope of the corpus rank-frequency curve via least squares on
    // (ln rank, ln freq) — the classic corpus-health diagnostic. All four
    // regression sums are exact BIGINTs over 1e3 fixed-point logs, so the
    // final slope is one exact rational division (identical doubles).
    // The fit uses the top-4096 ranks: statistically that's the stable
    // part of the curve (the freq=1 tail distorts an unweighted LS fit),
    // and computationally it turns the global rank into a bounded
    // problem — top-K via TakeOrderedAndProject, then rank-within-K by a
    // broadcast theta self-join over the total order (freq desc, tok).
    // No no-partition window anywhere, so a 10^9-token vocabulary never
    // lands in a single partition.
    Op("llm_zipf_fit",
      (s, d) => {
        val freq = T.spread(T.t(s, d, "documents"))
          .select(explode(split(lower(col("text")), " ")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("freq"))
        val top = freq.orderBy(desc("freq"), col("tok")).limit(4096)
        val ranked = top.as("a")
          .join(broadcast(top.as("b")), expr(
            "b.freq > a.freq OR (b.freq = a.freq AND b.tok <= a.tok)"))
          .groupBy(col("a.tok").as("tok"), col("a.freq").as("freq"))
          .agg(count(lit(1)).as("rnk"))
          .select(
            expr("CAST(floor(ln(rnk) * 1000 + 0.000001) AS BIGINT)").as("x"),
            expr("CAST(floor(ln(freq) * 1000 + 0.000001) AS BIGINT)").as("y"))
        ranked.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
            sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"))
          .select(col("n"),
            expr("CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)").as("zipf_slope"))
      },
      Some("WITH f AS (SELECT tok, count(*) AS freq FROM " +
        "(SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents) GROUP BY tok), " +
        "r0 AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, tok) AS rnk FROM f), " +
        "r AS (SELECT CAST(floor(ln(rnk) * 1000 + 0.000001) AS BIGINT) AS x, " +
        "CAST(floor(ln(freq) * 1000 + 0.000001) AS BIGINT) AS y FROM r0 WHERE rnk <= 4096), " +
        "s AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx, " +
        "CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * y) AS BIGINT) AS sxy, " +
        "CAST(SUM(x * x) AS BIGINT) AS sxx FROM r) " +
        "SELECT n, CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) AS zipf_slope FROM s")),

    // Importance resampling: acceptance-sample each doc with probability
    // proportional to an importance weight (here: favor shorter docs),
    // derandomized through the md5 hash-bucket trick so the kept set is
    // reproducible across runs and engines.
    Op("llm_importance_resample",
      (s, d) => T.t(s, d, "documents")
        .withColumn("n_toks", expr("CAST(size(split(text, ' ')) AS INT)"))
        // 1.0D: Spark parses bare decimal literals as DECIMAL, which
        // would make w a Decimal column and break float parity
        .withColumn("w", expr("least(1.0D, 40.0D / n_toks)"))
        .withColumn("u",
          expr(s"${T.h32("CAST(doc_id AS STRING)")} % 10000"))
        .where("u < CAST(floor(w * 10000 + 0.000001) AS BIGINT)")
        .select("doc_id", "n_toks", "w")
        .orderBy("doc_id"),
      Some("SELECT doc_id, n_toks, w FROM (SELECT doc_id, " +
        "CAST(len(string_split(text, ' ')) AS INTEGER) AS n_toks, " +
        "least(1.0, 40.0 / len(string_split(text, ' '))) AS w, " +
        s"${T.oH32("CAST(doc_id AS VARCHAR)")} % 10000 AS u " +
        "FROM documents) WHERE u < CAST(floor(w * 10000 + 0.000001) AS BIGINT) ORDER BY doc_id")),

    // Adjacent-token PMI: the association-mining companion to the bigram
    // LM — ln(c(ab)·N² / (B·c(a)·c(b))) over pairs seen ≥5 times, top 20.
    // The ratio is built in one fixed operand order so both engines take
    // ln of the identical double, then fixed-point floored (rule 4).
    Op("llm_bigram_pmi",
      (s, d) => {
        val toks = T.spread(T.t(s, d, "documents"))
          .select(split(lower(col("text")), " ").as("toks"))
        val flat = toks.select(explode(col("toks")).as("tok"))
        val nTok = flat.count()
        val prs = toks.where("size(toks) >= 2")
          .select(explode(expr("transform(sequence(1, size(toks) - 1), " +
            "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))")).as("pair"))
        val nBig = prs.count()
        val uni = flat.groupBy("tok").agg(count(lit(1)).as("c"))
        prs.groupBy("pair").agg(count(lit(1)).as("c_ab")).where("c_ab >= 5")
          .withColumn("a", expr("split_part(pair, ' ', 1)"))
          .withColumn("b", expr("split_part(pair, ' ', 2)"))
          .join(uni.select(col("tok").as("a"), col("c").as("c_a")), "a")
          .join(uni.select(col("tok").as("b"), col("c").as("c_b")), "b")
          .withColumn("pmi_fp", expr(
            s"CAST(floor(ln(CAST(c_ab AS DOUBLE) * $nTok * $nTok / " +
              s"(CAST($nBig AS DOUBLE) * c_a * c_b)) * 1000000 + 0.000001) AS BIGINT)"))
          .withColumn("pmi", expr("CAST(pmi_fp AS DOUBLE) / 1000000"))
          .select("a", "b", "c_ab", "pmi_fp", "pmi")
          .orderBy(desc("pmi_fp"), col("a"), col("b"))
          .limit(20)
      },
      Some("WITH t AS (SELECT string_split(lower(text), ' ') AS toks FROM documents), " +
        "flat AS (SELECT unnest(toks) AS tok FROM t), " +
        "tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM flat), " +
        "prs AS (SELECT unnest(list_transform(range(1, len(toks)), " +
        "i -> concat(toks[i], ' ', toks[i + 1]))) AS pair FROM t), " +
        "btot AS (SELECT CAST(count(*) AS BIGINT) AS bt FROM prs), " +
        "uni AS (SELECT tok, count(*) AS c FROM flat GROUP BY tok), " +
        "pc AS (SELECT pair, count(*) AS c_ab FROM prs GROUP BY pair HAVING count(*) >= 5) " +
        "SELECT split_part(pair, ' ', 1) AS a, split_part(pair, ' ', 2) AS b, c_ab, " +
        "CAST(floor(ln(CAST(c_ab AS DOUBLE) * n * n / (CAST(bt AS DOUBLE) * ua.c * ub.c)) " +
        "* 1000000 + 0.000001) AS BIGINT) AS pmi_fp, " +
        "CAST(CAST(floor(ln(CAST(c_ab AS DOUBLE) * n * n / (CAST(bt AS DOUBLE) * ua.c * ub.c)) " +
        "* 1000000 + 0.000001) AS BIGINT) AS DOUBLE) / 1000000 AS pmi " +
        "FROM pc CROSS JOIN tot CROSS JOIN btot " +
        "JOIN uni ua ON ua.tok = split_part(pc.pair, ' ', 1) " +
        "JOIN uni ub ON ub.tok = split_part(pc.pair, ' ', 2) " +
        "ORDER BY pmi_fp DESC, a, b LIMIT 20")),

    // Two unrolled BPE merge iterations in ONE declarative plan (the
    // kmeans_step/kmeans_train pattern applied to tokenizer training):
    // merge 1 may create a composite token that merge 2 then extends.
    Op("llm_bpe_train2",
      (s, d) => {
        def topPair(t: org.apache.spark.sql.DataFrame, alias: String) = t
          .where("size(toks) >= 2")
          .select(explode(expr("transform(sequence(1, size(toks) - 1), " +
            "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))")).as("pair"))
          .groupBy("pair").agg(count(lit(1)).as("cnt"))
          .orderBy(desc("cnt"), col("pair")).limit(1)
          .select(col("pair").as(alias))
        def mergeExpr(padCol: String, pairCol: String): String =
          s"replace(replace($padCol, concat(' ', $pairCol, ' '), " +
            s"concat(' ', replace($pairCol, ' ', '_'), ' ')), " +
            s"concat(' ', $pairCol, ' '), concat(' ', replace($pairCol, ' ', '_'), ' '))"
        val toks1 = T.spread(T.t(s, d, "documents"))
          .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
          .withColumn("n0", expr("size(toks)"))
        val m1 = toks1.crossJoin(broadcast(topPair(toks1, "p1")))
          .withColumn("pad1", concat(lit(" "), array_join(col("toks"), " "), lit(" ")))
          .withColumn("text1", trim(expr(mergeExpr("pad1", "p1"))))
        val toks2 = m1.select(col("doc_id"), col("n0"), col("p1"),
          split(col("text1"), " ").as("toks"))
        val m2 = toks2.crossJoin(broadcast(topPair(toks2, "p2")))
          .withColumn("pad2", concat(lit(" "), array_join(col("toks"), " "), lit(" ")))
          .withColumn("text2", trim(expr(mergeExpr("pad2", "p2"))))
        m2.select(col("doc_id"), col("p1"), col("p2"),
            expr("CAST(n0 - size(split(text2, ' ')) AS INT)").as("n_merges"),
            expr("md5(text2)").as("merged_md5"))
          .orderBy("doc_id")
      },
      Some("WITH t1 AS (SELECT doc_id, string_split(lower(text), ' ') AS toks, " +
        "len(string_split(lower(text), ' ')) AS n0 FROM documents), " +
        "top1 AS (SELECT pair AS p1 FROM (SELECT unnest(list_transform(range(1, len(toks)), " +
        "i -> concat(toks[i], ' ', toks[i + 1]))) AS pair FROM t1) " +
        "GROUP BY pair ORDER BY count(*) DESC, pair LIMIT 1), " +
        "m1 AS (SELECT doc_id, n0, p1, trim(replace(replace(" +
        "concat(' ', array_to_string(toks, ' '), ' '), concat(' ', p1, ' '), " +
        "concat(' ', replace(p1, ' ', '_'), ' ')), concat(' ', p1, ' '), " +
        "concat(' ', replace(p1, ' ', '_'), ' '))) AS text1 FROM t1, top1), " +
        "t2 AS (SELECT doc_id, n0, p1, string_split(text1, ' ') AS toks FROM m1), " +
        "top2 AS (SELECT pair AS p2 FROM (SELECT unnest(list_transform(range(1, len(toks)), " +
        "i -> concat(toks[i], ' ', toks[i + 1]))) AS pair FROM t2) " +
        "GROUP BY pair ORDER BY count(*) DESC, pair LIMIT 1), " +
        "m2 AS (SELECT doc_id, n0, p1, p2, trim(replace(replace(" +
        "concat(' ', array_to_string(toks, ' '), ' '), concat(' ', p2, ' '), " +
        "concat(' ', replace(p2, ' ', '_'), ' ')), concat(' ', p2, ' '), " +
        "concat(' ', replace(p2, ' ', '_'), ' '))) AS text2 FROM t2, top2) " +
        "SELECT doc_id, p1, p2, " +
        "CAST(n0 - len(string_split(text2, ' ')) AS INTEGER) AS n_merges, " +
        "md5(text2) AS merged_md5 FROM m2 ORDER BY doc_id")),

    // Trigram LM with stupid backoff: p(c|ab) = c(abc)/c(ab), and the
    // 0.4-discounted bigram fallback score alongside. All probabilities
    // are exact int/int double divisions (rule 12) — no fixed-point
    // needed. Top 30 trigrams by count, injectively tie-broken.
    Op("llm_trigram_backoff",
      (s, d) => {
        val toks = T.spread(T.t(s, d, "documents"))
          .select(split(lower(col("text")), " ").as("toks"))
        val tri = toks.where("size(toks) >= 3")
          .select(explode(expr("transform(sequence(1, size(toks) - 2), " +
            "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1), ' ', element_at(toks, i + 2)))")).as("tri"))
          .groupBy("tri").agg(count(lit(1)).as("c_abc"))
        val bi = toks.where("size(toks) >= 2")
          .select(explode(expr("transform(sequence(1, size(toks) - 1), " +
            "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))")).as("bi"))
          .groupBy("bi").agg(count(lit(1)).as("c_bi"))
        val uni = toks.select(explode(col("toks")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("c_uni"))
        tri.where("c_abc >= 3")
          .withColumn("a", expr("split_part(tri, ' ', 1)"))
          .withColumn("b", expr("split_part(tri, ' ', 2)"))
          .withColumn("c", expr("split_part(tri, ' ', 3)"))
          .withColumn("ab", expr("concat(a, ' ', b)"))
          .withColumn("bc", expr("concat(b, ' ', c)"))
          .join(bi.select(col("bi").as("ab"), col("c_bi").as("c_ab")), "ab")
          .join(bi.select(col("bi").as("bc"), col("c_bi").as("c_bc")), "bc")
          .join(uni.select(col("tok").as("b"), col("c_uni").as("c_b")), "b")
          .withColumn("p3", expr("CAST(c_abc AS DOUBLE) / c_ab"))
          .withColumn("backoff", expr("0.4D * CAST(c_bc AS DOUBLE) / c_b"))
          .select("a", "b", "c", "c_abc", "p3", "backoff")
          .orderBy(desc("c_abc"), col("a"), col("b"), col("c"))
          .limit(30)
      },
      Some("WITH t AS (SELECT string_split(lower(text), ' ') AS toks FROM documents), " +
        "tri AS (SELECT tri, count(*) AS c_abc FROM (SELECT unnest(list_transform(range(1, len(toks) - 1), " +
        "i -> concat(toks[i], ' ', toks[i + 1], ' ', toks[i + 2]))) AS tri FROM t) GROUP BY tri), " +
        "bi AS (SELECT bi, count(*) AS c_bi FROM (SELECT unnest(list_transform(range(1, len(toks)), " +
        "i -> concat(toks[i], ' ', toks[i + 1]))) AS bi FROM t) GROUP BY bi), " +
        "uni AS (SELECT tok, count(*) AS c_uni FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY tok) " +
        "SELECT split_part(tri, ' ', 1) AS a, split_part(tri, ' ', 2) AS b, split_part(tri, ' ', 3) AS c, " +
        "c_abc, CAST(c_abc AS DOUBLE) / ab.c_bi AS p3, " +
        "0.4 * CAST(bc.c_bi AS DOUBLE) / u.c_uni AS backoff " +
        "FROM tri " +
        "JOIN bi ab ON ab.bi = concat(split_part(tri, ' ', 1), ' ', split_part(tri, ' ', 2)) " +
        "JOIN bi bc ON bc.bi = concat(split_part(tri, ' ', 2), ' ', split_part(tri, ' ', 3)) " +
        "JOIN uni u ON u.tok = split_part(tri, ' ', 2) " +
        "WHERE c_abc >= 3 ORDER BY c_abc DESC, a, b, c LIMIT 30")),

    // Shard-packing efficiency: per-language utilization of the
    // 2000-token shard budget from the contiguous packing — the audit a
    // training loader runs before accepting a dataset layout. Reuses the
    // range-bucketed two-level packing ([[packShards]]), so the
    // cumulative window never holds a whole language in one partition.
    Op("llm_packing_efficiency",
      (s, d) => {
        packShards(s, d)
          .groupBy("lang")
          .agg(countDistinct("shard_id").as("n_shards"),
            sum("n_tokens").as("total_tokens"))
          .withColumn("utilization",
            expr("CAST(total_tokens AS DOUBLE) / (n_shards * 2000)"))
          .orderBy("lang")
      },
      Some("WITH packed AS (SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, " +
        "CAST((SUM(len(string_split(text, ' '))) OVER (PARTITION BY lang ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - len(string_split(text, ' '))) // 2000 AS INTEGER) AS shard_id " +
        "FROM documents) " +
        "SELECT lang, count(DISTINCT shard_id) AS n_shards, " +
        "CAST(SUM(n_tokens) AS BIGINT) AS total_tokens, " +
        "CAST(CAST(SUM(n_tokens) AS BIGINT) AS DOUBLE) / (count(DISTINCT shard_id) * 2000) AS utilization " +
        "FROM packed GROUP BY lang ORDER BY lang")),

    Op("llm_tokenize_apply",
      (s, d) => {
        val docs = T.t(s, d, "documents")
        val freq = docs
          .select(explode(split(lower(col("text")), " ")).as("token"))
          .groupBy("token").agg(count(lit(1)).as("freq"))
        // bounded top-1024 vocabulary with dense ids — TakeOrderedAndProject
        // + rank-by-count broadcast self-join, as in llm_tokenizer_vocab
        val top = freq.orderBy(desc("freq"), col("token")).limit(1024)
        val vocab = top.as("a")
          .join(broadcast(top.as("b")), expr(
            "b.freq > a.freq OR (b.freq = a.freq AND b.token <= a.token)"))
          .groupBy(col("a.token").as("token"))
          .agg(count(lit(1)).cast("int").as("id"))
        docs
          .select(col("doc_id"),
            posexplode(split(lower(col("text")), " ")).as(Seq("pos", "token")))
          .join(broadcast(vocab), Seq("token"), "left")
          .withColumn("id", coalesce(col("id"), lit(0)))
          .groupBy("doc_id")
          .agg(count(lit(1)).cast("int").as("n_tokens"),
            sum(when(col("id") === 0, 1L).otherwise(0L)).as("n_oov"),
            expr("array_join(transform(array_sort(collect_list(struct(pos, id))), " +
              "x -> CAST(x.id AS STRING)), ',')").as("ids"))
          .orderBy("doc_id")
      },
      Some("WITH freq AS (SELECT token, count(*) AS freq FROM " +
        "(SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents) GROUP BY token), " +
        "vocab AS (SELECT token, CAST(row_number() OVER (ORDER BY freq DESC, token) AS INTEGER) AS id " +
        "FROM freq ORDER BY freq DESC, token LIMIT 1024), " +
        "tk AS (SELECT doc_id, unnest(list_transform(range(len(ts)), i -> {'pos': i, 'tok': ts[i + 1]})) AS u " +
        "FROM (SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents)), " +
        "toks AS (SELECT doc_id, CAST(u.pos AS INTEGER) AS pos, u.tok AS token FROM tk) " +
        "SELECT doc_id, CAST(count(*) AS INTEGER) AS n_tokens, " +
        "CAST(SUM(CASE WHEN v.id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov, " +
        "array_to_string(array_agg(coalesce(v.id, 0) ORDER BY pos), ',') AS ids " +
        "FROM toks LEFT JOIN vocab v USING (token) " +
        "GROUP BY doc_id ORDER BY doc_id")),

    // Gopher quality rules (Rae et al. 2021, published thresholds): word
    // count in [50, 100k], mean word length in [3, 10], symbol-to-word
    // ratio <= 0.1, >= 80% words containing an alphabetic char, >= 2
    // distinct canonical stopwords. Pure integer/exact-ratio arithmetic
    // end to end — one codegen pass, no shuffle before the final sort.
    Op("llm_gopher_quality",
      (s, d) => T.t(s, d, "documents")
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_words", expr("CAST(size(toks) AS BIGINT)"))
        .withColumn("mean_wl",
          expr("CAST(length(replace(text, ' ', '')) AS DOUBLE) / n_words"))
        .withColumn("n_sym", expr(
          "CAST(length(text) - length(replace(text, '#', '')) + " +
            "length(text) - length(replace(text, '…', '')) AS BIGINT)"))
        .withColumn("n_alpha", expr(
          "CAST(size(filter(toks, t -> t rlike '[a-zA-Z]')) AS BIGINT)"))
        .withColumn("n_stop", expr(
          "CAST(size(array_intersect(array_distinct(toks), " +
            "array('the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'))) AS BIGINT)"))
        .select(col("doc_id"), col("n_words"), col("mean_wl"), col("n_stop"),
          expr("n_words BETWEEN 50 AND 100000").as("r_count"),
          expr("mean_wl BETWEEN 3 AND 10").as("r_wordlen"),
          expr("CAST(n_sym AS DOUBLE) / n_words <= 0.1").as("r_symbol"),
          expr("CAST(n_alpha AS DOUBLE) / n_words >= 0.8").as("r_alpha"),
          expr("n_stop >= 2").as("r_stop"),
          expr("n_words BETWEEN 50 AND 100000 AND mean_wl BETWEEN 3 AND 10 " +
            "AND CAST(n_sym AS DOUBLE) / n_words <= 0.1 " +
            "AND CAST(n_alpha AS DOUBLE) / n_words >= 0.8 AND n_stop >= 2").as("pass"))
        .orderBy("doc_id"),
      Some("WITH g AS (SELECT doc_id, string_split(text, ' ') AS toks, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words, " +
        "CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) AS mean_wl, " +
        "CAST(length(text) - length(replace(text, '#', '')) + " +
        "length(text) - length(replace(text, '…', '')) AS BIGINT) AS n_sym, " +
        "CAST(len(list_filter(string_split(text, ' '), t -> regexp_matches(t, '[a-zA-Z]'))) AS BIGINT) AS n_alpha, " +
        "CAST(len(list_intersect(list_distinct(string_split(text, ' ')), " +
        "['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'])) AS BIGINT) AS n_stop FROM documents) " +
        "SELECT doc_id, n_words, mean_wl, n_stop, " +
        "n_words BETWEEN 50 AND 100000 AS r_count, " +
        "mean_wl BETWEEN 3 AND 10 AS r_wordlen, " +
        "CAST(n_sym AS DOUBLE) / n_words <= 0.1 AS r_symbol, " +
        "CAST(n_alpha AS DOUBLE) / n_words >= 0.8 AS r_alpha, " +
        "n_stop >= 2 AS r_stop, " +
        "n_words BETWEEN 50 AND 100000 AND mean_wl BETWEEN 3 AND 10 " +
        "AND CAST(n_sym AS DOUBLE) / n_words <= 0.1 " +
        "AND CAST(n_alpha AS DOUBLE) / n_words >= 0.8 AND n_stop >= 2 AS pass " +
        "FROM g ORDER BY doc_id")),

    // Skip-gram co-occurrence counts (word2vec / GloVe preprocessing):
    // top-25 (center, context) pairs within a +-2 token window. The
    // window join is an EQUI join on (doc_id, pos + offset) — offsets
    // explode to 4 rows per token, then hash-join back to positions —
    // so it scales as an ordinary shuffle join; no positional theta
    // join, no per-doc collect.
    Op("llm_skipgram_pairs",
      (s, d) => {
        val toks = T.spread(T.t(s, d, "documents"))
          .select(col("doc_id"),
            posexplode(split(lower(col("text")), " ")).as(Seq("pos", "w")))
        val ctx = toks
          .withColumn("off", explode(expr("array(-2, -1, 1, 2)")))
          .withColumn("cpos", col("pos") + col("off"))
          .select("doc_id", "cpos", "w")
        ctx.join(
            toks.select(col("doc_id"), col("pos").as("cpos"), col("w").as("context")),
            Seq("doc_id", "cpos"))
          .groupBy(col("w").as("center"), col("context"))
          .agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), col("center"), col("context")).limit(25)
      },
      Some("WITH tk AS (SELECT doc_id, unnest(list_transform(range(len(ts)), " +
        "i -> {'pos': i, 'w': ts[i + 1]})) AS u " +
        "FROM (SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents)), " +
        "toks AS (SELECT doc_id, CAST(u.pos AS INTEGER) AS pos, u.w AS w FROM tk), " +
        "ctx AS (SELECT doc_id, pos + off AS cpos, w FROM toks, " +
        "(SELECT unnest([-2, -1, 1, 2]) AS off)) " +
        "SELECT c.w AS center, t.w AS context, count(*) AS n " +
        "FROM ctx c JOIN toks t ON c.doc_id = t.doc_id AND c.cpos = t.pos " +
        "GROUP BY center, context ORDER BY n DESC, center, context LIMIT 25")),

    // Per-doc n-gram novelty in doc_id order: the fraction of a doc's
    // distinct 3-gram shingles whose FIRST corpus occurrence is this doc
    // — the memorization/novelty curve read before adding a source to a
    // training mix. First-occurrence is one min-aggregation over the
    // exploded shingles; no self-join.
    Op("llm_ngram_novelty",
      (s, d) => {
        val sh = T.spread(T.t(s, d, "documents"))
          .withColumn("toks", split(lower(col("text")), " "))
          .where("size(toks) >= 3")
          .select(col("doc_id"), explode(expr(
            "array_distinct(transform(sequence(1, size(toks) - 2), " +
              "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1), ' ', element_at(toks, i + 2))))")).as("sh"))
        val first = sh.groupBy("sh").agg(min("doc_id").as("first_doc"))
        sh.join(first, "sh")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
          .withColumn("novelty", expr("CAST(n_novel AS DOUBLE) / n_shingles"))
          .orderBy("doc_id")
      },
      Some("WITH sh AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
        "range(1, len(toks) - 1), i -> concat(toks[i], ' ', toks[i + 1], ' ', toks[i + 2])))) AS sh " +
        "FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents) WHERE len(toks) >= 3), " +
        "f AS (SELECT sh, min(doc_id) AS first_doc FROM sh GROUP BY sh) " +
        "SELECT doc_id, count(*) AS n_shingles, " +
        "CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel, " +
        "CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS novelty " +
        "FROM sh JOIN f USING (sh) GROUP BY doc_id ORDER BY doc_id")),

    // Deterministic training-order shuffle: every doc gets a
    // pseudorandom (md5-keyed) position inside one of 8 shards — the
    // reproducible global shuffle a training loader consumes. The
    // REFERENCE semantics is one rank per shard (the oracle's single
    // window); the engine computes it two-level like llm_pack_shards:
    // rank inside (shard, 2-hex-digit key prefix) plus an exclusive
    // prefix-sum of the 256-row-per-shard prefix counts — numerically
    // identical, but the dominant shard splits across 256 window
    // partitions instead of one (add prefix digits as the corpus
    // grows).
    Op("llm_dataset_shuffle",
      (s, d) => {
        val base = T.t(s, d, "documents").select("doc_id")
          .withColumn("hkey", expr("substring(md5(CAST(doc_id AS STRING)), 1, 8)"))
          .withColumn("shard", expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) % 8 AS INT)"))
          .withColumn("pfx", expr("substring(hkey, 1, 2)"))
        val wOff = Window.partitionBy("shard").orderBy("pfx")
          .rowsBetween(Window.unboundedPreceding, -1)
        val offsets = base.groupBy("shard", "pfx").agg(count(lit(1)).as("cnt"))
          .withColumn("off", coalesce(sum("cnt").over(wOff), lit(0L)))
          .select("shard", "pfx", "off")
        val wLocal = Window.partitionBy("shard", "pfx").orderBy("hkey", "doc_id")
        base.withColumn("lpos", row_number().over(wLocal))
          .join(offsets, Seq("shard", "pfx"))
          .select(col("doc_id"), col("shard"),
            (col("off") + col("lpos") - 1).as("pos"))
          .orderBy("shard", "pos")
      },
      Some("SELECT doc_id, shard, CAST(row_number() OVER " +
        "(PARTITION BY shard ORDER BY hkey, doc_id) - 1 AS BIGINT) AS pos " +
        "FROM (SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS hkey, " +
        s"CAST(${T.oH32("CAST(doc_id AS VARCHAR)")} % 8 AS INTEGER) AS shard " +
        "FROM documents) ORDER BY shard, pos")),

    // Language-RELATIVE quality gating: a fixed global threshold
    // over-prunes low-resource languages, so the gate is each doc's
    // score against its own language's 25th percentile. Score is a
    // fixed-point integer (mean word length x 1e6), so the interpolated
    // quantile (int + 0.25 * int-delta) is exact in binary on both
    // engines and the boundary comparison can never drift.
    Op("llm_quality_percentile_gate",
      (s, d) => {
        val sc = T.t(s, d, "documents").select(col("doc_id"), col("lang"),
          expr("CAST(floor(CAST(length(replace(text, ' ', '')) AS DOUBLE) " +
            "/ size(split(text, ' ')) * 1000000) AS BIGINT)").as("score_fp"))
        val th = sc.groupBy("lang").agg(expr("percentile(score_fp, 0.25)").as("p25"))
        sc.join(th, "lang")
          .select(col("doc_id"), col("lang"), col("score_fp"), col("p25"),
            (col("score_fp") >= col("p25")).as("pass"))
          .orderBy("doc_id")
      },
      Some("WITH sc AS (SELECT doc_id, lang, " +
        "CAST(floor(CAST(length(replace(text, ' ', '')) AS DOUBLE) " +
        "/ len(string_split(text, ' ')) * 1000000) AS BIGINT) AS score_fp FROM documents), " +
        "th AS (SELECT lang, quantile_cont(score_fp, 0.25) AS p25 FROM sc GROUP BY lang) " +
        "SELECT doc_id, sc.lang, score_fp, p25, score_fp >= p25 AS pass " +
        "FROM sc JOIN th ON sc.lang = th.lang ORDER BY doc_id")),

    // Token-frequency drift between the train and validation slices
    // (doc_id mod 10: 0-7 train, 8-9 val) — the distribution-shift
    // check run before trusting a held-out split. Drift ranks by the
    // EXACT integer cross product |c_t * n_v - c_v * n_t| (no double
    // subtraction ordering to diverge); probabilities are exact
    // integer ratios.
    Op("llm_token_freq_drift",
      (s, d) => {
        val tok = T.spread(T.t(s, d, "documents"))
          .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
          .withColumn("slice", when(col("doc_id") % 10 < 8, "train").otherwise("val"))
        val f = tok.groupBy("token").agg(
          sum(when(col("slice") === "train", 1L).otherwise(0L)).as("c_t"),
          sum(when(col("slice") === "val", 1L).otherwise(0L)).as("c_v"))
        val n = tok.groupBy().agg(
          sum(when(col("slice") === "train", 1L).otherwise(0L)).as("n_t"),
          sum(when(col("slice") === "val", 1L).otherwise(0L)).as("n_v"))
        f.crossJoin(broadcast(n))
          .withColumn("drift_x", expr("abs(c_t * n_v - c_v * n_t)"))
          .select(col("token"), col("c_t"), col("c_v"),
            expr("CAST(c_t AS DOUBLE) / n_t").as("p_train"),
            expr("CAST(c_v AS DOUBLE) / n_v").as("p_val"),
            col("drift_x"))
          .orderBy(desc("drift_x"), col("token")).limit(20)
      },
      Some("WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token, " +
        "CASE WHEN doc_id % 10 < 8 THEN 'train' ELSE 'val' END AS slice FROM documents), " +
        "f AS (SELECT token, CAST(SUM(CASE WHEN slice = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS c_t, " +
        "CAST(SUM(CASE WHEN slice = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS c_v FROM tok GROUP BY token), " +
        "n AS (SELECT CAST(SUM(CASE WHEN slice = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_t, " +
        "CAST(SUM(CASE WHEN slice = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_v FROM tok) " +
        "SELECT token, c_t, c_v, CAST(c_t AS DOUBLE) / n_t AS p_train, " +
        "CAST(c_v AS DOUBLE) / n_v AS p_val, abs(c_t * n_v - c_v * n_t) AS drift_x " +
        "FROM f, n ORDER BY drift_x DESC, token LIMIT 20")),

    // Language-ID confusion matrix: the n-gram classifier's predictions
    // (same shared pipeline as llm_lang_id — they can never drift)
    // against the labeled lang column — the evaluation table read
    // before trusting the classifier to route a 100-TB crawl.
    Op("llm_langid_confusion",
      (s, d) => langIdPredictions(s, d)
        .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
        .withColumn("correct", col("lang") === col("pred_lang"))
        .orderBy("lang", "pred_lang"),
      Some(oLangIdCtes +
        ", p AS (SELECT d.doc_id, d.lang, COALESCE(b.p_lang, 'unknown') AS pred_lang " +
        "FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id) " +
        "SELECT lang, pred_lang, count(*) AS n, lang = pred_lang AS correct " +
        "FROM p GROUP BY lang, pred_lang ORDER BY lang, pred_lang")),

    // Heaps'-law vocabulary growth: distinct-token count as the corpus
    // grows decile by decile (in doc_id order) — the curve that says
    // whether more data still buys new vocabulary or the tokenizer's
    // OOV budget has saturated. Computed scalably as min(first_doc) per
    // token (one hash-agg over the token stream, no cumulative window):
    // the decile of a token's FIRST occurrence is where it increments
    // the running vocabulary, and the 10-row cumulative sum is a
    // broadcast theta self-join, so nothing global ever sits in one
    // partition.
    Op("llm_vocab_growth",
      (s, d) => {
        val docs = T.spread(T.t(s, d, "documents"))
        val maxId = docs.agg(max("doc_id").as("max_id"))
        val firstSeen = docs
          .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
          .groupBy("token").agg(min("doc_id").as("first_doc"))
        val perDecile = firstSeen.crossJoin(broadcast(maxId))
          .groupBy(expr("first_doc * 10 div (max_id + 1)").as("decile"))
          .agg(count(lit(1)).as("new_tokens"))
          // pin the <=10-row table: both sides of the cumulative
          // self-join would otherwise re-run the full token scan
          .localCheckpoint()
        perDecile.as("a")
          .join(broadcast(perDecile.as("b")), expr("b.decile <= a.decile"))
          .groupBy(col("a.decile").as("decile"), col("a.new_tokens").as("new_tokens"))
          .agg(sum("b.new_tokens").as("cum_vocab"))
          .orderBy("decile")
      },
      Some("WITH f AS (SELECT token, min(doc_id) AS first_doc FROM " +
        "(SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents) GROUP BY token), " +
        "m AS (SELECT max(doc_id) AS max_id FROM documents), " +
        "pd AS (SELECT (first_doc * 10) // (max_id + 1) AS decile, count(*) AS new_tokens FROM f, m GROUP BY 1) " +
        "SELECT a.decile AS decile, a.new_tokens AS new_tokens, " +
        "CAST(SUM(b.new_tokens) AS BIGINT) AS cum_vocab " +
        "FROM pd a JOIN pd b ON b.decile <= a.decile " +
        "GROUP BY a.decile, a.new_tokens ORDER BY decile")),

    // Inverse-frequency class weights over the embedding labels — the
    // reweighting table a trainer loads to counter label imbalance
    // (weight_fp = total * 1e6 / (n_classes * n_label), exact integer
    // division on both engines). One tiny agg + broadcast; the heavy
    // table is touched once.
    Op("llm_class_weights",
      (s, d) => {
        val perLabel = T.t(s, d, "embeddings")
          .groupBy("label").agg(count(lit(1)).as("n"))
        val totals = perLabel.agg(
          sum("n").as("n_total"), count(lit(1)).as("n_classes"))
        perLabel.crossJoin(broadcast(totals))
          .select(col("label"), col("n"), col("n_total"), col("n_classes"),
            expr("n_total * 1000000 div (n_classes * n)").as("weight_fp"))
          .orderBy("label")
      },
      Some("WITH pl AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label), " +
        "t AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total, count(*) AS n_classes FROM pl) " +
        "SELECT label, n, n_total, n_classes, " +
        "(n_total * 1000000) // (n_classes * n) AS weight_fp " +
        "FROM pl, t ORDER BY label")),

    // Count-min-sketch heavy-hitter audit: build the real CMS (d=4
    // hash rows × w=1024 counters — 4096 cells total, map-side
    // combined, fixed size at any corpus scale) over whitespace
    // tokens, then audit the top-20 exact heavy hitters against their
    // sketch estimates. est >= exact always (one-sided error); the
    // overcount column is the measured collision bias a production
    // run would ship alongside the sketch. Exact counts here are the
    // audit's ground truth — the production artifact is the counter
    // table, which never grows with vocabulary.
    Op("llm_heavy_hitters_cms",
      (s, d) => {
        // pin the vocab-bounded token counts: the counter build and the
        // top-20 selection would otherwise each re-tokenize the corpus
        val tokCnt = tokenCounts(T.spread(T.t(s, d, "documents")))
          .localCheckpoint()
        val counters = cmsBuckets(tokCnt)
          .groupBy("row_i", "bucket").agg(sum("exact").as("c"))
        val top = tokCnt.orderBy(desc("exact"), col("tok")).limit(20)
        cmsBuckets(top)
          .join(broadcast(counters), Seq("row_i", "bucket"))
          .groupBy("tok", "exact").agg(min("c").as("est_cms"))
          .select(col("tok"), col("exact"), col("est_cms"),
            (col("est_cms") - col("exact")).as("overcount"))
          .orderBy(desc("exact"), col("tok"))
      },
      Some("WITH tc AS (SELECT tok, count(*) AS exact FROM (" +
        "SELECT unnest(string_split(text, ' ')) AS tok FROM documents) " +
        "WHERE tok <> '' GROUP BY tok), " +
        "tb AS (SELECT tok, exact, i AS row_i, " +
        "CAST(" + T.oH32("concat(CAST(i AS VARCHAR), ':', tok)") +
        " % 1024 AS INTEGER) AS bucket FROM tc, range(0, 4) t(i)), " +
        "cnt AS (SELECT row_i, bucket, CAST(SUM(exact) AS BIGINT) AS c " +
        "FROM tb GROUP BY row_i, bucket), " +
        "top AS (SELECT tok, exact FROM tc ORDER BY exact DESC, tok LIMIT 20) " +
        "SELECT t.tok, t.exact, MIN(c.c) AS est_cms, MIN(c.c) - t.exact AS overcount " +
        "FROM top t JOIN tb b ON t.tok = b.tok " +
        "JOIN cnt c ON b.row_i = c.row_i AND b.bucket = c.bucket " +
        "GROUP BY t.tok, t.exact ORDER BY t.exact DESC, t.tok")),

    // Interpolated Kneser–Ney bigram probabilities — the smoothing
    // actually used for n-gram LM scoring (llm_perplexity_proxy's
    // add-one is the classroom version; KN is the production one).
    // Every ingredient is an exact integer aggregate (bigram counts,
    // head totals, distinct-successor and distinct-predecessor type
    // counts, total bigram types), and the final probability is the
    // identical IEEE expression tree on both engines, so doubles
    // hash-match bit-for-bit. Three partial-aggregated shuffles, all
    // on token keys; nothing scales with corpus size beyond the
    // bigram-type vocabulary.
    Op("llm_kn_bigram_lm",
      (s, d) => {
        val bi = T.spread(T.t(s, d, "documents"))
          .withColumn("toks", split(lower(col("text")), " "))
          .where("size(toks) >= 2")
          .select(explode(expr(
            "transform(sequence(1, size(toks) - 1), " +
              "i -> struct(element_at(toks, i) AS w1, element_at(toks, i + 1) AS w2))"))
            .as("b"))
          .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
          .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
          // pin the bigram-type table (vocab^2-bounded, tiny next to the
          // corpus): heads/cont/types would otherwise each re-run the
          // full token-stream explode
          .localCheckpoint()
        val heads = bi.groupBy("w1").agg(
          sum("c12").as("c1"), count(lit(1)).as("n_succ"))
        val cont = bi.groupBy("w2").agg(count(lit(1)).as("n_pred"))
        val types = bi.agg(count(lit(1)).as("n_types"))
        bi.join(heads, "w1").join(cont, "w2").crossJoin(broadcast(types))
          .where("c12 >= 3")
          .select(col("w1"), col("w2"), col("c12"),
            expr("CAST(c1 AS BIGINT)").as("c1"),
            col("n_succ"), col("n_pred"), col("n_types"),
            expr("(greatest(CAST(c12 AS DOUBLE) - 0.75, CAST(0 AS DOUBLE)) / CAST(c1 AS DOUBLE)) + " +
              "((0.75 * CAST(n_succ AS DOUBLE)) / CAST(c1 AS DOUBLE)) * " +
              "(CAST(n_pred AS DOUBLE) / CAST(n_types AS DOUBLE))").as("p_kn"))
          .orderBy("w1", "w2")
      },
      Some("WITH bi AS (SELECT w1, w2, count(*) AS c12 FROM (" +
        "SELECT toks[i] AS w1, toks[i + 1] AS w2 " +
        "FROM (SELECT string_split(lower(text), ' ') AS toks FROM documents), " +
        "unnest(range(1, len(toks))) t(i) WHERE len(toks) >= 2) GROUP BY w1, w2), " +
        "heads AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1, count(*) AS n_succ FROM bi GROUP BY w1), " +
        "cont AS (SELECT w2, count(*) AS n_pred FROM bi GROUP BY w2), " +
        "types AS (SELECT count(*) AS n_types FROM bi) " +
        "SELECT bi.w1, bi.w2, c12, c1, n_succ, n_pred, n_types, " +
        "(greatest(CAST(c12 AS DOUBLE) - 0.75, CAST(0 AS DOUBLE)) / CAST(c1 AS DOUBLE)) + " +
        "((0.75 * CAST(n_succ AS DOUBLE)) / CAST(c1 AS DOUBLE)) * " +
        "(CAST(n_pred AS DOUBLE) / CAST(n_types AS DOUBLE)) AS p_kn " +
        "FROM bi JOIN heads ON bi.w1 = heads.w1 JOIN cont ON bi.w2 = cont.w2, types " +
        "WHERE c12 >= 3 ORDER BY bi.w1, bi.w2")),

    // Temperature-scaled domain mixing (τ = 1/2): the up/down-sampling
    // weights multilingual pretraining uses to keep head languages
    // from drowning tail ones (w_d ∝ n_d^τ). τ = 1/2 makes the power
    // an IEEE sqrt — exact-rounded and engine-identical — and the
    // sqrt is immediately floor-quantized to a 1e6 integer so every
    // cross-row reduction (the normalizer) is an order-independent
    // integer sum; weights and target counts are then exact integer
    // floor divisions. One 5-row aggregate + a broadcast total: the
    // plan is scale-free.
    Op("llm_temperature_mix",
      (s, d) => {
        val n = T.t(s, d, "documents")
          .groupBy("lang").agg(count(lit(1)).as("n_docs"))
          .withColumn("sq_fp",
            expr("CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000.0) AS BIGINT)"))
        val tot = n.agg(
          sum("sq_fp").as("tot_sq"), sum("n_docs").as("n_total"))
        // the products sq_fp*1e9 and n_total*sq_fp overflow BIGINT once a
        // language passes ~8.5e7 docs — exactly the scale this op is
        // for — so the intermediates go through DECIMAL(38,0) (HUGEINT
        // on the oracle side); the floor-divisions land back in BIGINT
        // with identical values at every SF
        n.crossJoin(broadcast(tot))
          .select(col("lang"), col("n_docs"),
            expr("CAST(CAST(sq_fp AS DECIMAL(38,0)) * 1000000000 div tot_sq AS BIGINT)").as("weight_fp"),
            expr("CAST(CAST(n_total AS DECIMAL(38,0)) * sq_fp div tot_sq AS BIGINT)").as("target_n"))
          .orderBy("lang")
      },
      Some("WITH n AS (SELECT lang, count(*) AS n_docs, " +
        "CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1000000.0) AS BIGINT) AS sq_fp " +
        "FROM documents GROUP BY lang), " +
        "tot AS (SELECT CAST(SUM(sq_fp) AS BIGINT) AS tot_sq, " +
        "CAST(SUM(n_docs) AS BIGINT) AS n_total FROM n) " +
        "SELECT lang, n_docs, " +
        "CAST(CAST(sq_fp AS HUGEINT) * 1000000000 // tot_sq AS BIGINT) AS weight_fp, " +
        "CAST(CAST(n_total AS HUGEINT) * sq_fp // tot_sq AS BIGINT) AS target_n " +
        "FROM n, tot ORDER BY lang")),

    // Per-document lexical diversity: type/token ratio and hapax
    // (once-only) ratio — the repetitiveness quality signal next to
    // llm_repetition_filter's n-gram view. One explode + two hash
    // aggregations, all ratios exact integer fixed-point.
    Op("llm_lexical_diversity",
      (s, d) => T.spread(T.t(s, d, "documents"))
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .where("tok <> ''")
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(
          sum("c").as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n_hapax"))
        .select(col("doc_id"), col("n_tokens"), col("n_types"), col("n_hapax"),
          expr("n_types * 1000000 div n_tokens").as("ttr_fp"),
          expr("n_hapax * 1000000 div n_types").as("hapax_fp"))
        .orderBy("doc_id"),
      Some("SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, " +
        "count(*) AS n_types, " +
        "CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax, " +
        "count(*) * 1000000 // CAST(SUM(c) AS BIGINT) AS ttr_fp, " +
        "CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000000 // count(*) AS hapax_fp " +
        "FROM (SELECT doc_id, tok, count(*) AS c FROM (" +
        "SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) " +
        "WHERE tok <> '' GROUP BY doc_id, tok) GROUP BY doc_id ORDER BY doc_id")),

    // Multi-phrase blocklist filter: every doc's distinct unigrams AND
    // adjacent bigrams join a BROADCAST blocklist — one codegen'd
    // explode + hash-semi-join instead of |blocklist| regex passes over
    // the text, which is the difference between one scan and N scans at
    // 100 TB. Emits only flagged docs with hit count and the sorted
    // matched terms (sorted so the collected list is order-stable).
    Op("llm_blocklist_filter",
      (s, d) => {
        import s.implicits._
        val terms = blocklistTerms.toDF("term")
        val docs = T.spread(T.t(s, d, "documents"))
        val grams = docs
          .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
          .select(col("doc_id"), explode(expr(
            // sequence(1, 0) is DESCENDING in Spark, so guard the
            // single-token doc instead of relying on an empty range
            "array_distinct(concat(toks, CASE WHEN size(toks) >= 2 THEN " +
              "transform(sequence(1, size(toks) - 1), " +
              "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))) " +
              "ELSE array() END))")).as("term"))
        val hits = grams.join(broadcast(terms), "term")
          .groupBy("doc_id").agg(count(lit(1)).as("n_hits"),
            array_join(array_sort(collect_list("term")), "|").as("matched"))
        docs.select("doc_id", "lang", "source").join(hits, "doc_id")
          .orderBy("doc_id")
      },
      Some("WITH g AS (SELECT doc_id, unnest(list_distinct(toks || " +
        "list_transform(range(1, len(toks)), i -> concat(toks[i], ' ', toks[i + 1])))) AS term " +
        "FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents)), " +
        "b AS (SELECT unnest([" +
        blocklistTerms.map(t => s"'$t'").mkString(", ") + "]) AS term), " +
        "h AS (SELECT doc_id, count(*) AS n_hits, " +
        "array_to_string(list_sort(list(term)), '|') AS matched " +
        "FROM g JOIN b USING (term) GROUP BY doc_id) " +
        "SELECT d.doc_id, lang, source, n_hits, matched " +
        "FROM documents d JOIN h ON d.doc_id = h.doc_id ORDER BY d.doc_id")),

    // Character-entropy gibberish gate (the CCNet/RefinedWeb-style
    // doc-level filter): per document, Shannon entropy of the
    // character distribution via H = log2(n) - (1/n) * sum k_i*log2(k_i),
    // each k*log2(k) term QUANTIZED to 1e-9 before the per-doc sum
    // (the file's one-double-tree discipline), then a per-language
    // rollup with a low-entropy flag (H < 2 bits — repeated-character
    // spam, binary junk). The char explode is linear and map-side
    // aggregable (groupBy (doc, char) combines before the shuffle);
    // nothing downstream of the per-doc row is data-sized.
    Op("llm_char_entropy_filter",
      (s, d) => {
        val chars = T.spread(T.t(s, d, "documents"))
          .select(col("doc_id"), col("lang"),
            explode(expr(
              "transform(sequence(1, char_length(text)), i -> substring(text, i, 1))"))
              .as("ch"))
          .groupBy("doc_id", "lang", "ch").agg(count(lit(1)).as("k"))
        val doc = chars.groupBy("doc_id", "lang").agg(
          expr("CAST(SUM(k) AS BIGINT)").as("n"),
          expr("CAST(SUM(CAST(floor(k * log2(k) * 1000000000) AS BIGINT)) AS BIGINT)").as("slog"))
          .where("n > 0")
          .select(col("doc_id"), col("lang"),
            expr("CAST(floor((log2(CAST(n AS DOUBLE)) - " +
              "CAST(slog AS DOUBLE) / 1000000000 / n) * 1000) AS BIGINT)").as("h_fp"))
        doc.groupBy("lang").agg(
            count(lit(1)).as("n_docs"),
            expr("count_if(h_fp < 2000)").as("n_low_entropy"),
            expr("CAST(SUM(h_fp) div count(1) AS BIGINT)").as("mean_h_fp"))
          .orderBy("lang")
      },
      Some("WITH ch AS (SELECT doc_id, lang, unnest(list_transform(" +
        "range(1, length(text) + 1), i -> text[i])) AS ch FROM documents), " +
        "k AS (SELECT doc_id, lang, ch, count(*) AS k FROM ch GROUP BY 1, 2, 3), " +
        "doc AS (SELECT doc_id, lang, CAST(SUM(k) AS BIGINT) AS n, " +
        "CAST(SUM(CAST(floor(k * log2(k) * 1000000000) AS BIGINT)) AS BIGINT) AS slog " +
        "FROM k GROUP BY 1, 2), " +
        "h AS (SELECT doc_id, lang, CAST(floor((log2(CAST(n AS DOUBLE)) - " +
        "CAST(slog AS DOUBLE) / 1000000000 / n) * 1000) AS BIGINT) AS h_fp " +
        "FROM doc WHERE n > 0) " +
        "SELECT lang, count(*) AS n_docs, " +
        "CAST(count_if(h_fp < 2000) AS BIGINT) AS n_low_entropy, " +
        "CAST(CAST(SUM(h_fp) AS BIGINT) // count(*) AS BIGINT) AS mean_h_fp " +
        "FROM h GROUP BY lang ORDER BY lang")),

    // Tokenizer fertility by language: tokens per 100 chars (ppm) per
    // lang bucket — the standard check that a tokenizer doesn't
    // over-fragment some languages (fertility outliers = wasted
    // context budget). Uses the house regex tokenizer (same class
    // pattern as llm_token_count); one scan, one |langs|-sized
    // aggregate; the 1e8-scaled ratio rides DECIMAL(38)/HUGEINT (sum
    // of tokens * 1e8 passes int64 around 1e11 corpus tokens).
    Op("llm_token_fertility",
      (s, d) => T.t(s, d, "documents")
        .groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          expr("sum(CAST(size(regexp_extract_all(text, '[a-z]+|[A-Z]+|[0-9]+', 0)) AS BIGINT))")
            .as("tokens"),
          expr("sum(CAST(length(text) AS BIGINT))").as("chars"))
        .withColumn("fertility_ppm", expr(
          "CAST(CAST(tokens AS DECIMAL(38,0)) * 100 * 1000000 div greatest(1, chars) AS BIGINT)"))
        .withColumn("mean_tokens", expr("tokens div n_docs"))
        .orderBy("lang"),
      Some("SELECT lang, count(*) AS n_docs, " +
        "CAST(sum(CAST(len(regexp_extract_all(text, '[a-z]+|[A-Z]+|[0-9]+', 0)) AS BIGINT)) AS BIGINT) AS tokens, " +
        "CAST(sum(CAST(length(text) AS BIGINT)) AS BIGINT) AS chars, " +
        "CAST(CAST(sum(CAST(len(regexp_extract_all(text, '[a-z]+|[A-Z]+|[0-9]+', 0)) AS BIGINT)) AS HUGEINT) " +
        "* 100 * 1000000 // greatest(1, CAST(sum(CAST(length(text) AS BIGINT)) AS BIGINT)) AS BIGINT) AS fertility_ppm, " +
        "CAST(sum(CAST(len(regexp_extract_all(text, '[a-z]+|[A-Z]+|[0-9]+', 0)) AS BIGINT)) " +
        "// count(*) AS BIGINT) AS mean_tokens " +
        "FROM documents GROUP BY 1 ORDER BY 1")))
}
