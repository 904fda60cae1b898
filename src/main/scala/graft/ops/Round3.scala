package graft.ops

import graft.{Op, Tables => T}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}

/** Round-3 operator additions (SURVEY.md §2 F2 continuation).
  *
  * Relational: null-safe join, multi-distinct aggregation, deterministic
  * median/mode, inline VALUES block, explicit NULL-ordering semantics.
  * Functions: regex family extension, edit distance, interval arithmetic.
  * LLM pipeline: prefix dedup, one BPE merge step, per-doc token entropy,
  * Zipf slope fit, importance resampling.
  * Streaming batch-equivalents: per-key running totals, windowed top-k.
  *
  * Parity notes follow NOTES_R1/R2 rules: fixed-point floors carry the
  * +1e-6 epsilon guard, doubles aggregate through DECIMAL, ranks are
  * tie-broken injectively, timestamps stay TIMESTAMP_NTZ.
  */
object Round3 {

  private val dec = org.apache.spark.sql.types.DecimalType(18, 4)

  val ops: Seq[Op] = Seq(

    // ---- relational ---------------------------------------------------

    // Null-safe equi join: <=> matches NULL keys to each other instead of
    // dropping them (IS NOT DISTINCT FROM). Aggregated so the null-block
    // cross product stays bounded in the output.
    Op("rel_join_null_safe",
      (s, d) => {
        val n1 = T.t(s, d, "nation")
          .select(col("n_nationkey").as("k1"), expr("nullif(n_nationkey % 5, 0)").as("jk"))
        val n2 = T.t(s, d, "nation")
          .select(col("n_nationkey").as("k2"), expr("nullif(n_nationkey % 5, 0)").as("jk2"))
        n1.join(n2, col("jk") <=> col("jk2"), "inner")
          .groupBy("k1")
          .agg(count(lit(1)).as("n_matches"), min("k2").as("min_match"))
          .orderBy("k1")
      },
      Some("WITH n1 AS (SELECT n_nationkey AS k1, nullif(n_nationkey % 5, 0) AS jk FROM nation), " +
        "n2 AS (SELECT n_nationkey AS k2, nullif(n_nationkey % 5, 0) AS jk2 FROM nation) " +
        "SELECT k1, count(*) AS n_matches, min(k2) AS min_match " +
        "FROM n1 JOIN n2 ON jk IS NOT DISTINCT FROM jk2 GROUP BY k1 ORDER BY k1")),

    // Several COUNT(DISTINCT ...) in one aggregation — Catalyst plans one
    // Expand + single shuffle rather than N self-joins.
    Op("rel_agg_multi_distinct",
      (s, d) => T.t(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(
          countDistinct(col("o_custkey")).as("n_cust"),
          countDistinct(expr("year(o_orderdate)")).as("n_years"),
          countDistinct(col("o_orderpriority")).as("n_prio"),
          count(lit(1)).as("n_rows"))
        .orderBy("o_orderstatus"),
      Some("SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust, " +
        "count(DISTINCT year(o_orderdate)) AS n_years, " +
        "count(DISTINCT o_orderpriority) AS n_prio, count(*) AS n_rows " +
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus")),

    // Exact interpolated median plus a deterministic mode: both engines
    // pick ARBITRARY rows on modal ties, so the mode is computed as
    // highest-count-then-smallest-value — tie-free by construction
    // (parity rule 18 applied to mode).
    Op("rel_agg_median_mode",
      (s, d) => {
        val part = T.t(s, d, "part")
        val counts = part.groupBy("p_size", "p_brand").agg(count(lit(1)).as("cnt"))
        val mode = counts
          .withColumn("rn", row_number().over(
            Window.partitionBy("p_size").orderBy(desc("cnt"), col("p_brand"))))
          .where("rn = 1")
          .select(col("p_size"), col("p_brand").as("modal_brand"), col("cnt").as("modal_cnt"))
        val med = part.groupBy("p_size")
          .agg(expr("median(p_retailprice)").as("median_price"), count(lit(1)).as("n"))
        mode.join(med, "p_size").orderBy("p_size")
      },
      Some("WITH c AS (SELECT p_size, p_brand, count(*) AS cnt FROM part GROUP BY p_size, p_brand), " +
        "m AS (SELECT p_size, p_brand AS modal_brand, cnt AS modal_cnt FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY p_size ORDER BY cnt DESC, p_brand) AS rn FROM c) " +
        "WHERE rn = 1), " +
        "md AS (SELECT p_size, median(p_retailprice) AS median_price, count(*) AS n FROM part GROUP BY p_size) " +
        "SELECT p_size, modal_brand, modal_cnt, median_price, n FROM m JOIN md USING (p_size) ORDER BY p_size")),

    // Inline VALUES relation (snapflow static DataBlock): a literal
    // lookup table joined broadcast against a source table.
    Op("rel_values_inline",
      (s, d) => {
        import s.implicits._
        val tiers = Seq(
          ("AMERICA", "west"), ("ASIA", "east"), ("EUROPE", "west"),
          ("AFRICA", "south"), ("MIDDLE EAST", "south")).toDF("r_name", "tier")
        T.t(s, d, "region").join(broadcast(tiers), Seq("r_name"), "left")
          .select("r_regionkey", "r_name", "tier")
          .orderBy("r_regionkey")
      },
      Some("SELECT r_regionkey, r_name, tier FROM region LEFT JOIN " +
        "(VALUES ('AMERICA', 'west'), ('ASIA', 'east'), ('EUROPE', 'west'), " +
        "('AFRICA', 'south'), ('MIDDLE EAST', 'south')) AS t(r_name, tier) " +
        "USING (r_name) ORDER BY r_regionkey")),

    // Explicit NULLS FIRST / NULLS LAST semantics: Spark defaults
    // NULLS-FIRST-on-ASC, DuckDB NULLS-LAST — both sides spell the
    // ordering out so the contract is pinned, in the window AND the
    // final total order.
    Op("rel_order_nulls",
      (s, d) => T.t(s, d, "customer")
        .withColumn("nk", expr("nullif(c_nationkey % 6, 0)"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("c_mktsegment")
            .orderBy(col("nk").desc_nulls_last, col("c_custkey"))))
        .select("c_custkey", "c_mktsegment", "nk", "rn")
        .orderBy(col("nk").asc_nulls_first, col("c_custkey")),
      Some("SELECT c_custkey, c_mktsegment, nullif(c_nationkey % 6, 0) AS nk, " +
        "CAST(row_number() OVER (PARTITION BY c_mktsegment " +
        "ORDER BY nullif(c_nationkey % 6, 0) DESC NULLS LAST, c_custkey) AS INTEGER) AS rn " +
        "FROM customer ORDER BY nk ASC NULLS FIRST, c_custkey")),

    // ---- scalar functions ---------------------------------------------

    // Regex family extension: extract-all, global replace, split_part,
    // regexp_like. Array results render as joined strings (driver's
    // checker cannot hash raw list cells).
    Op("fn_regex_extra",
      (s, d) => T.t(s, d, "part").select(
          col("p_partkey"),
          expr("array_join(regexp_extract_all(p_name, '[a-z]+', 0), '|')").as("words"),
          expr("CAST(size(regexp_extract_all(p_name, '[a-z]+', 0)) AS INT)").as("n_words"),
          expr("regexp_replace(p_name, '[aeiou]', '*')").as("starred"),
          expr("split_part(p_type, ' ', 2)").as("type_mid"),
          expr("regexp_like(p_name, '^[a-z]')").as("starts_lower"))
        .orderBy("p_partkey"),
      Some("SELECT p_partkey, " +
        "array_to_string(regexp_extract_all(p_name, '[a-z]+'), '|') AS words, " +
        "CAST(len(regexp_extract_all(p_name, '[a-z]+')) AS INTEGER) AS n_words, " +
        "regexp_replace(p_name, '[aeiou]', '*', 'g') AS starred, " +
        "split_part(p_type, ' ', 2) AS type_mid, " +
        "regexp_matches(p_name, '^[a-z]') AS starts_lower " +
        "FROM part ORDER BY p_partkey")),

    // Edit distance between consecutive part names within a brand (lag
    // window gives bounded deterministic pairs without a self-join).
    Op("fn_levenshtein",
      (s, d) => {
        val w = Window.partitionBy("p_brand").orderBy("p_partkey")
        T.t(s, d, "part")
          .withColumn("prev_name", lag("p_name", 1).over(w))
          .where(col("prev_name").isNotNull)
          .select(col("p_partkey"), col("p_brand"),
            expr("CAST(levenshtein(p_name, prev_name) AS INT)").as("lev"),
            expr("CAST(levenshtein(substring(p_name, 1, 10), substring(prev_name, 1, 10)) AS INT)").as("lev10"))
          .orderBy("p_partkey")
      },
      Some("SELECT p_partkey, p_brand, " +
        "CAST(levenshtein(p_name, prev_name) AS INTEGER) AS lev, " +
        "CAST(levenshtein(substring(p_name, 1, 10), substring(prev_name, 1, 10)) AS INTEGER) AS lev10 " +
        "FROM (SELECT p_partkey, p_brand, p_name, " +
        "lag(p_name, 1) OVER (PARTITION BY p_brand ORDER BY p_partkey) AS prev_name FROM part) " +
        "WHERE prev_name IS NOT NULL ORDER BY p_partkey")),

    // INTERVAL arithmetic family over TIMESTAMP_NTZ order dates (all
    // midnight-aligned, so boundary-counting date_diff and complete-unit
    // timestampdiff agree; month addition clamps to month end in both).
    Op("fn_interval",
      (s, d) => T.t(s, d, "orders").select(
          col("o_orderkey"),
          expr("CAST(o_orderdate + INTERVAL 3 DAY AS TIMESTAMP_NTZ)").as("plus3d"),
          expr("CAST(o_orderdate - INTERVAL 90 MINUTE AS TIMESTAMP_NTZ)").as("minus90m"),
          expr("CAST(o_orderdate + INTERVAL 2 HOUR + INTERVAL 45 SECOND AS TIMESTAMP_NTZ)").as("plus2h45s"),
          expr("CAST(o_orderdate + INTERVAL 2 MONTH AS TIMESTAMP_NTZ)").as("plus2mo"),
          expr("timestampdiff(HOUR, o_orderdate, TIMESTAMP_NTZ '2002-01-01 00:00:00')").as("hours_to_2002"),
          expr("timestampdiff(DAY, o_orderdate, TIMESTAMP_NTZ '2002-01-01 00:00:00')").as("days_left"))
        .orderBy("o_orderkey"),
      Some("SELECT o_orderkey, o_orderdate + INTERVAL 3 DAY AS plus3d, " +
        "o_orderdate - INTERVAL 90 MINUTE AS minus90m, " +
        "o_orderdate + INTERVAL 2 HOUR + INTERVAL 45 SECOND AS plus2h45s, " +
        "o_orderdate + INTERVAL 2 MONTH AS plus2mo, " +
        "date_diff('hour', o_orderdate, TIMESTAMP '2002-01-01') AS hours_to_2002, " +
        "date_diff('day', o_orderdate, TIMESTAMP '2002-01-01') AS days_left " +
        "FROM orders ORDER BY o_orderkey")),

    // ---- llm pipeline -------------------------------------------------

    // Prefix dedup: documents sharing their first 16 (lowered) tokens —
    // catches boilerplate-leading near-copies that exact dedup misses
    // when tails differ. Group on the prefix, emit members of multi-doc
    // groups with their representative.
    Op("llm_prefix_dedup",
      (s, d) => {
        val p = T.t(s, d, "documents")
          .withColumn("prefix", expr("array_join(slice(split(lower(text), ' '), 1, 16), ' ')"))
        val g = p.groupBy("prefix")
          .agg(min("doc_id").as("rep"), count(lit(1)).as("n_docs"))
          .where("n_docs >= 2")
        p.join(g, "prefix")
          .select("doc_id", "rep", "n_docs")
          .orderBy("doc_id")
      },
      Some("WITH p AS (SELECT doc_id, " +
        "array_to_string(list_slice(string_split(lower(text), ' '), 1, 16), ' ') AS prefix FROM documents), " +
        "g AS (SELECT prefix, min(doc_id) AS rep, count(*) AS n_docs FROM p " +
        "GROUP BY prefix HAVING count(*) >= 2) " +
        "SELECT doc_id, rep, n_docs FROM p JOIN g USING (prefix) ORDER BY doc_id")),

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
          expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 10000"))
        .where("u < CAST(floor(w * 10000 + 0.000001) AS BIGINT)")
        .select("doc_id", "n_toks", "w")
        .orderBy("doc_id"),
      Some("SELECT doc_id, n_toks, w FROM (SELECT doc_id, " +
        "CAST(len(string_split(text, ' ')) AS INTEGER) AS n_toks, " +
        "least(1.0, 40.0 / len(string_split(text, ' '))) AS w, " +
        "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 AS u " +
        "FROM documents) WHERE u < CAST(floor(w * 10000 + 0.000001) AS BIGINT) ORDER BY doc_id")),

    // ---- streaming batch-equivalents ----------------------------------

    // Per-key running totals — the batch equivalent of a streaming
    // transformWithState counter (exercised in scalatest): cumulative
    // count and DECIMAL-exact cumulative sum per event_type in event-time
    // order.
    Op("strm_running_totals",
      (s, d) => {
        val w = Window.partitionBy("event_type").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        T.events(s, d)
          .withColumn("run_cnt", count(lit(1)).over(w))
          .withColumn("run_val",
            round(sum(col("value").cast(dec)).over(w), 2).cast(DoubleType))
          .select("event_id", "event_type", "run_cnt", "run_val")
          .orderBy("event_id")
      },
      Some("SELECT event_id, event_type, " +
        "count(*) OVER w AS run_cnt, " +
        "CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))) OVER w, 2) AS DOUBLE) AS run_val " +
        "FROM events " +
        "WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) ORDER BY event_id")),

    // Windowed top-k: the 3 most active users per event-time hour — the
    // batch form of a per-window ranked aggregation a dashboard stream
    // would maintain.
    Op("strm_topk_windowed",
      (s, d) => {
        val cnt = T.events(s, d)
          .withColumn("bucket", expr("CAST(date_trunc('hour', ts) AS TIMESTAMP_NTZ)"))
          .groupBy("bucket", "user_id").agg(count(lit(1)).as("n_ev"))
        cnt.withColumn("rn", row_number().over(
            Window.partitionBy("bucket").orderBy(desc("n_ev"), col("user_id"))))
          .where("rn <= 3")
          .select(col("bucket"), col("user_id"), col("n_ev"), col("rn").cast(IntegerType).as("rn"))
          .orderBy("bucket", "rn")
      },
      Some("SELECT bucket, user_id, n_ev, CAST(rn AS INTEGER) AS rn FROM " +
        "(SELECT bucket, user_id, n_ev, row_number() OVER " +
        "(PARTITION BY bucket ORDER BY n_ev DESC, user_id) AS rn FROM " +
        "(SELECT date_trunc('hour', ts) AS bucket, user_id, count(*) AS n_ev " +
        "FROM events GROUP BY 1, 2)) WHERE rn <= 3 ORDER BY bucket, rn")),

    // ---- batch 2 ------------------------------------------------------

    // CSV with non-default dialect options: '|' delimiter, explicit NULL
    // sentinel, header — written then read back with a declared schema
    // (the snapflow import_csv surface beyond the happy path).
    Op("src_csv_options",
      (s, d) => {
        import org.apache.spark.sql.types._
        val tmp = s"target/tmp/csvopt_${d.replaceAll("[^A-Za-z0-9]", "_")}"
        T.t(s, d, "supplier")
          .withColumn("maybe_nation", expr("nullif(s_nationkey % 7, 0)"))
          .select("s_suppkey", "s_name", "maybe_nation", "s_acctbal")
          .write.mode("overwrite")
          .option("header", "true").option("sep", "|").option("nullValue", "NULL")
          .csv(tmp)
        val schema = StructType(Seq(
          StructField("s_suppkey", LongType), StructField("s_name", StringType),
          StructField("maybe_nation", IntegerType), StructField("s_acctbal", DoubleType)))
        s.read.schema(schema)
          .option("header", "true").option("sep", "|").option("nullValue", "NULL")
          .csv(tmp)
          .orderBy("s_suppkey")
      },
      Some("SELECT s_suppkey, s_name, nullif(s_nationkey % 7, 0) AS maybe_nation, s_acctbal " +
        "FROM supplier ORDER BY s_suppkey")),

    // Character-code family: ascii / chr round-trips.
    Op("fn_char",
      (s, d) => T.t(s, d, "customer").select(
          col("c_custkey"),
          expr("ascii(c_name)").as("a_first"),
          expr("ascii(substring(c_mktsegment, 2, 1))").as("a_second"),
          expr("chr(65 + c_nationkey % 26)").as("letter"),
          expr("concat(chr(ascii(c_mktsegment)), lower(substring(c_mktsegment, 2)))").as("recased"))
        .orderBy("c_custkey"),
      Some("SELECT c_custkey, CAST(ascii(c_name) AS INTEGER) AS a_first, " +
        "CAST(ascii(substring(c_mktsegment, 2, 1)) AS INTEGER) AS a_second, " +
        "chr(65 + c_nationkey % 26) AS letter, " +
        "concat(chr(ascii(c_mktsegment)), lower(substring(c_mktsegment, 2))) AS recased " +
        "FROM customer ORDER BY c_custkey")),

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

    // Per-label embedding L2-norm statistics: the vector-column health
    // check (collapsed norms ⇒ dead embeddings; wild norms ⇒ bad scaling).
    // The squared norm is a sequential left fold — identical operand
    // order in both engines — then fixed-pointed before the group stats.
    Op("llm_embedding_norm_stats",
      (s, d) => T.spread(T.t(s, d, "embeddings"))
        .withColumn("norm2_fp", expr(
          "CAST(floor(aggregate(embedding, CAST(0 AS DOUBLE), " +
            "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) * 10000 + 0.000001) AS BIGINT)"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          min("norm2_fp").as("min_norm2_fp"),
          max("norm2_fp").as("max_norm2_fp"),
          sum("norm2_fp").as("sum_norm2_fp"))
        .withColumn("avg_norm2", expr("CAST(sum_norm2_fp AS DOUBLE) / (n_vecs * 10000)"))
        .orderBy("label"),
      Some("WITH n AS (SELECT label, CAST(floor(list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        "list_transform(range(1, len(embedding) + 1), " +
        "i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))), " +
        "(acc, v) -> acc + v) * 10000 + 0.000001) AS BIGINT) AS norm2_fp FROM embeddings) " +
        "SELECT label, count(*) AS n_vecs, min(norm2_fp) AS min_norm2_fp, " +
        "max(norm2_fp) AS max_norm2_fp, CAST(SUM(norm2_fp) AS BIGINT) AS sum_norm2_fp, " +
        "CAST(CAST(SUM(norm2_fp) AS BIGINT) AS DOUBLE) / (count(*) * 10000) AS avg_norm2 " +
        "FROM n GROUP BY label ORDER BY label")),

    // ---- batch 3 ------------------------------------------------------

    // Time travel over the SCD2 history: reconstruct each user's state
    // as of an instant T — the interval containing T (valid_from <= T <
    // valid_to, open-ended current rows included). One windowed pass
    // builds the history; the rewind itself is a pure filter, which is
    // the point: as-of reads off a type-2 table cost one predicate, not
    // a replay.
    Op("core_history_rewind",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        T.events(s, d)
          .withColumn("prev_type", lag("event_type", 1).over(w))
          .where("prev_type IS NULL OR prev_type <> event_type")
          .select(col("user_id"), col("event_type"), col("ts").as("valid_from"), col("event_id"))
          .withColumn("valid_to", lead("valid_from", 1).over(
            Window.partitionBy("user_id").orderBy("valid_from", "event_id")))
          .where("valid_from <= TIMESTAMP_NTZ '2024-01-15 00:00:00' AND " +
            "(valid_to IS NULL OR valid_to > TIMESTAMP_NTZ '2024-01-15 00:00:00')")
          .select("user_id", "event_type", "valid_from", "event_id")
          .orderBy("user_id", "event_id")
      },
      Some("WITH o AS (SELECT user_id, event_type, ts, event_id, " +
        "lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type FROM events), " +
        "c AS (SELECT user_id, event_type, ts AS valid_from, event_id FROM o " +
        "WHERE prev_type IS NULL OR prev_type <> event_type), " +
        "h AS (SELECT user_id, event_type, valid_from, event_id, " +
        "lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_id) AS valid_to FROM c) " +
        "SELECT user_id, event_type, valid_from, event_id FROM h " +
        "WHERE valid_from <= TIMESTAMP '2024-01-15' AND " +
        "(valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15') " +
        "ORDER BY user_id, event_id")),

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

    // Clustered sink: repartition by key + sortWithinPartitions before
    // the write — the layout knob that makes parquet min/max row-group
    // skipping effective on the read side (zone-map locality at 100 TB).
    // Content round-trips unchanged; the oracle checks exactly that.
    Op("snk_sorted_write",
      (s, d) => {
        val tmp = s"target/tmp/sorted_${d.replaceAll("[^A-Za-z0-9]", "_")}"
        T.events(s, d)
          .select("event_id", "user_id", "event_type", "value")
          .repartition(4, col("user_id"))
          .sortWithinPartitions("user_id", "event_id")
          .write.mode("overwrite").parquet(tmp)
        s.read.parquet(tmp).orderBy("event_id")
      },
      Some("SELECT event_id, user_id, event_type, value FROM events ORDER BY event_id")),

    // ---- batch 4 ------------------------------------------------------

    // ANN evaluation harness: recall@5 of the sign-hyperplane LSH bucket
    // search against the exact brute-force top-5, over a 32-probe panel
    // (hash-selected by md5 of vec_id so it spans the id space) — the
    // distributional metric you'd actually gate an index on: mean recall
    // says how good the index is on average, min recall exposes the
    // worst-served probe. Candidate sets are injectively ordered so the
    // metric is exact; per-probe top-5s come from a window partitioned
    // by probe id (bounded panel, fully parallel).
    Op("llm_ann_recall_audit",
      (s, d) => {
        val sigExpr =
          "aggregate(sequence(0, 7), 0, (acc, i) -> acc + CASE WHEN " +
            "aggregate(transform(sequence(0, 63), j -> CAST(element_at(embedding, j + 1) AS DOUBLE) * " +
            "CAST(((i * 7 + j * 13) % 11) - 5 AS DOUBLE)), CAST(0 AS DOUBLE), (a, v) -> a + v) > 0 " +
            "THEN shiftleft(1, i) ELSE 0 END)"
        val emb = T.spread(T.t(s, d, "embeddings")).withColumn("bsig", expr(sigExpr))
        val probes = emb
          .withColumn("hkey", expr("substring(md5(CAST(vec_id AS STRING)), 1, 8)"))
          .orderBy("hkey", "vec_id").limit(32)
          .select(col("vec_id").as("p_id"), col("embedding").as("p_emb"),
            col("bsig").as("p_sig"))
        val wTop = Window.partitionBy("p_id").orderBy(desc("sim"), col("vec_id"))
        val exact5 = emb.crossJoin(broadcast(probes))
          .where("vec_id <> p_id")
          .withColumn("sim", expr("cosine_sim(embedding, p_emb)"))
          .withColumn("rn", row_number().over(wTop)).where("rn <= 5")
          .select("p_id", "vec_id")
        // multi-probe candidates: the probe's own bucket plus all 8
        // Hamming-1 buckets — audits the same candidate generation the
        // production llm_ann_lsh/llm_ann_refine index uses
        val variants = probes.withColumn("p_probe", explode(expr(
          "concat(array(p_sig), transform(sequence(0, 7), i -> CAST(p_sig ^ shiftleft(1, i) AS INT)))")))
        val approx5 = emb.join(broadcast(variants),
            col("bsig") === col("p_probe") && col("vec_id") =!= col("p_id"))
          .withColumn("sim", expr("cosine_sim(embedding, p_emb)"))
          .withColumn("rn", row_number().over(wTop)).where("rn <= 5")
          .select(col("p_id"), col("vec_id"), lit(1).as("hit"))
        exact5.join(approx5, Seq("p_id", "vec_id"), "left")
          .groupBy("p_id").agg(sum(coalesce(col("hit"), lit(0))).as("hits"))
          .agg(count(lit(1)).as("n_probes"), sum("hits").as("total_hits"),
            min("hits").as("min_hits"))
          .select(col("n_probes"), lit(5).as("k"),
            expr("CAST(total_hits AS DOUBLE) / (5 * n_probes)").as("mean_recall"),
            expr("CAST(min_hits AS DOUBLE) / 5").as("min_recall"))
      },
      Some("WITH s AS (SELECT vec_id, embedding, CAST(list_sum(list_transform(range(0, 8), i -> " +
        "CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        "list_transform(range(0, 64), j -> CAST(embedding[j + 1] AS DOUBLE) * " +
        "CAST(((i * 7 + j * 13) % 11) - 5 AS DOUBLE))), (a, v) -> a + v) > 0 " +
        "THEN (1 << i) ELSE 0 END)) AS INTEGER) AS bsig FROM embeddings), " +
        "p AS (SELECT vec_id AS p_id, embedding AS p_emb, bsig AS p_sig FROM s " +
        "ORDER BY substr(md5(CAST(vec_id AS VARCHAR)), 1, 8), vec_id LIMIT 32), " +
        "e AS (SELECT p_id, vec_id FROM (SELECT p.p_id, s.vec_id, " +
        s"row_number() OVER (PARTITION BY p.p_id ORDER BY ${oSimSql("s.embedding", "p_emb")} DESC, s.vec_id) AS rn " +
        "FROM s, p WHERE s.vec_id <> p.p_id) WHERE rn <= 5), " +
        "pv AS (SELECT p_id, p_emb, unnest(list_prepend(p_sig, " +
        "list_transform(range(0, 8), i -> xor(p_sig, (1 << i))))) AS p_probe FROM p), " +
        "a AS (SELECT p_id, vec_id FROM (SELECT pv.p_id, s.vec_id, " +
        s"row_number() OVER (PARTITION BY pv.p_id ORDER BY ${oSimSql("s.embedding", "p_emb")} DESC, s.vec_id) AS rn " +
        "FROM s JOIN pv ON s.bsig = pv.p_probe AND s.vec_id <> pv.p_id) WHERE rn <= 5), " +
        "h AS (SELECT e.p_id, CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits " +
        "FROM e LEFT JOIN a ON e.p_id = a.p_id AND e.vec_id = a.vec_id GROUP BY e.p_id) " +
        "SELECT count(*) AS n_probes, 5 AS k, " +
        "CAST(SUM(hits) AS DOUBLE) / (5 * count(*)) AS mean_recall, " +
        "CAST(MIN(hits) AS DOUBLE) / 5 AS min_recall FROM h")),

    // Shard-packing efficiency: per-language utilization of the
    // 2000-token shard budget from the contiguous packing — the audit a
    // training loader runs before accepting a dataset layout. Reuses the
    // range-bucketed two-level packing (LlmOps.packShards), so the
    // cumulative window never holds a whole language in one partition.
    Op("llm_packing_efficiency",
      (s, d) => {
        LlmOps.packShards(s, d)
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

    // Pipeline freshness report: per-type high watermark and its lag
    // behind the global watermark, in exact epoch microseconds (complete
    // minutes via floor division — boundary-counting date_diff and
    // unit-counting timestampdiff disagree on sub-minute components, so
    // neither is used).
    Op("core_freshness_report",
      (s, d) => {
        val perType = T.events(s, d).groupBy("event_type")
          .agg(max("ts").as("max_ts"), count(lit(1)).as("n_events"))
        val global = perType.agg(max("max_ts").as("global_max"))
        perType.crossJoin(broadcast(global))
          .withColumn("lag_us",
            expr("unix_micros(CAST(global_max AS TIMESTAMP)) - unix_micros(CAST(max_ts AS TIMESTAMP))"))
          .withColumn("lag_minutes", expr("lag_us div 60000000"))
          .select("event_type", "max_ts", "n_events", "lag_us", "lag_minutes")
          .orderBy("event_type")
      },
      Some("WITH pt AS (SELECT event_type, max(ts) AS max_ts, count(*) AS n_events FROM events GROUP BY event_type), " +
        "g AS (SELECT max(max_ts) AS global_max FROM pt) " +
        "SELECT event_type, max_ts, n_events, " +
        "epoch_us(global_max) - epoch_us(max_ts) AS lag_us, " +
        "(epoch_us(global_max) - epoch_us(max_ts)) // 60000000 AS lag_minutes " +
        "FROM pt, g ORDER BY event_type")),

    // Centered (symmetric) window frame: 7-row moving stats around each
    // lineitem in supplier ship order. The mean goes through
    // SUM(DECIMAL)/COUNT — DuckDB's AVG(DECIMAL) detours through DOUBLE
    // (parity rule 14) so the exact-rational route is used on both sides.
    // (l_orderkey, l_linenumber) is NOT unique in this corpus, so the
    // window order is widened to the full-tuple key (verified unique)
    // and the output order covers every emitted column — ties then only
    // occur between value-identical rows.
    Op("rel_window_centered",
      (s, d) => {
        val ord = "ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey, l_extendedprice, l_quantity"
        val w = Window.partitionBy("l_suppkey")
          .orderBy("l_shipdate", "l_orderkey", "l_linenumber",
            "l_partkey", "l_extendedprice", "l_quantity")
          .rowsBetween(-3, 3)
        T.t(s, d, "lineitem")
          .withColumn("c_avg", expr(
            "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) OVER (" +
              s"PARTITION BY l_suppkey $ord " +
              "ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS DOUBLE) / " +
              s"COUNT(*) OVER (PARTITION BY l_suppkey $ord " +
              "ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)"))
          .withColumn("c_min", min("l_extendedprice").over(w))
          .withColumn("c_max", max("l_extendedprice").over(w))
          .select("l_orderkey", "l_linenumber", "l_suppkey", "c_avg", "c_min", "c_max")
          .orderBy("l_orderkey", "l_linenumber", "l_suppkey", "c_avg", "c_min", "c_max")
      },
      Some("SELECT l_orderkey, l_linenumber, l_suppkey, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) OVER w AS DOUBLE) / count(*) OVER w AS c_avg, " +
        "min(l_extendedprice) OVER w AS c_min, max(l_extendedprice) OVER w AS c_max " +
        "FROM lineitem WINDOW w AS (PARTITION BY l_suppkey " +
        "ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey, l_extendedprice, l_quantity " +
        "ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) " +
        "ORDER BY l_orderkey, l_linenumber, l_suppkey, c_avg, c_min, c_max"))
  )

  /** DuckDB cosine similarity as a sequential left fold — same operand
    * order as graft.functions.CosineSimilarity (mirrors LlmOps.oSim).
    */
  private[ops] def oDotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(range(1, len($a) + 1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), " +
      "(acc, v) -> acc + v)"

  private[ops] def oSimSql(a: String, b: String): String =
    s"${oDotSql(a, b)} / sqrt(${oDotSql(a, a)} * ${oDotSql(b, b)})"
}
