package graft.ops

import graft.{Op, Tables => T}
import graft.functions.KmvAggregator
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 batch: CLOSING THE SKETCH-SIZING LOOP. Round 7 shipped the
  * mergeable sketches (KMV distinct, count-min frequency, Bloom
  * membership) with compile-time geometry and measured their error —
  * including the measurement that a CMS with w ≪ |keys| drowns a join
  * estimate in collision noise (936k vs 60k raw at w=1024). These ops
  * close the loop the way a production profiling pass must: the KMV
  * cardinality estimate — available after one bounded-state scan —
  * SIZES the second-pass structures (CMS width, Bloom bits and probe
  * count), so the error the estimator ships with is a design input,
  * not an accident of a literal. Both engines derive the geometry from
  * the same integer expressions, so the data-dependent sizes stay
  * hash-identical.
  */
object Round8 {

  /** 60-bit md5 prefix hash (portable Spark/DuckDB pair). */
  private def h60(e: String): String =
    s"CAST(conv(substring(md5($e), 1, 15), 16, 10) AS BIGINT)"
  private def oH60(e: String): String =
    s"CAST(concat('0x', substr(md5($e), 1, 15)) AS BIGINT)"

  /** 32-bit md5 prefix (bucket hashing). */
  private def h32(e: String): String =
    s"CAST(conv(substring(md5($e), 1, 8), 16, 10) AS BIGINT)"
  private def oH32(e: String): String =
    s"CAST(concat('0x', substr(md5($e), 1, 8)) AS BIGINT)"

  /** Bits-per-key for a 1% false-positive Bloom filter, fixed-point 1e6:
    * floor(-ln(0.01)/ln²2 · 1e6). A LITERAL, not a runtime libm call —
    * both engines multiply integers, so m can never differ by an ulp.
    */
  private val bloomBitsPerKeyFp = 9584962L

  /** round(ln 2 · 1e6) — the probe-count factor j = round(m/n · ln 2). */
  private val ln2Fp = 693147L

  /** Seeded near-dup pair for llm_minhash_incremental: ids chosen so one
    * lands in the mod-17 batch (899999997 % 17 = 5) and one in the
    * corpus (899999998 % 17 = 6); texts share 10 of 11 3-gram shingles
    * (true jaccard ≈ 0.91), tokens no generated text contains. Shared
    * with the oracle SQL and Round8Spec so all three see one literal.
    */
  private[graft] val mhIncCorpusText: String =
    "zzmh alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
  private[graft] val mhIncBatchText: String = mhIncCorpusText + " zzvar"

  /** The BM25 query panel: (q_id, term) over the corpus vocabulary —
    * one literal shared by the Spark side and the oracle's UNION ALL.
    */
  private[graft] val bm25Queries: Seq[(Long, String)] = Seq(
    1L -> "hash", 1L -> "join", 1L -> "table",
    2L -> "stream", 2L -> "window", 2L -> "batch",
    3L -> "vector", 3L -> "scan", 3L -> "filter")

  /** Blocklist panel: one unigram, one adjacent bigram the synthetic
    * corpus produces organically, and one phrase it never contains
    * (exercising the miss path).
    */
  private[graft] val blocklistTerms: Seq[String] =
    Seq("spark", "slow row", "drop cascade")

  // ---- shared retrieval building blocks (llm_rrf_fusion,
  // llm_retrieval_eval): the md5-ordered 4-probe panel, the exact
  // embedding-cosine ranking, and the token-overlap ranking over the
  // embedded corpus. ONE definition each, so the eval op always
  // measures exactly the rankings the fusion op fuses.

  private def retrievalProbes(emb: DataFrame): DataFrame = emb
    .withColumn("hkey", expr("substring(md5(CAST(vec_id AS STRING)), 1, 8)"))
    .orderBy("hkey", "vec_id").limit(4)
    .select(col("vec_id").as("p_id"), col("embedding").as("p_emb"))
    .localCheckpoint()

  /** Exact cosine top-k per probe: (p_id, id, cos_rank). */
  private def cosRank(emb: DataFrame, probes: DataFrame, topK: Int): DataFrame = {
    val w = Window.partitionBy("p_id").orderBy(desc("sim"), col("vec_id"))
    emb.crossJoin(broadcast(probes)).where("vec_id <> p_id")
      .withColumn("sim", expr("cosine_sim(embedding, p_emb)"))
      .withColumn("cos_rank", row_number().over(w))
      .where(s"cos_rank <= $topK")
      .select(col("p_id"), col("vec_id").as("id"), col("cos_rank"))
  }

  /** Token-overlap top-k per probe over the EMBEDDED corpus (docs
    * carrying a vector, doc_id = vec_id convention): (p_id, id,
    * tok_rank). The probe panel's tokens broadcast, so the ranking is
    * one pass over the token index.
    */
  private def tokRank(s: org.apache.spark.sql.SparkSession, d: String,
      emb: DataFrame, probes: DataFrame, topK: Int): DataFrame = {
    val toks = T.spread(T.t(s, d, "documents"))
      .join(emb.select(col("vec_id").as("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        explode(expr("array_distinct(split(lower(text), ' '))")).as("tok"))
    val probeToks = toks
      .join(broadcast(probes.select("p_id")), col("doc_id") === col("p_id"))
      .select("p_id", "tok")
    val w = Window.partitionBy("p_id").orderBy(desc("overlap"), col("doc_id"))
    toks.join(broadcast(probeToks), "tok")
      .where("doc_id <> p_id")
      .groupBy("p_id", "doc_id").agg(count(lit(1)).as("overlap"))
      .withColumn("tok_rank", row_number().over(w))
      .where(s"tok_rank <= $topK")
      .select(col("p_id"), col("doc_id").as("id"), col("tok_rank"))
  }

  /** DuckDB twins: probe panel, cosine ranking, token ranking. */
  private val oProbes: String =
    "pp AS (SELECT vec_id AS p_id, embedding AS p_emb FROM embeddings " +
      "ORDER BY substr(md5(CAST(vec_id AS VARCHAR)), 1, 8), vec_id LIMIT 4)"
  private def oCosRank(topK: Int): String =
    "cr AS (SELECT p_id, id, cos_rank FROM (" +
      "SELECT pp.p_id, e.vec_id AS id, row_number() OVER (PARTITION BY pp.p_id " +
      s"ORDER BY ${Round3.oSimSql("e.embedding", "pp.p_emb")} DESC, e.vec_id) AS cos_rank " +
      s"FROM embeddings e, pp WHERE e.vec_id <> pp.p_id) WHERE cos_rank <= $topK)"
  private def oTokRank(topK: Int): String =
    "tk AS (SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS tok " +
      "FROM documents WHERE doc_id IN (SELECT vec_id FROM embeddings)), " +
      "pt AS (SELECT pp.p_id, tk.tok FROM tk JOIN pp ON tk.doc_id = pp.p_id), " +
      "tr AS (SELECT p_id, id, tok_rank FROM (" +
      "SELECT ov.p_id, ov.doc_id AS id, " +
      "row_number() OVER (PARTITION BY ov.p_id ORDER BY overlap DESC, ov.doc_id) AS tok_rank " +
      "FROM (SELECT pt.p_id, tk.doc_id, count(*) AS overlap FROM tk " +
      "JOIN pt ON tk.tok = pt.tok WHERE tk.doc_id <> pt.p_id GROUP BY 1, 2) ov) " +
      s"WHERE tok_rank <= $topK)"

  /** Auto-sized CMS join-cardinality estimate: KMV-sketch the left
    * side's key set (k=64 longs of state), size the counter width
    * `w = max(1024, 2·n̂)` from the estimate (expected ≤ ½ distinct key
    * per cell), build both sides' d=4×w counter tables at that width,
    * and report the collision-corrected inner-product estimate
    * Ĵ = avg_i (w·ip_i − n_A·n_B)/(w−1) next to the exact join size
    * (audit-only). The 1-row sizing frame is pinned (localCheckpoint)
    * so the KMV scan runs once, not once per consumer; products go
    * through DECIMAL(38,0) so n_A·n_B cannot overflow at any scale.
    */
  private[graft] def autosizedJoinEstimate(
      a: DataFrame, keyA: String, b: DataFrame, keyB: String): DataFrame = {
    val k = 64
    val wdf = a
      .select(expr(h60(s"CAST($keyA AS STRING)")).as("h"))
      .agg(KmvAggregator.kmv(k)(col("h")).as("mins"))
      .select(expr(
        s"CASE WHEN size(mins) < $k THEN CAST(size(mins) AS BIGINT) ELSE " +
          s"CAST(floor((CAST(${k - 1} AS DOUBLE) * 1152921504606846976.0) / " +
          s"CAST(element_at(mins, $k) AS DOUBLE)) AS BIGINT) END").as("n_keys_est"))
      .select(col("n_keys_est"),
        expr("greatest(CAST(1024 AS BIGINT), 2 * n_keys_est)").as("w"))
      .localCheckpoint()
    def cms(df: DataFrame, key: String, cName: String) = df
      .groupBy(col(key).as("k0")).agg(count(lit(1)).as("f"))
      .crossJoin(broadcast(wdf.select("w")))
      .select(col("f"), posexplode(expr(
        "transform(sequence(0, 3), i -> " +
          h32(s"concat(CAST(i AS STRING), ':', CAST(k0 AS STRING))") +
          " % w)")))
      .withColumnRenamed("pos", "row_i")
      .withColumnRenamed("col", "bucket")
      .groupBy("row_i", "bucket").agg(sum("f").as(cName))
    val ca = cms(a, keyA, "ca")
    val cb = cms(b, keyB, "cb")
    val na = a.agg(count(lit(1)).as("na"))
    val nb = b.agg(count(lit(1)).as("nb"))
    val est = ca.join(cb, Seq("row_i", "bucket"))
      .groupBy("row_i").agg(sum(expr("ca * cb")).as("ip"))
      .crossJoin(broadcast(na)).crossJoin(broadcast(nb))
      .crossJoin(broadcast(wdf))
      // clamp before the integer division so truncating (Spark div) and
      // flooring (DuckDB //) semantics coincide on the non-negative value
      .withColumn("corr", expr(
        "greatest(CAST(w AS DECIMAL(38,0)) * ip - CAST(na AS DECIMAL(38,0)) * nb, " +
          "CAST(0 AS DECIMAL(38,0))) div (w - 1)"))
      .agg(first("n_keys_est").as("n_keys_est"), first("w").as("w"),
        first("na").as("na"), first("nb").as("nb"),
        expr("sum(corr) div 4").as("est_rows"))
    val exact = a.join(b, col(keyA) === col(keyB))
      .agg(count(lit(1)).as("exact_rows"))
    est.crossJoin(exact)
      .select(col("n_keys_est"), col("w"), col("na"), col("nb"),
        col("est_rows"), col("exact_rows"),
        expr("abs(est_rows - exact_rows) * 1000000 div exact_rows")
          .as("err_abs_ppm"))
  }

  val ops: Seq[Op] = Seq(

    // The KMV→CMS sizing loop on a real join: part ⋈ lineitem on
    // partkey. Round 7's fixed-width op measured why this matters; this
    // op is the production shape — the optimizer-facing estimate whose
    // width was chosen BY the data's own cardinality sketch. The oracle
    // replays the KMV estimate, the derived width, and the counter
    // tables with identical integer arithmetic, so even the
    // data-dependent geometry hash-matches.
    Op("rel_join_size_autosized",
      (s, d) => autosizedJoinEstimate(
        T.t(s, d, "part"), "p_partkey",
        T.t(s, d, "lineitem"), "l_partkey"),
      Some("WITH h AS (SELECT DISTINCT " + oH60("CAST(p_partkey AS VARCHAR)") + " AS h FROM part), " +
        "r AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM h), " +
        "sk AS (SELECT count(*) AS nd, max(CASE WHEN rn = 64 THEN h END) AS kth FROM r), " +
        "wv AS (SELECT CASE WHEN nd < 64 THEN nd ELSE " +
        "CAST(floor((CAST(63 AS DOUBLE) * 1152921504606846976.0) / CAST(kth AS DOUBLE)) AS BIGINT) " +
        "END AS n_keys_est FROM sk), " +
        "w2 AS (SELECT n_keys_est, greatest(1024, 2 * n_keys_est) AS w FROM wv), " +
        "fa AS (SELECT p_partkey AS k0, count(*) AS f FROM part GROUP BY 1), " +
        "fb AS (SELECT l_partkey AS k0, count(*) AS f FROM lineitem GROUP BY 1), " +
        "ba AS (SELECT f, i AS row_i, " +
        oH32("concat(CAST(i AS VARCHAR), ':', CAST(k0 AS VARCHAR))") +
        " % w AS bucket FROM fa, range(0, 4) t(i), w2), " +
        "bb AS (SELECT f, i AS row_i, " +
        oH32("concat(CAST(i AS VARCHAR), ':', CAST(k0 AS VARCHAR))") +
        " % w AS bucket FROM fb, range(0, 4) t(i), w2), " +
        "ca AS (SELECT row_i, bucket, CAST(SUM(f) AS BIGINT) AS ca FROM ba GROUP BY 1, 2), " +
        "cb AS (SELECT row_i, bucket, CAST(SUM(f) AS BIGINT) AS cb FROM bb GROUP BY 1, 2), " +
        "nn AS (SELECT (SELECT count(*) FROM part) AS na, " +
        "(SELECT count(*) FROM lineitem) AS nb), " +
        "ip AS (SELECT ca.row_i, CAST(SUM(ca * cb) AS BIGINT) AS ip " +
        "FROM ca JOIN cb ON ca.row_i = cb.row_i AND ca.bucket = cb.bucket GROUP BY 1), " +
        "co AS (SELECT greatest(CAST(w AS HUGEINT) * ip - CAST(na AS HUGEINT) * nb, 0) " +
        "// (w - 1) AS corr FROM ip, nn, w2), " +
        "e AS (SELECT CAST(CAST(SUM(corr) AS HUGEINT) // 4 AS BIGINT) AS est_rows FROM co), " +
        "x AS (SELECT count(*) AS exact_rows FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey) " +
        "SELECT n_keys_est, w, na, nb, est_rows, exact_rows, " +
        "abs(est_rows - exact_rows) * 1000000 // exact_rows AS err_abs_ppm " +
        "FROM w2, nn, e, x")),

    // The KMV→Bloom sizing loop: size m and j for a TARGET 1% FPR from
    // the key-set's own KMV cardinality estimate — m = n̂·(-ln p/ln²2)
    // and j = round(m/n̂·ln 2), both as fixed-point INTEGER products of
    // documented literals so the discrete geometry can never drift
    // between engines — then build the filter, probe it with 10k keys
    // disjoint by construction, and ship the measured FPR next to the
    // (1−e^{−jn/m})^j theory value. The audit closes the promise: a
    // filter sized blind (by sketch, before the exact count exists)
    // still lands on its designed error.
    Op("llm_bloom_autosized",
      (s, d) => {
        val keys = T.t(s, d, "customer").select(col("c_custkey").as("k"))
        val geo = keys
          .select(expr(h60("CAST(k AS STRING)")).as("h"))
          .agg(KmvAggregator.kmv(64)(col("h")).as("mins"))
          .select(expr(
            "CASE WHEN size(mins) < 64 THEN CAST(size(mins) AS BIGINT) ELSE " +
              "CAST(floor((CAST(63 AS DOUBLE) * 1152921504606846976.0) / " +
              "CAST(element_at(mins, 64) AS DOUBLE)) AS BIGINT) END").as("n_keys_est"))
          .withColumn("m", expr(
            s"CAST(greatest(CAST(64 AS DECIMAL(38,0)), " +
              s"CAST(n_keys_est AS DECIMAL(38,0)) * $bloomBitsPerKeyFp div 1000000) AS BIGINT)"))
          // greatest(1, n) in the divisor: an EMPTY key set estimates
          // n̂=0 and must degrade to the minimal geometry, not divide by
          // zero under ANSI
          .withColumn("j", expr(
            s"CAST(greatest(CAST(1 AS DECIMAL(38,0)), " +
              s"(CAST(m AS DECIMAL(38,0)) * $ln2Fp + n_keys_est * 500000) " +
              s"div (greatest(1, n_keys_est) * 1000000)) AS BIGINT)"))
          .localCheckpoint()
        def bitsOf(kc: String) =
          s"transform(sequence(0, CAST(j - 1 AS INT)), i -> (" +
            h32(s"concat('b1:', CAST($kc AS STRING))") + " + CAST(i AS BIGINT) * " +
            h32(s"concat('b2:', CAST($kc AS STRING))") + ") % m)"
        val bits = keys.crossJoin(broadcast(geo))
          .select(explode(expr(bitsOf("k"))).as("bit")).distinct()
        val probes = s.range(1000000000L, 1000010000L).select(col("id").as("k"))
        val hit = probes.crossJoin(broadcast(geo))
          .select(col("k"), col("j"), explode(expr(bitsOf("k"))).as("bit"))
          .join(broadcast(bits.withColumn("b1", lit(1L))), Seq("bit"), "left")
          .groupBy("k", "j").agg(sum(coalesce(col("b1"), lit(0L))).as("nset"))
          .agg(count(lit(1)).as("n_probes"),
            sum(when(col("nset") === col("j"), 1L).otherwise(0L)).as("false_pos"))
        keys.agg(count(lit(1)).as("n_keys"))
          .crossJoin(broadcast(geo))
          .crossJoin(bits.agg(count(lit(1)).as("bits_set")))
          .crossJoin(hit)
          .withColumn("p", expr(
            "1.0 - exp((0.0 - CAST(j * n_keys AS DOUBLE)) / CAST(m AS DOUBLE))"))
          .select(col("n_keys"), col("n_keys_est"), col("m"), col("j"),
            col("bits_set"), col("n_probes"), col("false_pos"),
            expr("false_pos * 1000000 div n_probes").as("fpr_ppm"),
            expr("CAST(floor(aggregate(sequence(1, CAST(j AS INT)), " +
              "CAST(1.0 AS DOUBLE), (acc, x) -> acc * p) * 1000000.0) AS BIGINT)")
              .as("theory_ppm"))
      },
      Some("WITH keys AS (SELECT c_custkey AS k FROM customer), " +
        "h AS (SELECT DISTINCT " + oH60("CAST(k AS VARCHAR)") + " AS h FROM keys), " +
        "r AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM h), " +
        "sk AS (SELECT count(*) AS nd, max(CASE WHEN rn = 64 THEN h END) AS kth FROM r), " +
        "ne AS (SELECT CASE WHEN nd < 64 THEN nd ELSE " +
        "CAST(floor((CAST(63 AS DOUBLE) * 1152921504606846976.0) / CAST(kth AS DOUBLE)) AS BIGINT) " +
        "END AS n_keys_est FROM sk), " +
        "geo AS (SELECT n_keys_est, " +
        s"CAST(greatest(64, CAST(n_keys_est AS HUGEINT) * $bloomBitsPerKeyFp // 1000000) AS BIGINT) AS m " +
        "FROM ne), " +
        "geo2 AS (SELECT n_keys_est, m, " +
        s"CAST(greatest(1, (CAST(m AS HUGEINT) * $ln2Fp + CAST(n_keys_est AS HUGEINT) * 500000) " +
        "// (CAST(greatest(1, n_keys_est) AS HUGEINT) * 1000000)) AS BIGINT) AS j FROM geo), " +
        "kh AS (SELECT k, " +
        oH32("concat('b1:', CAST(k AS VARCHAR))") + " AS h1, " +
        oH32("concat('b2:', CAST(k AS VARCHAR))") + " AS h2 FROM keys), " +
        "bits AS (SELECT DISTINCT (h1 + i * h2) % m AS bit FROM (" +
        "SELECT h1, h2, m, unnest(range(0, j)) AS i FROM kh, geo2)), " +
        "ph AS (SELECT k, " +
        oH32("concat('b1:', CAST(k AS VARCHAR))") + " AS h1, " +
        oH32("concat('b2:', CAST(k AS VARCHAR))") + " AS h2 " +
        "FROM range(1000000000, 1000010000) t(k)), " +
        "pb AS (SELECT k, (h1 + i * h2) % m AS bit FROM (" +
        "SELECT k, h1, h2, m, unnest(range(0, j)) AS i FROM ph, geo2)), " +
        "hit AS (SELECT CAST(count(*) AS BIGINT) AS n_probes, " +
        "CAST(SUM(CASE WHEN nset = j THEN 1 ELSE 0 END) AS BIGINT) AS false_pos FROM (" +
        "SELECT pb.k, j, SUM(CASE WHEN b.bit IS NOT NULL THEN 1 ELSE 0 END) AS nset " +
        "FROM pb LEFT JOIN bits b ON pb.bit = b.bit, geo2 GROUP BY pb.k, j)), " +
        "agg AS (SELECT (SELECT count(*) FROM keys) AS n_keys, n_keys_est, m, j, " +
        "(SELECT count(*) FROM bits) AS bits_set, n_probes, false_pos FROM hit, geo2), " +
        "pp AS (SELECT *, 1.0 - exp((0.0 - CAST(j * n_keys AS DOUBLE)) / CAST(m AS DOUBLE)) AS p FROM agg) " +
        "SELECT n_keys, n_keys_est, m, j, bits_set, n_probes, false_pos, " +
        "false_pos * 1000000 // n_probes AS fpr_ppm, " +
        "CAST(floor(list_reduce(list_prepend(CAST(1.0 AS DOUBLE), " +
        "list_transform(range(j), x -> p)), (acc, v) -> acc * v) * 1000000.0) AS BIGINT) AS theory_ppm " +
        "FROM pp")),

    // Incremental near-dup: a new batch (doc_id % 17 = 5) is
    // MinHash-LSH-checked against the accumulated corpus WITHOUT the
    // corpus ever self-joining — batch bands join corpus bands, so the
    // nightly cost is proportional to the batch however large the
    // corpus has grown. Signature, banding, and match logic live in
    // graft.api.MinHashIndex (shared with the persistent store, which
    // Round8Spec pins equal to this one-shot path). A seeded near-dup
    // pair in a lang-free id range guarantees the hit path runs at
    // small SFs (the mod-17 straddle of organic near-dup pairs is luck).
    Op("llm_minhash_incremental",
      (s, d) => {
        val docs = T.spread(T.t(s, d, "documents")).select("doc_id", "text")
          .unionByName(s.createDataFrame(
            java.util.Arrays.asList(
              org.apache.spark.sql.Row(899999997L, mhIncBatchText),
              org.apache.spark.sql.Row(899999998L, mhIncCorpusText)),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("doc_id",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("text",
                org.apache.spark.sql.types.StringType)))))
        val corpusSigs = graft.api.MinHashIndex
          .signatures(docs.where("doc_id % 17 <> 5")).persist()
        val batchSigs = graft.api.MinHashIndex
          .signatures(docs.where("doc_id % 17 = 5")).persist()
        val out = graft.api.MinHashIndex.matches(batchSigs, corpusSigs)
          .localCheckpoint()
        corpusSigs.unpersist()
        batchSigs.unpersist()
        out.orderBy("batch_id", "corpus_id")
      },
      Some("WITH du AS (SELECT doc_id, text FROM documents " +
        s"UNION ALL SELECT 899999997, '$mhIncBatchText' " +
        s"UNION ALL SELECT 899999998, '$mhIncCorpusText'), " +
        "ths AS (SELECT doc_id, list_transform(" +
        "list_distinct(list_transform(range(1, len(toks) - 1), i -> concat(toks[i], ' ', toks[i + 1], ' ', toks[i + 2]))), " +
        "tok -> CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT)) AS ths " +
        "FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM du) WHERE len(toks) >= 3), " +
        "sigs AS (SELECT doc_id, list_reduce(list_prepend(" +
        "list_transform(range(0, 16), x -> CAST(2038074743 AS BIGINT)), " +
        "list_transform(ths, h -> list_transform(range(0, 16), i -> " +
        "([3,5,7,11,13,17,19,23,29,31,37,41,43,47,53,59][i + 1] * h + " +
        "[101,103,107,109,113,127,131,137,139,149,151,157,163,167,173,179][i + 1]) % 2038074743))), " +
        "(acc, v) -> list_transform(range(1, 17), i -> least(acc[i], v[i]))) AS sig FROM ths), " +
        "bb AS (SELECT doc_id, b.band AS band, " +
        "array_to_string(list_transform(list_slice(sig, band * 4 + 1, band * 4 + 4), x -> CAST(x AS VARCHAR)), ',') AS band_sig " +
        "FROM sigs, (SELECT unnest(range(0, 4)) AS band) b), " +
        "cand AS (SELECT DISTINCT x.doc_id AS batch_id, y.doc_id AS corpus_id " +
        "FROM bb x JOIN bb y ON x.band = y.band AND x.band_sig = y.band_sig " +
        "WHERE x.doc_id % 17 = 5 AND y.doc_id % 17 <> 5) " +
        "SELECT batch_id, corpus_id, est_jaccard FROM (" +
        "SELECT batch_id, corpus_id, " +
        "CAST(len(list_filter(range(1, 17), i -> s1.sig[i] = s2.sig[i])) AS DOUBLE) / 16 AS est_jaccard " +
        "FROM cand JOIN sigs s1 ON cand.batch_id = s1.doc_id " +
        "JOIN sigs s2 ON cand.corpus_id = s2.doc_id) " +
        "WHERE est_jaccard >= 0.5 ORDER BY batch_id, corpus_id")),

    // BM25 retrieval (k1=1.2, b=0.75): the inverted index is pruned to
    // the query's terms by a BROADCAST semi-join before anything heavy
    // happens — document frequency, length normalization, and scoring
    // all run on the surviving postings only, so corpus size enters the
    // cost only through the one tokenize+count scan. Per-term scores
    // are quantized to 1e-6 fixed-point BEFORE the per-doc sum, making
    // the aggregate order-independent (bit-identical across partitions
    // and engines); top-3 docs per query via a per-query window.
    Op("llm_bm25_topk",
      (s, d) => {
        import s.implicits._
        val docs = T.t(s, d, "documents")
        val toks = T.spread(docs)
          .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
        val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
        val stats = docs.agg(count(lit(1)).as("n_docs"))
          .crossJoin(toks.agg(count(lit(1)).as("n_toks")))
        val queries = bm25Queries.toDF("q_id", "token")
        val post = tf.join(broadcast(queries), "token")
        val dfreq = post.groupBy("token")
          .agg(countDistinct("doc_id").as("df"))
        val w = Window.partitionBy("q_id")
          .orderBy(desc("score_fp"), col("doc_id"))
        post.join(dfreq, "token").join(dl, "doc_id")
          .crossJoin(broadcast(stats))
          .withColumn("term_fp", expr(
            "CAST(floor(ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / " +
              "(CAST(df AS DOUBLE) + 0.5) + 1.0) * " +
              "(CAST(tf AS DOUBLE) * 2.2) / " +
              "(CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / " +
              "(CAST(n_toks AS DOUBLE) / CAST(n_docs AS DOUBLE)))) * 1000000.0) AS BIGINT)"))
          .groupBy("q_id", "doc_id").agg(sum("term_fp").as("score_fp"))
          .withColumn("rank", row_number().over(w))
          .where("rank <= 3")
          .select("q_id", "rank", "doc_id", "score_fp")
          .orderBy("q_id", "rank")
      },
      Some("WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents), " +
        "tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2), " +
        "dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1), " +
        "st AS (SELECT (SELECT count(*) FROM documents) AS n_docs, " +
        "(SELECT count(*) FROM toks) AS n_toks), " +
        "q AS (" + bm25Queries.map { case (q, t) =>
          s"SELECT $q AS q_id, '$t' AS token" }.mkString(" UNION ALL ") + "), " +
        "post AS (SELECT q_id, tf.token, tf.doc_id, tf FROM tf JOIN q ON tf.token = q.token), " +
        "dfq AS (SELECT token, count(DISTINCT doc_id) AS df FROM post GROUP BY 1), " +
        "sc AS (SELECT q_id, doc_id, CAST(SUM(term_fp) AS BIGINT) AS score_fp FROM (" +
        "SELECT q_id, post.doc_id, " +
        "CAST(floor(ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / " +
        "(CAST(df AS DOUBLE) + 0.5) + 1.0) * " +
        "(CAST(tf AS DOUBLE) * 2.2) / " +
        "(CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / " +
        "(CAST(n_toks AS DOUBLE) / CAST(n_docs AS DOUBLE)))) * 1000000.0) AS BIGINT) AS term_fp " +
        "FROM post JOIN dfq ON post.token = dfq.token " +
        "JOIN dl ON post.doc_id = dl.doc_id, st) GROUP BY 1, 2) " +
        "SELECT CAST(q_id AS BIGINT) AS q_id, CAST(rank AS INTEGER) AS rank, doc_id, score_fp FROM (" +
        "SELECT q_id, doc_id, score_fp, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY score_fp DESC, doc_id) AS rank FROM sc) " +
        "WHERE rank <= 3 ORDER BY q_id, rank")),

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

    // Hybrid retrieval by reciprocal-rank fusion (RRF, k=60): per probe
    // doc (the standard md5-ordered 4-probe panel; doc_id = vec_id
    // convention from llm_multimodal_schema), fuse the embedding-cosine
    // top-20 with the token-overlap top-20 — rrf = Σ 1/(60+rank) over
    // the lists containing the candidate, as integer 1e9 fixed-point so
    // the fusion is exact on both engines. Both rankings are bounded
    // per-probe windows (never global); the probe panel and its tokens
    // broadcast, so each ranking is one pass over its index — the
    // candidate generator a retrieval stack runs when lexical and
    // semantic signals disagree.
    Op("llm_rrf_fusion",
      (s, d) => {
        val emb = T.spread(T.t(s, d, "embeddings"))
        val probes = retrievalProbes(emb)
        val cosR = cosRank(emb, probes, topK = 20)
        val tokR = tokRank(s, d, emb, probes, topK = 20)
        val wRrf = Window.partitionBy("p_id").orderBy(desc("rrf_fp"), col("id"))
        cosR.join(tokR, Seq("p_id", "id"), "full_outer")
          .withColumn("rrf_fp", expr(
            "coalesce(1000000000 div (60 + cos_rank), 0) + " +
              "coalesce(1000000000 div (60 + tok_rank), 0)"))
          .withColumn("rank", row_number().over(wRrf))
          .where("rank <= 5")
          .select("p_id", "rank", "id", "rrf_fp", "cos_rank", "tok_rank")
          .orderBy("p_id", "rank")
      },
      Some(s"WITH $oProbes, ${oCosRank(20)}, ${oTokRank(20)}, " +
        "f AS (SELECT coalesce(cr.p_id, tr.p_id) AS p_id, coalesce(cr.id, tr.id) AS id, " +
        "CAST(cos_rank AS INTEGER) AS cos_rank, CAST(tok_rank AS INTEGER) AS tok_rank, " +
        "CAST(coalesce(1000000000 // (60 + cos_rank), 0) + " +
        "coalesce(1000000000 // (60 + tok_rank), 0) AS BIGINT) AS rrf_fp " +
        "FROM cr FULL OUTER JOIN tr ON cr.p_id = tr.p_id AND cr.id = tr.id) " +
        "SELECT p_id, CAST(rank AS INTEGER) AS rank, id, rrf_fp, cos_rank, tok_rank FROM (" +
        "SELECT p_id, id, rrf_fp, cos_rank, tok_rank, " +
        "row_number() OVER (PARTITION BY p_id ORDER BY rrf_fp DESC, id) AS rank FROM f) " +
        "WHERE rank <= 5 ORDER BY p_id, rank")),

    // Lexical-vs-semantic retrieval eval: per probe, score the
    // token-overlap top-20 against the exact-cosine top-5 as relevance
    // truth — recall@20 and MRR (1e6 fixed-point integer ratios, no
    // float drift). The number a curation team watches to decide
    // whether lexical prefiltering is safe before the expensive
    // embedding pass; composes the two shared ranking generators the
    // fusion op fuses, so the eval can never measure a different
    // pipeline than the one deployed.
    Op("llm_retrieval_eval",
      (s, d) => {
        val emb = T.spread(T.t(s, d, "embeddings"))
        val probes = retrievalProbes(emb)
        val truth = cosRank(emb, probes, topK = 5)
        val cand = tokRank(s, d, emb, probes, topK = 20)
        truth.join(cand, Seq("p_id", "id"), "left")
          .groupBy("p_id").agg(
            count(lit(1)).as("n_truth"),
            sum(when(col("tok_rank").isNotNull, 1L).otherwise(0L)).as("hits"),
            min("tok_rank").as("first_hit_rank"))
          .select(col("p_id"), col("n_truth"), col("hits"),
            expr("hits * 1000000 div n_truth").as("recall_ppm"),
            expr("coalesce(1000000 div first_hit_rank, 0)").as("mrr_ppm"))
          .orderBy("p_id")
      },
      Some(s"WITH $oProbes, ${oCosRank(5)}, ${oTokRank(20)} " +
        "SELECT p_id, n_truth, hits, " +
        "CAST(hits * 1000000 // n_truth AS BIGINT) AS recall_ppm, " +
        "CAST(coalesce(1000000 // first_hit_rank, 0) AS BIGINT) AS mrr_ppm FROM (" +
        "SELECT cr.p_id, CAST(count(*) AS BIGINT) AS n_truth, " +
        "CAST(SUM(CASE WHEN tr.tok_rank IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits, " +
        "MIN(tr.tok_rank) AS first_hit_rank " +
        "FROM cr LEFT JOIN tr ON cr.p_id = tr.p_id AND cr.id = tr.id " +
        "GROUP BY cr.p_id) ORDER BY p_id")),

    // IVF index health: per-cell population of the TRAINED index
    // (empty cells included via the centroid-side left join), collapsed
    // to the operational skew numbers — max/min/empty cells and the
    // max-over-mean imbalance in ppm. Imbalance IS the IVF failure mode
    // at 100 TB (one hot cell serializes every probe that hits it);
    // this op is the dashboard number that says "retrain with more
    // cells" before latency says it. DECIMAL(38) products so the ppm
    // arithmetic cannot overflow at any cell population.
    Op("llm_ivf_cell_balance",
      (s, d) => {
        val emb = T.spread(T.t(s, d, "embeddings"))
        val cent = graft.api.AnnIndex.trainFor(s, d, k = 10, iters = 3)
        val sizes = graft.api.AnnIndex.assign(emb, cent)
          .groupBy("c_id").agg(count(lit(1)).as("n"))
        cent.select("c_id").join(sizes, Seq("c_id"), "left")
          .select(col("c_id"), coalesce(col("n"), lit(0L)).as("n"))
          .agg(count(lit(1)).as("n_cells"), sum("n").as("n_vectors"),
            max("n").as("max_cell"), min("n").as("min_cell"),
            sum(when(col("n") === 0L, 1L).otherwise(0L)).as("empty_cells"))
          .select(col("n_cells"), col("n_vectors"), col("max_cell"),
            col("min_cell"), col("empty_cells"),
            expr("CAST(CAST(max_cell AS DECIMAL(38,0)) * n_cells * 1000000 " +
              "div n_vectors AS BIGINT)").as("imbalance_ppm"))
      },
      Some(Round5.oTrainedAssign +
        ", sz AS (SELECT c3.c_id, (SELECT count(*) FROM asg WHERE asg.c_id = c3.c_id) AS n FROM c3), " +
        "st AS (SELECT CAST(count(*) AS BIGINT) AS n_cells, CAST(SUM(n) AS BIGINT) AS n_vectors, " +
        "CAST(MAX(n) AS BIGINT) AS max_cell, CAST(MIN(n) AS BIGINT) AS min_cell, " +
        "CAST(SUM(CASE WHEN n = 0 THEN 1 ELSE 0 END) AS BIGINT) AS empty_cells FROM sz) " +
        "SELECT n_cells, n_vectors, max_cell, min_cell, empty_cells, " +
        "CAST(CAST(max_cell AS HUGEINT) * n_cells * 1000000 // n_vectors AS BIGINT) AS imbalance_ppm " +
        "FROM st")),

    // Product quantization (M=4 subspaces x 16 dims, k=8 codewords,
    // 2 Lloyd iterations): the memory-side answer to ANN at 100 TB —
    // a 64-dim float vector (256 B) compresses to 4 code bytes, 64:1,
    // and the ADC distance needs only the 4x8 codebook. Training
    // REUSES AnnIndex.train/assign per sliced subspace (the same
    // fixed-point Lloyd every index in the engine trains with), so the
    // PQ codebooks can never drift from the IVF training semantics.
    // Ships per-subspace quantization error (1e8 fixed-point, quantized
    // per vector BEFORE the sum, so the aggregate is order-independent)
    // — the number that says whether 8 codewords suffice.
    Op("llm_pq_train",
      (s, d) => {
        val emb = T.spread(T.t(s, d, "embeddings"))
        // ONE session-memoized Lloyd stream trains all 4 subspaces;
        // the ADC-recall op consumes the SAME codebooks
        val all = graft.api.AnnIndex.trainSubspaces(s, d, 4, 16, k = 8, iters = 2)
        val parts = (0 until 4).map { m =>
          val sub = emb.select(col("vec_id"),
            expr(s"slice(embedding, ${16 * m + 1}, 16)").as("embedding"))
          val cent = all.where(s"m = $m").select("c_id", "n", "c_vec")
          graft.api.AnnIndex.assign(sub, cent)
            .join(broadcast(cent.select("c_id", "c_vec")), "c_id")
            .select(lit(m).as("m"),
              expr("CAST(floor(" + graft.api.AnnIndex.d2("embedding") +
                " * 100000000) AS BIGINT)").as("qerr_fp"))
        }
        parts.reduce(_ unionByName _)
          .groupBy("m").agg(count(lit(1)).as("n_vectors"),
            sum("qerr_fp").as("sum_qerr_fp"))
          .select(col("m"), col("n_vectors"), col("sum_qerr_fp"),
            expr("sum_qerr_fp div greatest(1, n_vectors)").as("mse_fp"))
          .orderBy("m")
      },
      Some("WITH " + (0 until 4).map(oPqSubspace).mkString(", ") + " " +
        (0 until 4).map(m =>
          s"SELECT $m AS m, n_vectors, sum_qerr_fp, " +
            s"CAST(sum_qerr_fp // greatest(1, n_vectors) AS BIGINT) AS mse_fp FROM r$m")
          .mkString(" UNION ALL ") + " ORDER BY m")),

    // PQ asymmetric-distance (ADC) search recall: rank the corpus by
    // the CODE-ONLY distance — Σ_m d2(probe subvector, codeword of the
    // vector's m-th code), each term 1e8 fixed-point quantized before
    // the sum — and audit recall@5 against the exact L2 top-5. The
    // probe side is a broadcast 4x4x8 lookup table (probes x subspaces
    // x codewords); the corpus side joins CODES, never float vectors,
    // which is the whole point of PQ at 100 TB: the scan touches
    // 4 bytes per vector plus a 128-row broadcast.
    Op("llm_pq_adc_recall",
      (s, d) => {
        val emb = T.spread(T.t(s, d, "embeddings"))
        val probes = retrievalProbes(emb)
        val all = graft.api.AnnIndex.trainSubspaces(s, d, 4, 16, k = 8, iters = 2)
        val subs = (0 until 4).map { m =>
          val sub = emb.select(col("vec_id"),
            expr(s"slice(embedding, ${16 * m + 1}, 16)").as("embedding"))
          val cent = all.where(s"m = $m").select("c_id", "n", "c_vec")
          val codes = graft.api.AnnIndex.assign(sub, cent)
            .select(lit(m).as("m"), col("vec_id"), col("c_id"))
          val pdist = probes
            .select(col("p_id"),
              expr(s"slice(p_emb, ${16 * m + 1}, 16)").as("embedding"))
            .crossJoin(broadcast(cent.select("c_id", "c_vec")))
            .select(col("p_id"), lit(m).as("m"), col("c_id"),
              expr(graft.api.AnnIndex.d2("embedding")).as("pd2"))
          (codes, pdist)
        }
        val codes = subs.map(_._1).reduce(_ unionByName _)
        val pdists = subs.map(_._2).reduce(_ unionByName _)
        val wAdc = Window.partitionBy("p_id").orderBy(col("adc_fp"), col("vec_id"))
        val approx = codes.join(broadcast(pdists), Seq("m", "c_id"))
          .where("vec_id <> p_id")
          .groupBy("p_id", "vec_id")
          .agg(sum(expr("CAST(floor(pd2 * 100000000) AS BIGINT)")).as("adc_fp"))
          .withColumn("rn", row_number().over(wAdc)).where("rn <= 5")
          .select(col("p_id"), col("vec_id"), lit(1L).as("hit"))
        val l2 = "aggregate(zip_with(embedding, p_emb, (x, c) -> " +
          "(CAST(x AS DOUBLE) - CAST(c AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(c AS DOUBLE))), " +
          "CAST(0 AS DOUBLE), (a, v) -> a + v)"
        val wEx = Window.partitionBy("p_id").orderBy(col("d2"), col("vec_id"))
        emb.crossJoin(broadcast(probes)).where("vec_id <> p_id")
          .withColumn("d2", expr(l2))
          .withColumn("rn", row_number().over(wEx)).where("rn <= 5")
          .select("p_id", "vec_id")
          .join(approx, Seq("p_id", "vec_id"), "left")
          .groupBy("p_id").agg(count(lit(1)).as("n_truth"),
            sum(coalesce(col("hit"), lit(0L))).as("hits"))
          .select(col("p_id"), col("n_truth"), col("hits"),
            expr("hits * 1000000 div n_truth").as("recall_ppm"))
          .orderBy("p_id")
      },
      Some(s"WITH $oProbes, " + (0 until 4).map(oPqSubspace).mkString(", ") + ", " +
        "cds AS (" + (0 until 4).map(m =>
          s"SELECT $m AS m, vec_id, c_id FROM (SELECT e.vec_id, c.c_id, " +
            s"row_number() OVER (PARTITION BY e.vec_id ORDER BY ${oPqD2(s"e.sub", "c.c_vec")}, c.c_id) AS rn " +
            s"FROM se$m e, pc${m}_2 c) WHERE rn = 1").mkString(" UNION ALL ") + "), " +
        "pdist AS (" + (0 until 4).map(m =>
          s"SELECT pp.p_id, $m AS m, c.c_id, " +
            s"${oPqD2(s"list_slice(pp.p_emb, ${16 * m + 1}, ${16 * m + 16})", "c.c_vec")} AS pd2 " +
            s"FROM pp, pc${m}_2 c").mkString(" UNION ALL ") + "), " +
        "adc AS (SELECT p_id, vec_id, " +
        "CAST(SUM(CAST(floor(pd2 * 100000000) AS BIGINT)) AS BIGINT) AS adc_fp " +
        "FROM cds JOIN pdist USING (m, c_id) WHERE vec_id <> p_id GROUP BY 1, 2), " +
        "ap AS (SELECT p_id, vec_id FROM (SELECT p_id, vec_id, " +
        "row_number() OVER (PARTITION BY p_id ORDER BY adc_fp, vec_id) AS rn FROM adc) WHERE rn <= 5), " +
        "tr AS (SELECT p_id, vec_id FROM (SELECT pp.p_id, e.vec_id, " +
        "row_number() OVER (PARTITION BY pp.p_id ORDER BY " +
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65), t -> " +
        "(CAST(e.embedding[t] AS DOUBLE) - CAST(pp.p_emb[t] AS DOUBLE)) * " +
        "(CAST(e.embedding[t] AS DOUBLE) - CAST(pp.p_emb[t] AS DOUBLE)))), (x, y) -> x + y), e.vec_id) AS rn " +
        "FROM embeddings e, pp WHERE e.vec_id <> pp.p_id) WHERE rn <= 5) " +
        "SELECT p_id, n_truth, hits, CAST(hits * 1000000 // n_truth AS BIGINT) AS recall_ppm FROM (" +
        "SELECT tr.p_id, CAST(count(*) AS BIGINT) AS n_truth, " +
        "CAST(SUM(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits " +
        "FROM tr LEFT JOIN ap ON tr.p_id = ap.p_id AND tr.vec_id = ap.vec_id " +
        "GROUP BY tr.p_id) ORDER BY p_id")),

    // Diversity-constrained retrieval: per probe, the cosine top-20
    // candidates collapse to the BEST candidate per embedding label
    // (the corpus' cluster id — retrieval that returns 5 near-identical
    // members of one cluster is useless for curation), then the top-3
    // label representatives by cosine rank. The diversity constraint is
    // two window passes over the already-bounded candidate set (4
    // probes x 20 rows), so it adds zero scan cost to the retrieval —
    // the pattern that matters at 100 TB, where re-scoring for
    // diversity must never re-touch the corpus.
    Op("llm_diversified_topk",
      (s, d) => {
        val emb = T.spread(T.t(s, d, "embeddings"))
        val probes = retrievalProbes(emb)
        val wLab = Window.partitionBy("p_id", "label").orderBy("cos_rank")
        val wDiv = Window.partitionBy("p_id").orderBy("cos_rank", "id")
        cosRank(emb, probes, topK = 20)
          .join(emb.select(col("vec_id").as("id"), col("label")), "id")
          .withColumn("lab_rn", row_number().over(wLab)).where("lab_rn = 1")
          .withColumn("div_rank", row_number().over(wDiv)).where("div_rank <= 3")
          .select("p_id", "div_rank", "id", "label", "cos_rank")
          .orderBy("p_id", "div_rank")
      },
      Some(s"WITH $oProbes, ${oCosRank(20)}, " +
        "lb AS (SELECT cr.p_id, cr.id, e.label, CAST(cr.cos_rank AS INTEGER) AS cos_rank, " +
        "row_number() OVER (PARTITION BY cr.p_id, e.label ORDER BY cr.cos_rank) AS lab_rn " +
        "FROM cr JOIN embeddings e ON cr.id = e.vec_id) " +
        "SELECT p_id, CAST(div_rank AS INTEGER) AS div_rank, id, label, cos_rank FROM (" +
        "SELECT p_id, id, label, cos_rank, " +
        "row_number() OVER (PARTITION BY p_id ORDER BY cos_rank, id) AS div_rank " +
        "FROM lb WHERE lab_rn = 1) WHERE div_rank <= 3 ORDER BY p_id, div_rank")),
  )

  /** DuckDB replay of one PQ subspace: slice, 2 fixed-point Lloyd
    * iterations seeded from the first-8 vectors (the exact
    * AnnIndex.train recipe on the 16-dim slice), final assignment, and
    * the per-vector 1e8 fixed-point quantization error sum. Terminal
    * CTE: `r<m>(n_vectors, sum_qerr_fp)`.
    */
  /** 16-dim squared-L2 fold (DuckDB), `c` already DOUBLE. */
  private def oPqD2(e: String, c: String): String =
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 17), t -> " +
      s"(CAST($e[t] AS DOUBLE) - $c[t]) * (CAST($e[t] AS DOUBLE) - $c[t]))), (x, y) -> x + y)"

  private def oPqSubspace(m: Int): String = {
    val off = 16 * m
    def d2(e: String, c: String) = oPqD2(e, c)
    def iter(i: Int, prev: String) =
      s"pa${m}_$i AS (SELECT e.vec_id, e.sub, c.c_id, ${d2("e.sub", "c.c_vec")} AS d2 " +
        s"FROM se$m e, $prev c), " +
        s"pb${m}_$i AS (SELECT vec_id, sub, c_id, " +
        s"row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_id) AS rn FROM pa${m}_$i), " +
        s"pm${m}_$i AS (SELECT c_id, sub FROM pb${m}_$i WHERE rn = 1), " +
        s"ps${m}_$i AS (SELECT c_id, t.range AS pos, " +
        s"CAST(floor(CAST(sub[t.range] AS DOUBLE) * 10000) AS BIGINT) AS fp FROM pm${m}_$i, range(1, 17) t), " +
        s"pg${m}_$i AS (SELECT c_id, pos, CAST(SUM(fp) AS BIGINT) AS s, count(*) AS cnt FROM ps${m}_$i GROUP BY 1, 2), " +
        s"ph${m}_$i AS (SELECT c_id, max(cnt) AS n, list(s ORDER BY pos) AS ss FROM pg${m}_$i GROUP BY c_id), " +
        s"pc${m}_$i AS (SELECT c_id, n, list_transform(ss, x -> CAST(x AS DOUBLE) / (10000.0 * n)) AS c_vec FROM ph${m}_$i)"
    s"se$m AS (SELECT vec_id, list_slice(embedding, ${off + 1}, ${off + 16}) AS sub FROM embeddings), " +
      s"pc${m}_0 AS (SELECT vec_id AS c_id, list_transform(sub, x -> CAST(x AS DOUBLE)) AS c_vec " +
      s"FROM se$m WHERE vec_id < 8), " +
      iter(1, s"pc${m}_0") + ", " + iter(2, s"pc${m}_1") + ", " +
      s"fq$m AS (SELECT vec_id, d2 FROM (SELECT e.vec_id, " +
      s"row_number() OVER (PARTITION BY e.vec_id ORDER BY ${d2("e.sub", "c.c_vec")}, c.c_id) AS rn, " +
      s"${d2("e.sub", "c.c_vec")} AS d2 FROM se$m e, pc${m}_2 c) WHERE rn = 1), " +
      s"r$m AS (SELECT CAST(count(*) AS BIGINT) AS n_vectors, " +
      s"CAST(coalesce(SUM(CAST(floor(d2 * 100000000) AS BIGINT)), 0) AS BIGINT) AS sum_qerr_fp FROM fq$m)"
  }
}
