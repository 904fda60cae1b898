package graft.ops

import graft.{Op, Tables => T}
import graft.Tables.{ranked, topK}
import graft.api.AnnIndex
import graft.api.AnnIndex.{FullScan, LabelCell, LshBucket, candidates, cosine, probePanel,
  recallAt5, topCosine}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** LLM embedding operators: similarity search (brute-force top-k,
  * k-NN join, IVF and LSH ANN, product quantization), k-means, PCA and
  * whitening, retrieval and its evaluation, and the linear classifiers.
  * Each search is a choice of parameters on the [[graft.api.AnnIndex]]
  * core: probe panel, candidate generator, score and top-k.
  *
  * Float parity: cosine similarity is an explicit sequential left fold in
  * DOUBLE on both engines (`cosine_sim` / [[LlmOps.oSim]]).
  */
object LlmVectors {

  /** DuckDB margin + quantized-sigmoid CTEs for logreg iteration `k`
    * reading weights from `wRef`: emits `m$k` and `s$k`. The arithmetic
    * mirrors [[graft.api.Models.logregTrain]] expression by expression
    * (same fold order, same clamp, same 1e-6 quantization with the
    * same eps guard).
    */
  private def oLogregMS(k: Int, wRef: String): String =
    s"m$k AS (SELECT y, xq, list_reduce(list_prepend(0.0, list_transform(range(1, 65), " +
      s"j -> w[j] * CAST(xq[j] AS DOUBLE))), (a, b) -> a + b) AS m FROM e, $wRef), " +
      s"s$k AS (SELECT y, xq, CAST(floor(1.0 / (1.0 + exp(-greatest(-30.0, least(30.0, m)))) " +
      s"* 1000000.0 + 0.000000001) AS BIGINT) AS s_fp FROM m$k)"

  /** Gradient + weight-update CTEs for logreg iteration `k`: integer
    * gradient sums (order-independent), then the identical IEEE update
    * tree `w[j] - 5.0 * (g[j] / (1e10 * n))`.
    */
  private def oLogregGW(k: Int, wRef: String): String =
    s"g$k AS (SELECT list(gs ORDER BY j) AS g FROM (SELECT j, " +
      s"SUM((s_fp - y * 1000000) * xq[j]) AS gs FROM s$k, range(1, 65) t(j) GROUP BY j)), " +
      s"w$k AS (SELECT list_transform(range(1, 65), " +
      s"j -> w[j] - 5.0 * (CAST(g[j] AS DOUBLE) / (10000000000.0 * n))) AS w FROM $wRef, g$k, nn)"

  /** Shared DuckDB training chain for the logreg family: quantized
    * features, three GD iterations ending in `w3` (plus `e`, `nn`).
    */
  private val oLogregChain: String =
    "WITH e AS (SELECT CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y, " +
      "list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS xq " +
      "FROM embeddings), " +
      "nn AS (SELECT count(*) AS n FROM e), " +
      "w0 AS (SELECT list_transform(range(1, 65), j -> 0.0) AS w), " +
      oLogregMS(1, "w0") + ", " + oLogregGW(1, "w0") + ", " +
      oLogregMS(2, "w1") + ", " + oLogregGW(2, "w1") + ", " +
      oLogregMS(3, "w2") + ", " + oLogregGW(3, "w2")

  /** DuckDB CTEs for one power iteration `k` reading `v${k-1}`: the
    * floor-quantized projection, the integer component sums, then the
    * IEEE sqrt/divide normalization — mirroring
    * [[graft.api.Models.pcaPower]] expression by expression.
    */
  private def oPcaIter(k: Int): String =
    s"p$k AS (SELECT xq, CAST(floor(list_reduce(list_prepend(0.0, list_transform(range(1, 65), " +
      s"j -> v[j] * CAST(xq[j] AS DOUBLE))), (a, b) -> a + b) + 0.000001) AS BIGINT) AS s_fp " +
      s"FROM e, v${k - 1}), " +
      s"u$k AS (SELECT list(us ORDER BY j) AS u FROM (SELECT j, SUM(s_fp * xq[j]) AS us " +
      s"FROM p$k, range(1, 65) t(j) GROUP BY j)), " +
      s"n$k AS (SELECT u, sqrt(list_reduce(list_prepend(0.0, list_transform(u, " +
      s"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) AS nrm FROM u$k), " +
      s"v$k AS (SELECT list_transform(range(1, 65), j -> CAST(u[j] AS DOUBLE) / nrm) AS v, nrm FROM n$k)"

  /** The BM25 query panel: (q_id, term) over the corpus vocabulary —
    * one literal shared by the Spark side and the oracle's UNION ALL.
    */
  private[graft] val bm25Queries: Seq[(Long, String)] = Seq(
    1L -> "hash", 1L -> "join", 1L -> "table",
    2L -> "stream", 2L -> "window", 2L -> "batch",
    3L -> "vector", 3L -> "scan", 3L -> "filter")

  // ---- shared retrieval building blocks (llm_rrf_fusion,
  // llm_retrieval_eval): the exact embedding-cosine ranking and the
  // token-overlap ranking over the embedded corpus, both over the
  // md5-ordered 4-probe panel (`probePanel(emb, 4)`). ONE definition
  // each, so the eval op always measures exactly the rankings the
  // fusion op fuses.

  /** Exact cosine top-k per probe: (p_id, id, cos_rank). */
  private def cosRank(emb: DataFrame, probes: DataFrame, k: Int): DataFrame =
    topCosine(candidates(emb, probes, FullScan), k, "cos_rank")
      .select(col("p_id"), col("vec_id").as("id"), col("cos_rank"))

  /** Token-overlap top-k per probe over the EMBEDDED corpus (docs
    * carrying a vector, doc_id = vec_id convention): (p_id, id,
    * tok_rank). The probe panel's tokens broadcast, so the ranking is
    * one pass over the token index.
    */
  private def tokRank(s: org.apache.spark.sql.SparkSession, d: String,
      emb: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val toks = T.spread(T.t(s, d, "documents"))
      .join(emb.select(col("vec_id").as("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        explode(expr("array_distinct(split(lower(text), ' '))")).as("tok"))
    val probeToks = toks
      .join(broadcast(probes.select("p_id")), col("doc_id") === col("p_id"))
      .select("p_id", "tok")
    topK(toks.join(broadcast(probeToks), "tok")
        .where("doc_id <> p_id")
        .groupBy("p_id", "doc_id").agg(count(lit(1)).as("overlap")),
      Seq("p_id"), Seq(desc("overlap"), col("doc_id")), k, "tok_rank")
      .select(col("p_id"), col("doc_id").as("id"), col("tok_rank"))
  }

  /** DuckDB twins: probe panel, cosine ranking, token ranking. */
  private val oProbes: String =
    s"pp AS (SELECT vec_id AS p_id, embedding AS p_emb FROM embeddings ${AnnIndex.oProbePanel(4)})"

  private def oCosRank(topK: Int): String =
    "cr AS (SELECT p_id, id, cos_rank FROM (" +
      "SELECT pp.p_id, e.vec_id AS id, row_number() OVER (PARTITION BY pp.p_id " +
      s"ORDER BY ${LlmOps.oSim("e.embedding", "pp.p_emb")} DESC, e.vec_id) AS cos_rank " +
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

  val ops: Seq[Op] = Seq(

    Op("llm_similarity_topk",
      (s, d) => {
        val emb = T.t(s, d, "embeddings")
        val probe = emb.where("vec_id = 0").select(col("embedding").as("p_emb"))
        candidates(T.spread(emb), probe, FullScan, col("vec_id") =!= 0)
          .withColumn("sim", cosine())
          .select("vec_id", "sim")
          .orderBy(desc("sim"), col("vec_id"))
          .limit(10)
      },
      Some("WITH p AS (SELECT embedding AS p_emb FROM embeddings WHERE vec_id = 0) " +
        s"SELECT vec_id, ${LlmOps.oSim("embedding", "p_emb")} AS sim " +
        "FROM embeddings, p WHERE vec_id <> 0 ORDER BY sim DESC, vec_id LIMIT 10")),

    Op("llm_knn_join",
      (s, d) => {
        val emb = T.t(s, d, "embeddings")
        val probes = emb.where("vec_id < 5")
          .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
        topK(candidates(emb, probes, FullScan, col("vec_id") =!= col("probe_id"))
            .withColumn("sim", cosine())
            .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("sim")),
          Seq("probe_id"), Seq(desc("sim"), col("neighbor_id")), 3)
          .orderBy("probe_id", "rn")
      },
      Some("SELECT * FROM (SELECT probe_id, neighbor_id, sim, " +
        "CAST(row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rn " +
        "FROM (SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id, " +
        s"${LlmOps.oSim("e.embedding", "p.embedding")} AS sim " +
        "FROM embeddings e, (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5) p " +
        "WHERE e.vec_id <> p.vec_id)) WHERE rn <= 3 ORDER BY probe_id, rn")),

    // IVF-style ANN: search only the probe's coarse bucket (label stands in
    // for the centroid assignment), i.e. partition-pruned similarity.
    Op("llm_ann_ivf",
      (s, d) => {
        val emb = T.t(s, d, "embeddings")
        val probe = emb.where("vec_id = 0")
          .select(col("embedding").as("p_emb"), col("label").as("p_label"))
        candidates(emb, probe, LabelCell, col("vec_id") =!= 0)
          .withColumn("sim", cosine())
          .select("vec_id", "label", "sim")
          .orderBy(desc("sim"), col("vec_id"))
          .limit(5)
      },
      Some("WITH p AS (SELECT embedding AS p_emb, label AS p_label FROM embeddings WHERE vec_id = 0) " +
        s"SELECT vec_id, label, ${LlmOps.oSim("embedding", "p_emb")} AS sim " +
        "FROM embeddings, p WHERE label = p_label AND vec_id <> 0 " +
        "ORDER BY sim DESC, vec_id LIMIT 5")),

    // LSH-bucketed ANN: 8 deterministic integer-valued random hyperplanes
    // -> 8-bit sign bucket; the probe is searched only against its own
    // bucket. The 100 TB shape: bucketing is a narrow map, candidate scan
    // is one partition-pruned hash lookup, never a global cross join.
    Op("llm_ann_lsh",
      (s, d) => {
        val withSig = T.spread(T.t(s, d, "embeddings")).withColumn("bsig", expr(AnnIndex.bsig))
        val probe = withSig.where("vec_id = 0")
          .select(col("embedding").as("p_emb"), col("bsig").as("p_sig"))
        candidates(withSig, probe, LshBucket(0), col("vec_id") =!= 0)
          .withColumn("sim", cosine())
          .select("vec_id", "bsig", "sim")
          .orderBy(desc("sim"), col("vec_id"))
          .limit(5)
      },
      Some(s"WITH ${AnnIndex.oLshSig}, " +
        "p AS (SELECT embedding AS p_emb, bsig AS p_sig FROM s WHERE vec_id = 0) " +
        s"SELECT vec_id, bsig, ${LlmOps.oSim("embedding", "p_emb")} AS sim " +
        "FROM s, p WHERE bsig = p_sig AND vec_id <> 0 ORDER BY sim DESC, vec_id LIMIT 5")),

    // two-stage ANN: multi-probe LSH (the probe's bucket PLUS the 8
    // buckets at Hamming distance 1 — recall recovered without widening
    // any single bucket) -> exact cosine re-rank of the candidate union
    // -> top-5. Each vector lands in exactly one candidate bucket, so the
    // union needs no dedup; at 100 TB the candidate scan stays one
    // bucket-pruned lookup per probe bucket and the quadratic term never
    // appears.
    Op("llm_ann_refine",
      (s, d) => {
        val withSig = T.spread(T.t(s, d, "embeddings")).withColumn("bsig", expr(AnnIndex.bsig))
        val probe = withSig.where("vec_id = 0")
          .select(col("embedding").as("p_emb"), col("bsig").as("p_sig"))
        candidates(withSig, probe, LshBucket(1), col("vec_id") =!= 0)
          .withColumn("sim", cosine())
          .select("vec_id", "bsig", "sim")
          .orderBy(desc("sim"), col("vec_id"))
          .limit(5)
      },
      Some(s"WITH ${AnnIndex.oLshSig}, " +
        s"p AS (SELECT embedding AS p_emb, unnest(${AnnIndex.oHamming1("bsig")}) AS cand_sig " +
        "FROM s WHERE vec_id = 0) " +
        s"SELECT vec_id, bsig, ${LlmOps.oSim("embedding", "p_emb")} AS sim " +
        "FROM s, p WHERE bsig = cand_sig AND vec_id <> 0 ORDER BY sim DESC, vec_id LIMIT 5")),

    // kmeans TRAINED for 3 Lloyd iterations (llm_kmeans_step is one):
    // the whole loop unrolls into a single declarative plan — per
    // iteration a broadcast-assignment (cross join against <= 10 tiny
    // centroids, argmin window) and a two-level centroid rebuild
    // (posexplode -> per-(cluster, dim) fixed-point integer sums ->
    // array reassembly), so every arithmetic step is order-independent
    // and both engines produce bit-identical centroids. New centroid
    // component = floor-scaled integer sum / (10^4 · n): an exact
    // rational, hence the same double everywhere. Clusters that lose all
    // members drop out on both engines.
    Op("llm_kmeans_train",
      (s, d) => AnnIndex.trainFor(s, d, k = 10, iters = 3)
        .select(col("c_id"), col("n"),
          expr("element_at(c_vec, 1)").as("c1"),
          expr("element_at(c_vec, 2)").as("c2"))
        .orderBy("c_id"),
      Some(AnnIndex.oKmeansTrainedPrefix +
        " SELECT c_id, n, c_vec[1] AS c1, c_vec[2] AS c2 FROM c3 ORDER BY c_id")),

    // one Lloyd/k-means iteration (the IVF coarse-quantizer training
    // primitive): assign every vector to its nearest of 10 deterministic
    // seed centroids (squared L2, sequential fold), then recompute each
    // centroid per dimension. Seeds are bounded -> broadcast; assignment
    // is a map stage; the update is one groupBy over (cluster, dim).
    // Centroid sums go through floor(x*1e4) fixed-point so the
    // cross-partition/engine accumulation is exact-integer.
    Op("llm_kmeans_step",
      (s, d) => {
        LlmOps.kmeansAssign(s, d)
          .select(col("c_id"), posexplode(col("embedding")))
          .groupBy("c_id", "pos")
          .agg(
            sum(expr("CAST(floor(CAST(col AS DOUBLE) * 10000) AS BIGINT)")).as("c_fp"),
            count(lit(1)).as("n"))
          .select(col("c_id"), col("pos").cast("int").as("pos"),
            col("c_fp"), col("n"),
            // exact-integer / exact-integer double division (rule 12):
            // bit-identical in both engines. round(double, 3) here sat on
            // .0005 boundaries and diverged in the driver's DuckDB build
            // (CORRECTNESS_r01 hash_match=false) — never reintroduce it.
            (col("c_fp") / (col("n") * lit(10000L))).as("centroid"))
          .orderBy("c_id", "pos")
      },
      Some(LlmOps.oKmeansAssign +
        ", c AS (SELECT c_id, embedding, unnest(range(1, len(embedding) + 1)) AS i FROM m) " +
        "SELECT c_id, CAST(i - 1 AS INTEGER) AS pos, " +
        "CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT)) AS BIGINT) AS c_fp, " +
        "count(*) AS n, " +
        "CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT)) AS BIGINT) " +
        "/ (count(*) * 10000) AS centroid " +
        "FROM c GROUP BY c_id, i ORDER BY c_id, pos")),

    // symmetric int8 quantization of embeddings (4x memory cut for ANN
    // serving): per-vector scale = max|x|/127, elements floored to int8
    // range (floor, not round — identical rounding on both engines), plus
    // the sequential-fold reconstruction error. Pure per-row map stage.
    Op("llm_embedding_quantize",
      (s, d) => T.t(s, d, "embeddings")
        .withColumn("maxabs", expr(
          "aggregate(embedding, CAST(0 AS DOUBLE), (acc, v) -> greatest(acc, abs(CAST(v AS DOUBLE))))"))
        .where("maxabs > 0")
        .withColumn("scale", expr("maxabs / 127.0"))
        .withColumn("q", expr(
          "transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) / scale) AS INT))"))
        .select(col("vec_id"), col("scale"),
          expr("element_at(q, 1)").as("q1"),
          expr("aggregate(q, CAST(0 AS BIGINT), (acc, x) -> acc + CAST(x AS BIGINT))").as("q_sum"),
          expr("aggregate(zip_with(embedding, q, (x, qq) -> " +
            "abs(CAST(x AS DOUBLE) - CAST(qq AS DOUBLE) * scale)), CAST(0 AS DOUBLE), " +
            "(acc, v) -> acc + v)").as("err"))
        .orderBy("vec_id"),
      Some("WITH t AS (SELECT vec_id, embedding, " +
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        "list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))), " +
        "(a, b) -> greatest(a, b)) AS maxabs FROM embeddings), " +
        "u AS (SELECT vec_id, embedding, maxabs / 127.0 AS scale, " +
        "list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) / (maxabs / 127.0)) AS INTEGER)) AS q " +
        "FROM t WHERE maxabs > 0) " +
        "SELECT vec_id, scale, q[1] AS q1, " +
        "list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(q, x -> CAST(x AS BIGINT))), " +
        "(a, b) -> a + b) AS q_sum, " +
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        "list_transform(range(1, len(embedding) + 1), i -> " +
        "abs(CAST(embedding[i] AS DOUBLE) - CAST(q[i] AS DOUBLE) * scale))), " +
        "(a, b) -> a + b) AS err " +
        "FROM u ORDER BY vec_id")),

    // hard-negative mining for retrieval training: for each probe
    // vector, the top-3 most similar vectors with a DIFFERENT label —
    // near-misses that teach an embedding model the decision boundary.
    // Probes broadcast; the corpus is scanned once; per-probe top-k via
    // window (bounded: 3 probes). The filter is label-based, so the
    // candidate set never includes same-class vectors.
    Op("llm_hard_negatives",
      (s, d) => {
        val emb = T.t(s, d, "embeddings")
        val probes = emb.where("vec_id < 3")
          .select(col("vec_id").as("p_id"), col("embedding").as("p_emb"),
            col("label").as("p_label"))
        topCosine(candidates(emb, probes, FullScan, col("label") =!= col("p_label")), 3)
          .select(col("p_id"), expr("CAST(rn AS INT)").as("rn"),
            col("vec_id").as("neg_id"), col("label").as("neg_label"), col("sim"))
          .orderBy("p_id", "rn")
      },
      Some("WITH p AS (SELECT vec_id AS p_id, embedding AS p_emb, label AS p_label " +
        "FROM embeddings WHERE vec_id < 3) " +
        "SELECT p_id, CAST(rn AS INTEGER) AS rn, neg_id, neg_label, sim FROM (" +
        s"SELECT p_id, e.vec_id AS neg_id, e.label AS neg_label, ${LlmOps.oSim("e.embedding", "p_emb")} AS sim, " +
        "row_number() OVER (PARTITION BY p_id ORDER BY " +
        s"${LlmOps.oSim("e.embedding", "p_emb")} DESC, e.vec_id) AS rn " +
        "FROM embeddings e, p WHERE e.label <> p.p_label) WHERE rn <= 3 ORDER BY p_id, rn")),

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
        val emb = T.spread(T.t(s, d, "embeddings")).withColumn("bsig", expr(AnnIndex.bsig))
        val probes = probePanel(emb, 32, col("bsig").as("p_sig"))
        // multi-probe candidates: the probe's own bucket plus all 8
        // Hamming-1 buckets — audits the same candidate generation the
        // production llm_ann_refine index uses
        recallAt5(emb, probes,
          topCosine(candidates(emb, probes, LshBucket(1)), 5))
      },
      Some(s"WITH ${AnnIndex.oLshSig}, " +
        s"p AS (SELECT vec_id AS p_id, embedding AS p_emb, bsig AS p_sig FROM s ${AnnIndex.oProbePanel(32)}), " +
        AnnIndex.oRecallAt5(AnnIndex.oTop5("e", "p", "p_emb", "s, p WHERE s.vec_id <> p.p_id"),
          "pv AS (SELECT p_id, p_emb, unnest(list_prepend(p_sig, " +
            "list_transform(range(0, 8), i -> xor(p_sig, (1 << i))))) AS p_probe FROM p), " +
            AnnIndex.oTop5("a", "pv", "p_emb", "s JOIN pv ON s.bsig = pv.p_probe AND s.vec_id <> pv.p_id")))),

    // IVF recall audit over the same 32-probe panel as the LSH one: the
    // IVF index prunes the search to the probe's own cell (= label
    // partition, as llm_ann_ivf does), so its recall@5 against the exact
    // global top-5 measures how much the cell boundary costs. With the
    // LSH audit this completes the evaluation pair: every ANN index in
    // the engine has a recall distribution, not a single anecdote.
    Op("llm_ann_ivf_recall_audit",
      (s, d) => {
        val emb = T.spread(T.t(s, d, "embeddings"))
        val probes = probePanel(emb, 32, col("label").as("p_label"))
        recallAt5(emb, probes,
          topCosine(candidates(emb, probes, LabelCell), 5))
      },
      Some("WITH p AS (SELECT vec_id AS p_id, embedding AS p_emb, label AS p_label " +
        s"FROM embeddings ${AnnIndex.oProbePanel(32)}), " +
        AnnIndex.oRecallAt5(AnnIndex.oTop5("e", "p", "p_emb", "embeddings s, p WHERE s.vec_id <> p.p_id"),
          AnnIndex.oTop5("a", "p", "p_emb", "embeddings s JOIN p ON s.label = p.p_label AND s.vec_id <> p.p_id")))),

    // IVF search over the TRAINED index: nearest-2-cells candidate scan
    // + exact cosine re-rank, all through graft.api.AnnIndex — the same
    // functions the persistent build/update/searchIndex path runs, so
    // this oracle-checked query covers the production index. At 100 TB
    // the candidate scan is a partition-pruned read of nProbe cells
    // (assignments are written partitionBy(c_id)); nothing here touches
    // more than centroids (broadcast) + the probe's cells.
    Op("llm_ann_ivf_trained",
      (s, d) => {
        val emb = T.spread(T.t(s, d, "embeddings"))
        val cent = AnnIndex.trainFor(s, d, k = 10, iters = 3)
        val assigned = AnnIndex.assign(emb, cent)
        val probes = emb.where("vec_id = 0")
          .select(col("vec_id").as("p_id"), col("embedding").as("p_emb"))
        AnnIndex.search(assigned, cent, probes, k = 5, nProbe = 2)
          .select("vec_id", "c_id", "sim")
          .orderBy(desc("sim"), col("vec_id"))
      },
      Some(AnnIndex.oTrainedAssign +
        ", p AS (SELECT embedding AS p_emb FROM embeddings WHERE vec_id = 0), " +
        s"pd AS (SELECT c.c_id, ${AnnIndex.oD2("p.p_emb")} AS d2 FROM c3 c, p), " +
        "pc AS (SELECT c_id FROM (SELECT c_id, row_number() OVER (ORDER BY d2, c_id) AS rn FROM pd) WHERE rn <= 2) " +
        "SELECT vec_id, c_id, sim FROM (SELECT s.vec_id, s.c_id, " +
        s"${LlmOps.oSim("s.embedding", "p_emb")} AS sim " +
        "FROM asg s JOIN pc USING (c_id), p WHERE s.vec_id <> 0) " +
        "ORDER BY sim DESC, vec_id LIMIT 5")),

    // Recall audit of the trained index over the standard 32-probe
    // panel (same panel as the LSH and label-IVF audits): recall@5 of
    // the nProbe=2 trained-cell search against the exact global top-5.
    // Completes verdict #3 — every ANN index in the engine, including
    // the production one, has a measured recall distribution.
    Op("llm_ann_ivf_trained_recall",
      (s, d) => {
        val emb = T.spread(T.t(s, d, "embeddings"))
        val cent = AnnIndex.trainFor(s, d, k = 10, iters = 3)
        val assigned = AnnIndex.assign(emb, cent)
        val probes = probePanel(emb, 32)
        recallAt5(emb, probes,
          AnnIndex.search(assigned, cent, probes, k = 5, nProbe = 2))
      },
      Some(AnnIndex.oTrainedAssign +
        s", pp AS (SELECT vec_id AS p_id, embedding AS p_emb FROM embeddings ${AnnIndex.oProbePanel(32)}), " +
        s"pd AS (SELECT pp.p_id, pp.p_emb, c.c_id, ${AnnIndex.oD2("pp.p_emb")} AS d2 FROM c3 c, pp), " +
        "pc AS (SELECT p_id, p_emb, c_id FROM (SELECT p_id, p_emb, c_id, " +
        "row_number() OVER (PARTITION BY p_id ORDER BY d2, c_id) AS rn FROM pd) WHERE rn <= 2), " +
        AnnIndex.oRecallAt5(AnnIndex.oTop5("e", "pp", "pp.p_emb", "embeddings s, pp WHERE s.vec_id <> pp.p_id"),
          AnnIndex.oTop5("a", "pc", "pc.p_emb", "asg s JOIN pc ON s.c_id = pc.c_id AND s.vec_id <> pc.p_id")))),

    // Embedding mean-centering (the whitening first step SemDeDup-style
    // pipelines run before cosine comparisons): per-dimension corpus
    // means via the same floor-scaled integer sums as the k-means
    // rebuild (exact rationals, bit-identical across engines), then one
    // broadcast map subtracts them. Output: first two centered dims +
    // the fixed-point centered norm.
    Op("llm_embedding_center",
      (s, d) => {
        val emb = T.spread(T.t(s, d, "embeddings"))
        val means = emb.select(posexplode(col("embedding")).as(Seq("pos", "x")))
          .groupBy("pos")
          .agg(sum(expr("CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)")).as("sx"),
            count(lit(1)).as("n"))
          .agg(expr("array_sort(collect_list(struct(pos, sx, n)))").as("ss"))
          .select(expr("transform(ss, e -> CAST(e.sx AS DOUBLE) / (10000.0 * e.n))")
            .as("mean_vec"))
        emb.crossJoin(broadcast(means))
          .select(col("vec_id"),
            expr("CAST(element_at(embedding, 1) AS DOUBLE) - element_at(mean_vec, 1)").as("c1"),
            expr("CAST(element_at(embedding, 2) AS DOUBLE) - element_at(mean_vec, 2)").as("c2"),
            expr(s"CAST(floor(${AnnIndex.d2("embedding", "mean_vec")} * 10000 + 0.000001) AS BIGINT)")
              .as("cnorm2_fp"))
          .orderBy("vec_id")
      },
      Some("WITH s AS (SELECT t.range AS pos, " +
        "CAST(SUM(CAST(floor(CAST(embedding[t.range] AS DOUBLE) * 10000) AS BIGINT)) AS BIGINT) AS sx, " +
        "count(*) AS n FROM embeddings, range(1, 65) t GROUP BY pos), " +
        "m AS (SELECT list(CAST(sx AS DOUBLE) / (10000.0 * n) ORDER BY pos) AS mean_vec FROM s) " +
        "SELECT vec_id, CAST(embedding[1] AS DOUBLE) - mean_vec[1] AS c1, " +
        "CAST(embedding[2] AS DOUBLE) - mean_vec[2] AS c2, " +
        "CAST(floor(list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        "list_transform(range(1, 65), i -> (CAST(embedding[i] AS DOUBLE) - mean_vec[i]) * " +
        "(CAST(embedding[i] AS DOUBLE) - mean_vec[i]))), (a, v) -> a + v) * 10000 + 0.000001) AS BIGINT) AS cnorm2_fp " +
        "FROM embeddings, m ORDER BY vec_id")),

    // Spectral health of the embedding space — dominant principal
    // direction by power iteration (graft.api.Models.pcaPower): the
    // check run before trusting a cosine-similarity index or IVF
    // clustering built on these vectors (a collapsed dominant
    // direction means mean-centering/whitening is overdue). Same
    // determinism scheme as llm_logreg_train: integer-quantized
    // projections make every cross-row sum order-independent, and the
    // oracle replays all three iterations bit-for-bit.
    Op("llm_embedding_pca",
      (s, d) => {
        val (v, nrm) = graft.api.Models.pcaPower(T.t(s, d, "embeddings"))
        import s.implicits._
        def fp(x: Double): Long =
          math.floor(x * 100000000.0 + 0.000000001).toLong
        Seq((math.floor(nrm + 0.000001).toLong,
            fp(v(0)), fp(v(1)), fp(v(2)), fp(v(3)),
            fp(v(4)), fp(v(5)), fp(v(6)), fp(v(7))))
          .toDF("norm_fp",
            "v1_fp", "v2_fp", "v3_fp", "v4_fp",
            "v5_fp", "v6_fp", "v7_fp", "v8_fp")
      },
      Some("WITH e AS (SELECT list_transform(embedding, " +
        "v -> CAST(floor(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS xq FROM embeddings), " +
        "v0 AS (SELECT list_transform(range(1, 65), j -> 0.125) AS v), " +
        oPcaIter(1) + ", " + oPcaIter(2) + ", " + oPcaIter(3) + " " +
        "SELECT CAST(floor(nrm + 0.000001) AS BIGINT) AS norm_fp, " +
        (1 to 8).map(i =>
          s"CAST(floor(v[$i] * 100000000.0 + 0.000000001) AS BIGINT) AS v${i}_fp")
          .mkString(", ") +
        " FROM v3")),

    // Distributed quality-classifier training — full-batch GD logistic
    // regression on the embeddings (y = label >= 5), the fastText-style
    // "train a filter, then gate the corpus" loop. All cross-row math
    // is integer sums over quantized values (deterministic under any
    // partitioning; the oracle replays training bit-for-bit), weights
    // live on the driver between iterations (treeAggregate shape: one
    // 64-column map-side-combined agg per iteration, no wide shuffle).
    Op("llm_logreg_train",
      (s, d) => {
        val (w, n, nCorrect) = graft.api.Models.logregTrainFor(s, d)
        import s.implicits._
        def fp(x: Double): Long =
          math.floor(x * 100000000.0 + 0.000000001).toLong
        Seq((n, nCorrect, nCorrect.toDouble / n,
            fp(w(0)), fp(w(1)), fp(w(2)), fp(w(3)),
            fp(w(4)), fp(w(5)), fp(w(6)), fp(w(7))))
          .toDF("n", "n_correct", "acc",
            "w1_fp", "w2_fp", "w3_fp", "w4_fp",
            "w5_fp", "w6_fp", "w7_fp", "w8_fp")
      },
      Some(oLogregChain + ", " +
        oLogregMS(4, "w3") + ", " +
        "acc_t AS (SELECT CAST(SUM(CASE WHEN (s_fp >= 500000) = (y = 1) THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_correct FROM s4) " +
        "SELECT n, n_correct, CAST(n_correct AS DOUBLE) / n AS acc, " +
        (1 to 8).map(i =>
          s"CAST(floor(w[$i] * 100000000.0 + 0.000000001) AS BIGINT) AS w${i}_fp")
          .mkString(", ") +
        " FROM nn, acc_t, w3")),

    // The full train-then-gate loop: the classifier llm_logreg_train
    // fits is applied back to EVERY vector (same shared scoring
    // expression — apply cannot drift from train), and the gate report
    // shows per-label pass rates: which strata survive the quality
    // filter before it runs over 100 TB. Scoring is one broadcast-free
    // map stage (weights travel as 64 literals inside the codegen'd
    // expression); the report is one tiny agg.
    Op("llm_quality_classifier_gate",
      (s, d) => {
        val emb = T.t(s, d, "embeddings")
        val (w, _, _) = graft.api.Models.logregTrainFor(s, d)
        emb.select(col("label"), graft.api.Models.xq.as("xq"))
          .withColumn("s_fp", graft.api.Models.sigmoidFp(w))
          .groupBy("label")
          .agg(count(lit(1)).as("n"),
            sum(when(col("s_fp") >= 500000L, 1L).otherwise(0L)).as("n_pass"))
          .withColumn("pass_rate", expr("CAST(n_pass AS DOUBLE) / n"))
          .orderBy("label")
      },
      Some(oLogregChain + ", " +
        "e2 AS (SELECT label, list_transform(embedding, " +
        "v -> CAST(floor(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS xq FROM embeddings), " +
        "sc AS (SELECT label, CAST(floor(1.0 / (1.0 + exp(-greatest(-30.0, least(30.0, m)))) " +
        "* 1000000.0 + 0.000000001) AS BIGINT) AS s_fp FROM " +
        "(SELECT label, list_reduce(list_prepend(0.0, list_transform(range(1, 65), " +
        "j -> w[j] * CAST(xq[j] AS DOUBLE))), (a, b) -> a + b) AS m FROM e2, w3)) " +
        "SELECT label, count(*) AS n, " +
        "CAST(SUM(CASE WHEN s_fp >= 500000 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass, " +
        "CAST(SUM(CASE WHEN s_fp >= 500000 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS pass_rate " +
        "FROM sc GROUP BY label ORDER BY label")),

    // Per-dimension moment profile of the embedding space — the
    // mean/variance table whitening consumes and the fastest detector
    // of a dead or exploding dimension before an index build. Exact
    // integer sums of quantized values (order-independent), then the
    // identical IEEE mean/var/std expression trees on both engines.
    // One aggregation over 64 posexplode keys; partial aggs keep the
    // shuffle at 64 rows x partitions regardless of corpus size.
    Op("llm_embedding_dim_stats",
      (s, d) => T.t(s, d, "embeddings")
        .select(posexplode(expr(
          "transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 10000) AS BIGINT))"))
          .as(Seq("pos0", "xq")))
        .groupBy(expr("CAST(pos0 + 1 AS BIGINT)").as("pos"))
        .agg(count(lit(1)).as("n"), sum("xq").as("sx"),
          sum(expr("xq * xq")).as("sxx"))
        .withColumn("mean_fp", expr(
          "CAST(floor(CAST(sx AS DOUBLE) / n / 10000.0 * 1000000 + 0.000001) AS BIGINT)"))
        .withColumn("var_fp", expr(
          "CAST(floor((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) " +
            "/ (100000000.0 * n) * 1000000 + 0.000001) AS BIGINT)"))
        .select("pos", "n", "mean_fp", "var_fp")
        .orderBy("pos"),
      Some("WITH e AS (SELECT list_transform(embedding, " +
        "v -> CAST(floor(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS xq FROM embeddings), " +
        "m AS (SELECT j AS pos, count(*) AS n, CAST(SUM(xq[j]) AS BIGINT) AS sx, " +
        "CAST(SUM(xq[j] * xq[j]) AS BIGINT) AS sxx FROM e, range(1, 65) t(j) GROUP BY j) " +
        "SELECT pos, n, " +
        "CAST(floor(CAST(sx AS DOUBLE) / n / 10000.0 * 1000000 + 0.000001) AS BIGINT) AS mean_fp, " +
        "CAST(floor((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) " +
        "/ (100000000.0 * n) * 1000000 + 0.000001) AS BIGINT) AS var_fp " +
        "FROM m ORDER BY pos")),

    // Whitening self-check: standardize every vector with the
    // per-dimension moments (the llm_embedding_dim_stats table as
    // codegen literals — no join), re-profile the WHITENED space and
    // report post-whitening moments, which must sit at mean ~0 /
    // var ~1e6 fixed-point. The composition a pipeline runs to prove
    // its preprocessing actually standardized before an index build.
    // Whitened values re-quantize to integers so the second-pass
    // moment sums stay order-independent; zero-variance (dead) dims
    // guard to sd=1 on both engines. Two scans (stats + re-profile).
    Op("llm_embedding_whiten_check",
      (s, d) => {
        import s.implicits._
        val base = T.t(s, d, "embeddings")
          .select(expr("transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 10000) AS BIGINT))").as("xq"))
        val stats = base
          .select(posexplode(col("xq")).as(Seq("pos0", "x")))
          .groupBy(expr("CAST(pos0 + 1 AS BIGINT)").as("pos"))
          .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum(expr("x * x")).as("sxx"))
          .orderBy("pos").collect()
        if (stats.isEmpty) {
          Seq.empty[(Long, Long, Long)].toDF("pos", "post_mean_fp", "post_var_fp")
        } else {
          val n = stats.head.getLong(1)
          val m = stats.map(r => r.getLong(2).toDouble / n)
          val sd = stats.map { r =>
            val v = (r.getLong(3).toDouble - r.getLong(2).toDouble * r.getLong(2).toDouble / n) / n
            val s0 = math.sqrt(v)
            if (s0 > 0) s0 else 1.0
          }
          // literals straight into the Column tree (exact doubles, no
          // string round-trip, ONE projection instead of 128 chained
          // withColumn analysis passes)
          def wq(j: Int) =
            floor((element_at(col("xq"), j).cast("double") - lit(m(j - 1)))
              / lit(sd(j - 1)) * lit(10000) + lit(0.000001)).cast("long")
          val g = base
            .agg(sum(wq(1)).as("s1"), ((2 to 64).map(j => sum(wq(j)).as(s"s$j")) ++
              (1 to 64).map(j => sum(wq(j) * wq(j)).as(s"q$j"))): _*)
            .head()
          val rows = (1 to 64).map { j =>
            val swq = g.getLong(j - 1)
            val swq2 = g.getLong(64 + j - 1)
            val meanFp = math.floor(swq.toDouble / n / 10000.0 * 1000000 + 0.000001).toLong
            val varFp = math.floor((swq2.toDouble - swq.toDouble * swq.toDouble / n)
              / (100000000.0 * n) * 1000000 + 0.000001).toLong
            (j.toLong, meanFp, varFp)
          }
          rows.toDF("pos", "post_mean_fp", "post_var_fp").orderBy("pos")
        }
      },
      Some("WITH e AS (SELECT list_transform(embedding, " +
        "v -> CAST(floor(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS xq FROM embeddings), " +
        "st0 AS (SELECT j AS pos, count(*) AS n, CAST(SUM(xq[j]) AS BIGINT) AS sx, " +
        "CAST(SUM(xq[j] * xq[j]) AS BIGINT) AS sxx FROM e, range(1, 65) t(j) GROUP BY j), " +
        "st AS (SELECT pos, n, CAST(sx AS DOUBLE) / n AS m, " +
        "CASE WHEN sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / n) > 0 " +
        "THEN sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / n) " +
        "ELSE 1.0 END AS sd FROM st0), " +
        "w AS (SELECT st.pos AS pos, st.n AS n, " +
        "CAST(floor((CAST(xq[j] AS DOUBLE) - m) / sd * 10000 + 0.000001) AS BIGINT) AS wq " +
        "FROM e, range(1, 65) r(j) JOIN st ON st.pos = j), " +
        "p AS (SELECT pos, max(n) AS n, CAST(SUM(wq) AS BIGINT) AS swq, " +
        "CAST(SUM(wq * wq) AS BIGINT) AS swq2 FROM w GROUP BY pos) " +
        "SELECT pos, " +
        "CAST(floor(CAST(swq AS DOUBLE) / n / 10000.0 * 1000000 + 0.000001) AS BIGINT) AS post_mean_fp, " +
        "CAST(floor((CAST(swq2 AS DOUBLE) - CAST(swq AS DOUBLE) * CAST(swq AS DOUBLE) / n) " +
        "/ (100000000.0 * n) * 1000000 + 0.000001) AS BIGINT) AS post_var_fp " +
        "FROM p ORDER BY pos")),

    // Calibration audit of the trained classifier: scores bucketed
    // into deciles, each with count, mean predicted probability (exact
    // integer mean of the quantized score) and the empirical positive
    // rate — the reliability table read before using the scores as
    // sampling weights (a miscalibrated filter silently reweights the
    // corpus). Reuses the shared scoring expression; one agg.
    Op("llm_classifier_calibration",
      (s, d) => {
        val emb = T.t(s, d, "embeddings")
        val (w, _, _) = graft.api.Models.logregTrainFor(s, d)
        emb.select(expr("CASE WHEN label >= 5 THEN 1L ELSE 0L END").as("y"),
            graft.api.Models.xq.as("xq"))
          .withColumn("s_fp", graft.api.Models.sigmoidFp(w))
          .withColumn("bin", expr("least(CAST(9 AS BIGINT), s_fp div 100000)"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n"),
            expr("sum(s_fp) div count(1)").as("mean_score_fp"),
            sum("y").as("n_pos"))
          .withColumn("pos_rate", expr("CAST(n_pos AS DOUBLE) / n"))
          .orderBy("bin")
      },
      Some(oLogregChain + ", " +
        "sc AS (SELECT y, CAST(floor(1.0 / (1.0 + exp(-greatest(-30.0, least(30.0, m)))) " +
        "* 1000000.0 + 0.000000001) AS BIGINT) AS s_fp FROM " +
        "(SELECT y, list_reduce(list_prepend(0.0, list_transform(range(1, 65), " +
        "j -> w[j] * CAST(xq[j] AS DOUBLE))), (a, b) -> a + b) AS m FROM e, w3)) " +
        "SELECT least(CAST(9 AS BIGINT), s_fp // 100000) AS bin, count(*) AS n, " +
        "CAST(SUM(s_fp) AS BIGINT) // count(*) AS mean_score_fp, " +
        "CAST(SUM(y) AS BIGINT) AS n_pos, " +
        "CAST(SUM(y) AS DOUBLE) / count(*) AS pos_rate " +
        "FROM sc GROUP BY 1 ORDER BY bin")),

    // Operating-point sweep for the same classifier: TP/FP/TN/FN and
    // exact precision/recall at five candidate thresholds — the table
    // that picks the gate threshold for a target yield BEFORE the
    // filter runs over the corpus. One scan, one agg per nothing: the
    // thresholds are a 5-row broadcast cross join.
    Op("llm_classifier_roc",
      (s, d) => {
        val emb = T.t(s, d, "embeddings")
        val (w, _, _) = graft.api.Models.logregTrainFor(s, d)
        import s.implicits._
        val th = Seq(300000L, 400000L, 500000L, 600000L, 700000L).toDF("th_fp")
        emb.select(expr("CASE WHEN label >= 5 THEN 1L ELSE 0L END").as("y"),
            graft.api.Models.xq.as("xq"))
          .withColumn("s_fp", graft.api.Models.sigmoidFp(w))
          .crossJoin(broadcast(th))
          .groupBy("th_fp")
          .agg(sum(when(col("s_fp") >= col("th_fp") && col("y") === 1L, 1L).otherwise(0L)).as("tp"),
            sum(when(col("s_fp") >= col("th_fp") && col("y") === 0L, 1L).otherwise(0L)).as("fp"),
            sum(when(col("s_fp") < col("th_fp") && col("y") === 0L, 1L).otherwise(0L)).as("tn"),
            sum(when(col("s_fp") < col("th_fp") && col("y") === 1L, 1L).otherwise(0L)).as("fn"))
          .withColumn("precision_fp", expr("CASE WHEN tp + fp = 0 THEN -1 ELSE tp * 1000000 div (tp + fp) END"))
          .withColumn("recall_fp", expr("CASE WHEN tp + fn = 0 THEN -1 ELSE tp * 1000000 div (tp + fn) END"))
          .orderBy("th_fp")
      },
      Some(oLogregChain + ", " +
        "sc AS (SELECT y, CAST(floor(1.0 / (1.0 + exp(-greatest(-30.0, least(30.0, m)))) " +
        "* 1000000.0 + 0.000000001) AS BIGINT) AS s_fp FROM " +
        "(SELECT y, list_reduce(list_prepend(0.0, list_transform(range(1, 65), " +
        "j -> w[j] * CAST(xq[j] AS DOUBLE))), (a, b) -> a + b) AS m FROM e, w3)), " +
        "th AS (SELECT CAST(th_fp AS BIGINT) AS th_fp FROM (VALUES (300000), (400000), " +
        "(500000), (600000), (700000)) v(th_fp)), " +
        "c AS (SELECT th_fp, " +
        "CAST(SUM(CASE WHEN s_fp >= th_fp AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp, " +
        "CAST(SUM(CASE WHEN s_fp >= th_fp AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp, " +
        "CAST(SUM(CASE WHEN s_fp < th_fp AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn, " +
        "CAST(SUM(CASE WHEN s_fp < th_fp AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn " +
        "FROM sc, th GROUP BY th_fp) " +
        "SELECT th_fp, tp, fp, tn, fn, " +
        "CASE WHEN tp + fp = 0 THEN -1 ELSE (tp * 1000000) // (tp + fp) END AS precision_fp, " +
        "CASE WHEN tp + fn = 0 THEN -1 ELSE (tp * 1000000) // (tp + fn) END AS recall_fp " +
        "FROM c ORDER BY th_fp")),

    // Clustering-quality audit over the TRAINED k-means (same
    // AnnIndex.train the IVF index uses, so this audits the production
    // centroids): per-cluster size, total and mean squared distance to
    // the assigned centroid (the inertia a pipeline tracks to decide
    // k / whether to re-train before building the next IVF index).
    // Distances quantize per row (floor(d2 * 1e4)) so the cross-row
    // sums are exact integers; one broadcast join + one agg.
    Op("llm_kmeans_inertia",
      (s, d) => {
        val emb = T.t(s, d, "embeddings")
        val cent = AnnIndex.trainFor(s, d, k = 10, iters = 3)
        AnnIndex.assign(emb, cent)
          .join(broadcast(cent.select("c_id", "c_vec")), "c_id")
          .withColumn("d2", expr(AnnIndex.d2("embedding")))
          .withColumn("d2_fp", expr("CAST(floor(d2 * 10000 + 0.000001) AS BIGINT)"))
          .groupBy("c_id")
          .agg(count(lit(1)).as("n"), sum("d2_fp").as("inertia_fp"))
          .withColumn("avg_d2_fp", expr("inertia_fp div n"))
          .orderBy("c_id")
      },
      Some(AnnIndex.oKmeansTrainedPrefix + ", " +
        s"a4 AS (SELECT e.vec_id, c.c_id, ${AnnIndex.oD2("e.embedding")} AS d2 " +
        "FROM embeddings e, c3 c), " +
        "b4 AS (SELECT c_id, d2, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_id) AS rn FROM a4), " +
        "w AS (SELECT c_id, CAST(floor(d2 * 10000 + 0.000001) AS BIGINT) AS d2_fp FROM b4 WHERE rn = 1) " +
        "SELECT c_id, count(*) AS n, CAST(SUM(d2_fp) AS BIGINT) AS inertia_fp, " +
        "CAST(SUM(d2_fp) AS BIGINT) // count(*) AS avg_d2_fp " +
        "FROM w GROUP BY c_id ORDER BY c_id")),

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
        topK(post.join(dfreq, "token").join(dl, "doc_id")
          .crossJoin(broadcast(stats))
          .withColumn("term_fp", expr(
            "CAST(floor(ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / " +
              "(CAST(df AS DOUBLE) + 0.5) + 1.0) * " +
              "(CAST(tf AS DOUBLE) * 2.2) / " +
              "(CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / " +
              "(CAST(n_toks AS DOUBLE) / CAST(n_docs AS DOUBLE)))) * 1000000.0) AS BIGINT)"))
            .groupBy("q_id", "doc_id").agg(sum("term_fp").as("score_fp")),
          Seq("q_id"), Seq(desc("score_fp"), col("doc_id")), 3, "rank")
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
        val probes = probePanel(emb, 4).localCheckpoint()
        val cosR = cosRank(emb, probes, 20)
        val tokR = tokRank(s, d, emb, probes, 20)
        topK(cosR.join(tokR, Seq("p_id", "id"), "full_outer")
            .withColumn("rrf_fp", expr(
              "coalesce(1000000000 div (60 + cos_rank), 0) + " +
                "coalesce(1000000000 div (60 + tok_rank), 0)")),
          Seq("p_id"), Seq(desc("rrf_fp"), col("id")), 5, "rank")
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
        val probes = probePanel(emb, 4).localCheckpoint()
        val truth = cosRank(emb, probes, 5)
        val cand = tokRank(s, d, emb, probes, 20)
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
        val cent = AnnIndex.trainFor(s, d, k = 10, iters = 3)
        val sizes = AnnIndex.assign(emb, cent)
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
      Some(AnnIndex.oTrainedAssign +
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
        val all = AnnIndex.trainSubspaces(s, d, 4, 16, k = 8, iters = 2)
        val parts = (0 until 4).map { m =>
          val sub = emb.select(col("vec_id"),
            expr(s"slice(embedding, ${16 * m + 1}, 16)").as("embedding"))
          val cent = all.where(s"m = $m").select("c_id", "n", "c_vec")
          AnnIndex.assign(sub, cent)
            .join(broadcast(cent.select("c_id", "c_vec")), "c_id")
            .select(lit(m).as("m"),
              expr("CAST(floor(" + AnnIndex.d2("embedding") +
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
        val probes = probePanel(emb, 4).localCheckpoint()
        val all = AnnIndex.trainSubspaces(s, d, 4, 16, k = 8, iters = 2)
        val subs = (0 until 4).map { m =>
          val sub = emb.select(col("vec_id"),
            expr(s"slice(embedding, ${16 * m + 1}, 16)").as("embedding"))
          val cent = all.where(s"m = $m").select("c_id", "n", "c_vec")
          val codes = AnnIndex.assign(sub, cent)
            .select(lit(m).as("m"), col("vec_id"), col("c_id"))
          val pdist = probes
            .select(col("p_id"),
              expr(s"slice(p_emb, ${16 * m + 1}, 16)").as("embedding"))
            .crossJoin(broadcast(cent.select("c_id", "c_vec")))
            .select(col("p_id"), lit(m).as("m"), col("c_id"),
              expr(AnnIndex.d2("embedding")).as("pd2"))
          (codes, pdist)
        }
        val codes = subs.map(_._1).reduce(_ unionByName _)
        val pdists = subs.map(_._2).reduce(_ unionByName _)
        val approx = topK(codes.join(broadcast(pdists), Seq("m", "c_id"))
            .where("vec_id <> p_id")
            .groupBy("p_id", "vec_id")
            .agg(sum(expr("CAST(floor(pd2 * 100000000) AS BIGINT)")).as("adc_fp")),
          Seq("p_id"), Seq(col("adc_fp"), col("vec_id")), 5)
          .select(col("p_id"), col("vec_id"), lit(1L).as("hit"))
        // exact truth: the squared-L2 top-5 over the whole corpus
        topK(candidates(emb, probes, FullScan)
            .withColumn("d2", expr(AnnIndex.d2("embedding", "p_emb"))),
          Seq("p_id"), Seq(col("d2"), col("vec_id")), 5)
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
        val probes = probePanel(emb, 4).localCheckpoint()
        val best = topK(cosRank(emb, probes, 20)
            .join(emb.select(col("vec_id").as("id"), col("label")), "id"),
          Seq("p_id", "label"), Seq(col("cos_rank")), 1, "lab_rn")
        topK(best, Seq("p_id"), Seq(col("cos_rank"), col("id")), 3, "div_rank")
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

    // Matryoshka (MRL) truncation recall audit: top-10 neighbours by
    // cosine on the FIRST 32 of 64 dims vs the full-dim truth, for 5
    // broadcast probes — the measurement that decides whether an index
    // can store half-width vectors (2x memory/IO at serving time) for
    // a tolerable recall loss. Both rank windows sit on ONE probe_id
    // exchange over the 5x|vectors| scored stream; the cosine is the
    // registered sequential-fold Catalyst expression, bit-matched by
    // DuckDB's list_reduce left fold.
    Op("llm_mrl_recall",
      (s, d) => {
        val emb = T.t(s, d, "embeddings")
        val probes = emb.where("vec_id < 5")
          .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
        val scored = candidates(T.spread(emb), probes, FullScan, col("vec_id") =!= col("probe_id"))
          .withColumn("sim_full", cosine())
          .withColumn("sim_half", cosine("slice(embedding, 1, 32)", "slice(p_emb, 1, 32)"))
        ranked(ranked(scored, Seq("probe_id"), Seq(desc("sim_full"), col("vec_id")), "rf"),
            Seq("probe_id"), Seq(desc("sim_half"), col("vec_id")), "rh")
          .where("rf <= 10 OR rh <= 10")
          .groupBy("probe_id").agg(
            expr("CAST(count_if(rf <= 10 AND rh <= 10) AS BIGINT)").as("n_overlap"))
          .withColumn("recall_ppm", expr("n_overlap * 1000000 div 10"))
          .orderBy("probe_id")
      },
      Some("WITH p AS (SELECT vec_id AS probe_id, embedding AS p_emb FROM embeddings WHERE vec_id < 5), " +
        "scored AS (SELECT probe_id, vec_id, " +
        s"${LlmOps.oSim("embedding", "p_emb")} AS sim_full, " +
        s"${LlmOps.oSim("embedding[1:32]", "p_emb[1:32]")} AS sim_half " +
        "FROM embeddings, p WHERE vec_id <> probe_id), " +
        "rk AS (SELECT probe_id, vec_id, " +
        "row_number() OVER (PARTITION BY probe_id ORDER BY sim_full DESC, vec_id) AS rf, " +
        "row_number() OVER (PARTITION BY probe_id ORDER BY sim_half DESC, vec_id) AS rh FROM scored) " +
        "SELECT probe_id, CAST(count_if(rf <= 10 AND rh <= 10) AS BIGINT) AS n_overlap, " +
        "CAST(count_if(rf <= 10 AND rh <= 10) AS BIGINT) * 1000000 // 10 AS recall_ppm " +
        "FROM rk WHERE rf <= 10 OR rh <= 10 GROUP BY 1 ORDER BY 1")),

    // Label-conditioned embedding outliers — mislabeled-candidate
    // detection for curated training sets: the 3 vectors farthest
    // (squared L2, 1e-4 fixed point as in llm_embedding_center) from
    // their OWN label's centroid. Per-label centroids come from ONE
    // map-side-combinable (label, pos) aggregate; the |labels|
    // centroid panel broadcasts into the vector scan; the rank window
    // sits on one label exchange. Both engines run the identical
    // sequential fold, so the fixed-point distances agree exactly.
    Op("llm_label_outliers",
      (s, d) => {
        val emb = T.spread(T.t(s, d, "embeddings"))
        val means = emb
          .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
          .groupBy("label", "pos")
          .agg(sum(expr("CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)")).as("sx"),
            count(lit(1)).as("n"))
          .groupBy("label")
          .agg(expr("array_sort(collect_list(struct(pos, sx, n)))").as("ss"))
          .select(col("label"),
            expr("transform(ss, e -> CAST(e.sx AS DOUBLE) / (10000.0 * e.n))").as("mean_vec"))
        topK(emb.join(broadcast(means), "label")
            .withColumn("d2_fp", expr(
              s"CAST(floor(${AnnIndex.d2("embedding", "mean_vec")} * 10000 + 0.000001) AS BIGINT)")),
          Seq("label"), Seq(desc("d2_fp"), col("vec_id")), 3, "rnk")
          .select("label", "rnk", "vec_id", "d2_fp")
          .orderBy("label", "rnk")
      },
      Some("WITH s AS (SELECT label, t.range AS pos, " +
        "CAST(SUM(CAST(floor(CAST(embedding[t.range] AS DOUBLE) * 10000) AS BIGINT)) AS BIGINT) AS sx, " +
        "count(*) AS n FROM embeddings, range(1, 65) t GROUP BY 1, 2), " +
        "m AS (SELECT label, list(CAST(sx AS DOUBLE) / (10000.0 * n) ORDER BY pos) AS mean_vec " +
        "FROM s GROUP BY 1), " +
        "dist AS (SELECT e.label, vec_id, CAST(floor(list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        "list_transform(range(1, len(embedding) + 1), i -> " +
        "(CAST(embedding[i] AS DOUBLE) - mean_vec[i]) * (CAST(embedding[i] AS DOUBLE) - mean_vec[i]))), " +
        "(acc, v) -> acc + v) * 10000 + 0.000001) AS BIGINT) AS d2_fp " +
        "FROM embeddings e JOIN m ON e.label = m.label), " +
        "r AS (SELECT label, vec_id, d2_fp, " +
        "CAST(row_number() OVER (PARTITION BY label ORDER BY d2_fp DESC, vec_id) AS INTEGER) AS rnk " +
        "FROM dist) " +
        "SELECT label, rnk, vec_id, d2_fp FROM r WHERE rnk <= 3 ORDER BY label, rnk")))
}
