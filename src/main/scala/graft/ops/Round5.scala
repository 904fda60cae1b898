package graft.ops

import graft.{Op, Tables => T}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 operator additions (SURVEY.md §2 F2 continuation).
  *
  * The trained-IVF family closes round-4 verdict #3: the IVF cell key is
  * now the k-means-learned centroid assignment (graft.api.AnnIndex), not
  * the `label` stand-in, and the 32-probe recall audit measures exactly
  * that index.
  */
object Round5 {

  /** DuckDB CTEs shared by the trained-IVF ops: the kmeans prefix (ends
    * `c3`) plus the full-corpus assignment to the trained centroids.
    * Reuses the oKmeansIter(4, c3) building block so the assignment
    * arithmetic is textually the training arithmetic; ends with
    * `asg(vec_id, embedding, c_id)`.
    */
  private[ops] val oTrainedAssign: String =
    LlmOps.oKmeansTrainedPrefix + ", " + LlmOps.oKmeansIter(4, "c3") +
      ", asg AS (SELECT vec_id, embedding, c_id FROM b4 WHERE rn = 1)"

  /** Probe-to-centroid squared-L2 in DuckDB (64-dim, sequential fold). */
  private def oProbeD2(pEmb: String): String =
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      "list_transform(range(1, 65), k -> " +
      s"(CAST($pEmb[k] AS DOUBLE) - c.c_vec[k]) * " +
      s"(CAST($pEmb[k] AS DOUBLE) - c.c_vec[k]))), (x, y) -> x + y)"

  /** Content-defined chunks (shared by llm_cdc_chunk, llm_chunk_dedup,
    * and the edit-locality property test): token-hash mod-16
    * boundaries, one row per (doc_id, chunk_id) with token count and
    * the (tok_sum, min_h) content fingerprint.
    */
  private[ops] def cdcChunks(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val tok = T.spread(T.t(s, d, "documents"))
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), " ")).as(Seq("pos", "tok")))
      .withColumn("h", expr("CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT)"))
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    tok.withColumn("chunk_id",
        coalesce(sum(when(col("h") % 16 === 0, 1L).otherwise(0L)).over(wDoc), lit(0L)))
      .groupBy("doc_id", "chunk_id")
      .agg(count(lit(1)).cast("int").as("n_tokens"),
        sum("h").as("tok_sum"), min("h").as("min_h"))
  }

  /** DuckDB CTE list matching [[cdcChunks]]; terminal CTE is
    * `chunks(doc_id, chunk_id, n_tokens, tok_sum, min_h)`.
    */
  private val oCdcChunks: String =
    "tk AS (SELECT doc_id, unnest(list_transform(range(len(ts)), " +
      "i -> {'pos': i, 'tok': ts[i + 1]})) AS u " +
      "FROM (SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents)), " +
      "t2 AS (SELECT doc_id, CAST(u.pos AS INTEGER) AS pos, " +
      "CAST(concat('0x', substr(md5(u.tok), 1, 8)) AS BIGINT) AS h FROM tk), " +
      "t3 AS (SELECT doc_id, pos, h, COALESCE(CAST(SUM(CASE WHEN h % 16 = 0 THEN 1 ELSE 0 END) " +
      "OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS chunk_id FROM t2), " +
      "chunks AS (SELECT doc_id, chunk_id, CAST(count(*) AS INTEGER) AS n_tokens, " +
      "CAST(SUM(h) AS BIGINT) AS tok_sum, min(h) AS min_h FROM t3 GROUP BY doc_id, chunk_id)"

  val ops: Seq[Op] = Seq(

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
        val cent = graft.api.AnnIndex.trainFor(s, d, k = 10, iters = 3)
        val assigned = graft.api.AnnIndex.assign(emb, cent)
        val probes = emb.where("vec_id = 0")
          .select(col("vec_id").as("p_id"), col("embedding").as("p_emb"))
        graft.api.AnnIndex.search(assigned, cent, probes, k = 5, nProbe = 2)
          .select("vec_id", "c_id", "sim")
          .orderBy(desc("sim"), col("vec_id"))
      },
      Some(oTrainedAssign +
        ", p AS (SELECT embedding AS p_emb FROM embeddings WHERE vec_id = 0), " +
        s"pd AS (SELECT c.c_id, ${oProbeD2("p.p_emb")} AS d2 FROM c3 c, p), " +
        "pc AS (SELECT c_id FROM (SELECT c_id, row_number() OVER (ORDER BY d2, c_id) AS rn FROM pd) WHERE rn <= 2) " +
        "SELECT vec_id, c_id, sim FROM (SELECT s.vec_id, s.c_id, " +
        s"${Round3.oSimSql("s.embedding", "p_emb")} AS sim " +
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
        val cent = graft.api.AnnIndex.trainFor(s, d, k = 10, iters = 3)
        val assigned = graft.api.AnnIndex.assign(emb, cent)
        val probes = emb
          .withColumn("hkey", expr("substring(md5(CAST(vec_id AS STRING)), 1, 8)"))
          .orderBy("hkey", "vec_id").limit(32)
          .select(col("vec_id").as("p_id"), col("embedding").as("p_emb"))
        val wTop = org.apache.spark.sql.expressions.Window
          .partitionBy("p_id").orderBy(desc("sim"), col("vec_id"))
        val exact5 = emb.crossJoin(broadcast(probes))
          .where("vec_id <> p_id")
          .withColumn("sim", expr("cosine_sim(embedding, p_emb)"))
          .withColumn("rn", row_number().over(wTop)).where("rn <= 5")
          .select("p_id", "vec_id")
        val approx5 = graft.api.AnnIndex.search(assigned, cent, probes, k = 5, nProbe = 2)
          .select(col("p_id"), col("vec_id"), lit(1).as("hit"))
        exact5.join(approx5, Seq("p_id", "vec_id"), "left")
          .groupBy("p_id").agg(sum(coalesce(col("hit"), lit(0))).as("hits"))
          .agg(count(lit(1)).as("n_probes"), sum("hits").as("total_hits"),
            min("hits").as("min_hits"))
          .select(col("n_probes"), lit(5).as("k"),
            expr("CAST(total_hits AS DOUBLE) / (5 * n_probes)").as("mean_recall"),
            expr("CAST(min_hits AS DOUBLE) / 5").as("min_recall"))
      },
      Some(oTrainedAssign +
        ", pp AS (SELECT vec_id AS p_id, embedding AS p_emb FROM embeddings " +
        "ORDER BY substr(md5(CAST(vec_id AS VARCHAR)), 1, 8), vec_id LIMIT 32), " +
        s"pd AS (SELECT pp.p_id, pp.p_emb, c.c_id, ${oProbeD2("pp.p_emb")} AS d2 FROM c3 c, pp), " +
        "pc AS (SELECT p_id, p_emb, c_id FROM (SELECT p_id, p_emb, c_id, " +
        "row_number() OVER (PARTITION BY p_id ORDER BY d2, c_id) AS rn FROM pd) WHERE rn <= 2), " +
        "e AS (SELECT p_id, vec_id FROM (SELECT pp.p_id, s.vec_id, " +
        s"row_number() OVER (PARTITION BY pp.p_id ORDER BY ${Round3.oSimSql("s.embedding", "pp.p_emb")} DESC, s.vec_id) AS rn " +
        "FROM embeddings s, pp WHERE s.vec_id <> pp.p_id) WHERE rn <= 5), " +
        "a AS (SELECT p_id, vec_id FROM (SELECT pc.p_id, s.vec_id, " +
        s"row_number() OVER (PARTITION BY pc.p_id ORDER BY ${Round3.oSimSql("s.embedding", "pc.p_emb")} DESC, s.vec_id) AS rn " +
        "FROM asg s JOIN pc ON s.c_id = pc.c_id AND s.vec_id <> pc.p_id) WHERE rn <= 5), " +
        "h AS (SELECT e.p_id, CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits " +
        "FROM e LEFT JOIN a ON e.p_id = a.p_id AND e.vec_id = a.vec_id GROUP BY e.p_id) " +
        "SELECT count(*) AS n_probes, 5 AS k, " +
        "CAST(SUM(hits) AS DOUBLE) / (5 * count(*)) AS mean_recall, " +
        "CAST(MIN(hits) AS DOUBLE) / 5 AS min_recall FROM h")),

    // Content-defined chunking (the FastCDC/rsync idea on tokens): a
    // chunk boundary falls AFTER any token whose 32-bit hash is 0 mod
    // 16, so chunk boundaries are a function of CONTENT, not position —
    // an insertion shifts at most one chunk instead of re-windowing the
    // whole doc, which is what makes chunk-level dedup/storage survive
    // edits. Expected chunk length 16 tokens. The running boundary
    // count is a per-doc window (bounded by doc length, never global).
    Op("llm_cdc_chunk",
      (s, d) => cdcChunks(s, d).orderBy("doc_id", "chunk_id"),
      Some(s"WITH $oCdcChunks " +
        "SELECT doc_id, chunk_id, n_tokens, tok_sum, min_h " +
        "FROM chunks ORDER BY doc_id, chunk_id")),

    // Chunk-level dedup — the payoff of content-defined chunking: per
    // doc, how many of its chunks (by content fingerprint) first
    // occurred in an EARLIER doc, and the token volume a chunk store
    // would therefore not re-store. One fingerprint aggregation over
    // the chunk table; no pair join at any scale.
    Op("llm_chunk_dedup",
      (s, d) => {
        val chunks = cdcChunks(s, d)
        val first = chunks.groupBy("n_tokens", "tok_sum", "min_h")
          .agg(min("doc_id").as("first_doc"))
        chunks.join(first, Seq("n_tokens", "tok_sum", "min_h"))
          .groupBy("doc_id")
          .agg(count(lit(1)).cast("int").as("n_chunks"),
            sum(when(col("first_doc") < col("doc_id"), 1L).otherwise(0L)).as("n_dup_chunks"),
            sum(expr("CAST(n_tokens AS BIGINT)")).as("n_tokens_total"),
            sum(when(col("first_doc") < col("doc_id"),
              expr("CAST(n_tokens AS BIGINT)")).otherwise(0L)).as("n_tokens_dedup"))
          .withColumn("savings",
            expr("floor(CAST(n_tokens_dedup AS DOUBLE) / n_tokens_total * 1000000) / 1000000"))
          .orderBy("doc_id")
      },
      Some(s"WITH $oCdcChunks, " +
        "f AS (SELECT n_tokens, tok_sum, min_h, min(doc_id) AS first_doc " +
        "FROM chunks GROUP BY n_tokens, tok_sum, min_h) " +
        "SELECT doc_id, CAST(count(*) AS INTEGER) AS n_chunks, " +
        "CAST(SUM(CASE WHEN first_doc < doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks, " +
        "CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_total, " +
        "CAST(SUM(CASE WHEN first_doc < doc_id THEN n_tokens ELSE 0 END) AS BIGINT) AS n_tokens_dedup, " +
        "floor(CAST(SUM(CASE WHEN first_doc < doc_id THEN n_tokens ELSE 0 END) AS DOUBLE) " +
        "/ SUM(n_tokens) * 1000000) / 1000000 AS savings " +
        "FROM chunks JOIN f USING (n_tokens, tok_sum, min_h) " +
        "GROUP BY doc_id ORDER BY doc_id")),

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
        "CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS INTEGER) AS shard " +
        "FROM documents) ORDER BY shard, pos")),

    // Composite-key as-of through the native merge exec: for each even
    // event, the latest EARLIER odd event of the same (user_id,
    // event_type) — "what did this user last do of this kind". Both
    // sides shuffle once on the two-column key; the oracle is the
    // window emulation.
    Op("rel_join_asof_multikey",
      (s, d) => {
        val ev = T.events(s, d)
        val left = ev.where("event_id % 2 = 0")
          .select("event_id", "user_id", "event_type", "ts")
        val right = ev.where("event_id % 2 = 1")
          .select(col("user_id"), col("event_type"), col("ts").as("rts"),
            col("event_id").as("prev_event_id"), col("value").as("prev_value"))
        graft.plans.AsOf.join(left, right, Seq("user_id", "event_type"), "ts", "rts",
            payload = Seq("prev_event_id", "prev_value"), tiebreak = Seq("prev_event_id"))
          .select("event_id", "user_id", "event_type", "prev_event_id", "prev_value")
          .orderBy("event_id")
      },
      Some("WITH l AS (SELECT event_id, user_id, event_type, ts FROM events WHERE event_id % 2 = 0), " +
        "r AS (SELECT user_id, event_type, ts AS rts, event_id AS prev_event_id, value AS prev_value " +
        "FROM events WHERE event_id % 2 = 1), " +
        "j AS (SELECT l.event_id, l.user_id, l.event_type, r.prev_event_id, r.prev_value, " +
        "row_number() OVER (PARTITION BY l.event_id ORDER BY r.rts DESC, r.prev_event_id DESC) AS rn " +
        "FROM l LEFT JOIN r ON l.user_id = r.user_id AND l.event_type = r.event_type AND r.rts <= l.ts) " +
        "SELECT event_id, user_id, event_type, prev_event_id, prev_value FROM j WHERE rn = 1 " +
        "ORDER BY event_id")),

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
            expr("CAST(floor(aggregate(zip_with(embedding, mean_vec, " +
              "(x, m) -> (CAST(x AS DOUBLE) - m) * (CAST(x AS DOUBLE) - m)), " +
              "CAST(0 AS DOUBLE), (a, v) -> a + v) * 10000 + 0.000001) AS BIGINT)").as("cnorm2_fp"))
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

    // Connected components over the MinHash-VERIFIED pair graph: the
    // grouping step of the LSH dedup pipeline (llm_dedup_cluster is
    // the same step over the exact-jaccard inverted-index graph). Both
    // run GraphOps.connectedComponents — one shared, convergence-
    // checked label-propagation primitive for every pair generator.
    Op("llm_minhash_cluster",
      (s, d) => {
        val pairs = graft.Registry.byKey("llm_minhash_verified").query(s, d)
          .select("d1", "d2").persist()
        val labels = GraphOps.connectedComponents(pairs)
        pairs.unpersist()
        labels.select(col("id").as("doc_id"), col("lbl").as("cluster"))
          .orderBy("doc_id")
      },
      Some("WITH RECURSIVE " + Round4.oMinhashVerifiedCtes + ", " +
        "edges AS (SELECT d1, d2 FROM mvpairs UNION ALL SELECT d2, d1 FROM mvpairs), " +
        "gnodes AS (SELECT DISTINCT d1 AS id FROM edges), " +
        "reach(id, lbl) AS (SELECT id, id FROM gnodes " +
        "UNION SELECT e.d2, r.lbl FROM reach r JOIN edges e ON e.d1 = r.id) " +
        "SELECT id AS doc_id, min(lbl) AS cluster FROM reach GROUP BY id ORDER BY doc_id")),

    // The one-stop dedup decision a curation pipeline actually ships:
    // per doc, keep/drop with the STRONGEST signal that condemned it —
    // exact (normalized-text group, priority 1) beats near
    // (MinHash-LSH candidates verified by exact jaccard, priority 2)
    // beats substring (shared 20-token window, priority 3) — plus the
    // owning representative id. Composes the three existing generators
    // (each bucketed/verified exactly as its standalone op; the
    // registry functions are reused directly, so this op can never
    // drift from them). Every doc appears exactly once.
    Op("llm_dedup_verdicts",
      (s, d) => {
        val docs = T.t(s, d, "documents")
        val keyed = docs.select(col("doc_id"),
          sha2(lower(trim(col("text"))), 256).as("h"))
        val exactRep = keyed.groupBy("h").agg(min("doc_id").as("exact_rep"))
        val nearMin = graft.Registry.byKey("llm_minhash_verified").query(s, d)
          .groupBy(col("d2").as("doc_id")).agg(min("d1").as("near_rep"))
        val subMin = graft.Registry.byKey("llm_dedup_substring").query(s, d)
          .groupBy(col("d2").as("doc_id")).agg(min("d1").as("sub_rep"))
        keyed.join(exactRep, "h")
          .join(nearMin, Seq("doc_id"), "left")
          .join(subMin, Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("exact_rep") < col("doc_id"), "exact")
              .when(col("near_rep").isNotNull, "near")
              .when(col("sub_rep").isNotNull, "substring")
              .otherwise("keep").as("verdict"),
            when(col("exact_rep") < col("doc_id"), col("exact_rep"))
              .when(col("near_rep").isNotNull, col("near_rep"))
              .otherwise(col("sub_rep")).as("match_id"))
          .orderBy("doc_id")
      },
      Some("WITH " + Round4.oMinhashVerifiedCtes + ", " + LlmOps.oSubstringCtes + ", " +
        "ek AS (SELECT doc_id, lower(trim(text)) AS h FROM documents), " +
        "er AS (SELECT h, min(doc_id) AS exact_rep FROM ek GROUP BY h), " +
        "nm AS (SELECT d2 AS doc_id, min(d1) AS near_rep FROM mvpairs GROUP BY d2), " +
        "sm AS (SELECT d2 AS doc_id, min(d1) AS sub_rep FROM spairs GROUP BY d2) " +
        "SELECT ek.doc_id, " +
        "CASE WHEN exact_rep < ek.doc_id THEN 'exact' " +
        "WHEN near_rep IS NOT NULL THEN 'near' " +
        "WHEN sub_rep IS NOT NULL THEN 'substring' ELSE 'keep' END AS verdict, " +
        "CASE WHEN exact_rep < ek.doc_id THEN exact_rep " +
        "WHEN near_rep IS NOT NULL THEN near_rep ELSE sub_rep END AS match_id " +
        "FROM ek JOIN er USING (h) " +
        "LEFT JOIN nm ON ek.doc_id = nm.doc_id " +
        "LEFT JOIN sm ON ek.doc_id = sm.doc_id " +
        "ORDER BY ek.doc_id")),

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

    // Pre-join skew diagnostic: the per-key cardinality profile read
    // BEFORE choosing salting / AQE skew handling for a 100-TB join —
    // top-5 heaviest keys with their share of the table, plus the
    // key-count/max context on every row. One aggregation + a bounded
    // TakeOrdered; nothing wide ever leaves the executors.
    Op("core_partition_skew_report",
      (s, d) => {
        val counts = T.t(s, d, "orders")
          .groupBy(col("o_custkey").as("key")).agg(count(lit(1)).as("cnt"))
        val totals = counts.agg(count(lit(1)).as("n_keys"),
          sum("cnt").as("n_rows"), max("cnt").as("max_cnt"))
        counts.orderBy(desc("cnt"), col("key")).limit(5)
          .crossJoin(broadcast(totals))
          .select(col("key"), col("cnt"),
            expr("floor(CAST(cnt AS DOUBLE) / n_rows * 1000000) / 1000000").as("share"),
            col("n_keys"), col("max_cnt"))
          .orderBy(desc("cnt"), col("key"))
      },
      Some("WITH c AS (SELECT o_custkey AS key, count(*) AS cnt FROM orders GROUP BY o_custkey), " +
        "t AS (SELECT count(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS n_rows, " +
        "CAST(MAX(cnt) AS BIGINT) AS max_cnt FROM c) " +
        "SELECT key, cnt, floor(CAST(cnt AS DOUBLE) / n_rows * 1000000) / 1000000 AS share, " +
        "n_keys, max_cnt FROM c, t ORDER BY cnt DESC, key LIMIT 5")),

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
      (s, d) => LlmOps.langIdPredictions(s, d)
        .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
        .withColumn("correct", col("lang") === col("pred_lang"))
        .orderBy("lang", "pred_lang"),
      Some(LlmOps.oLangIdCtes +
        ", p AS (SELECT d.doc_id, d.lang, COALESCE(b.p_lang, 'unknown') AS pred_lang " +
        "FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id) " +
        "SELECT lang, pred_lang, count(*) AS n, lang = pred_lang AS correct " +
        "FROM p GROUP BY lang, pred_lang ORDER BY lang, pred_lang")),
  )
}
