package graft.ops

import graft.functions.KmvAggregator
import graft.{Op, Tables => T}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM training-data deduplication: exact, prefix, URL and substring
  * dedup, MinHash + LSH and SimHash near-dup detection, n-gram Jaccard,
  * winnowing and rolling-hash fingerprints, embedding near-dups,
  * contamination checks and the dedup audits.
  *
  * Pair generation is always blocked (LSH band, shared shingle, label or
  * prefix), so the quadratic term is per-bucket, never global.
  */
object LlmDedup {

  /** Max DISTINCT texts a (lang, n_chars) levenshtein block may hold
    * before the first-2-token prefix sub-blocking kicks in (see
    * llm_dedup_levenshtein). Low enough that the sf0.1 corpus exercises
    * the capped path under the DuckDB oracle; at 100 TB the cap bounds
    * every block's all-pairs term to prefix-equivalence classes.
    */
  private[graft] val levenshteinBlockCap = 32

  private[ops] val neardupThr = 0.35

  /** Ball-pruned candidate pairs for embedding near-dup: vectors are
    * assigned to 32 coarse cells (nearest seed vector on the unit
    * sphere, the IVF coarse-quantizer shape); a cell PAIR is admissible
    * only if the seed distance minus both cell radii can still reach
    * the cosine threshold (unit sphere: sim >= t <=> ||ux-uy|| <=
    * sqrt(2-2t), and the triangle inequality gives ||ux-uy|| >=
    * d(sa,sb) - ra - rb). The candidate join is equi on (label,
    * admissible-partner cell) — EXACT (no recall loss, unlike LSH
    * candidates), with the quadratic bounded per admissible cell pair
    * instead of per label: at 100 TB the per-task work is
    * |cell_a| x |cell_b| for nearby cells only, and tighter clustering
    * prunes more. Cell stats are one bounded collect (<= 32 rows + 32
    * seed vectors); admissibility is a <= 1024-row broadcast. Returns
    * (v1, v2, e1, e2) with v1 < v2.
    */
  private[ops] def neardupCellCandidates(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val nSeeds = 32
    val emb = T.spread(T.t(s, d, "embeddings"))
    val unit = emb.withColumn("u",
      expr(s"transform(embedding, x -> CAST(x AS DOUBLE) / sqrt(${LlmOps.dot("embedding", "embedding")}))"))
    // seeds are selected DATA-DEPENDENTLY (first nSeeds rows by vec_id
    // via a bounded sort-limit, one driver collect of <= 32 rows) — a
    // fixed `vec_id < 32` filter silently returned ZERO candidate
    // pairs on any input whose ids happen to start above 32
    import s.implicits._
    val seedRows = unit.select(col("vec_id"), col("u"))
      .orderBy("vec_id").limit(nSeeds).collect()
    val seeds = seedRows.zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](1)) }.toSeq
      .toDF("c_id", "c_vec")
    val assigned = graft.api.AnnIndex.nearest(unit, seeds, Nil, "u", "vec_id", 1)
      .select(col("vec_id"), col("label"), col("embedding"),
        col("c_id").as("cell"), col("d2"))
      .localCheckpoint()
    val radii = assigned.groupBy("cell").agg(max("d2").as("r2")).collect()
      .map(r => r.getInt(0) -> math.sqrt(r.getDouble(1))).toMap
    val seedVecs = seedRows.zipWithIndex
      .map { case (r, i) => i -> r.getSeq[Double](1).toArray }.toMap
    // fp slack on the admit side only: a falsely admitted pair costs a
    // sim evaluation, a falsely pruned one would cost correctness
    val bound = math.sqrt(2.0 - 2.0 * neardupThr) + 1e-9
    val adm = for {
      (a, va) <- seedVecs.toSeq if radii.contains(a)
      (b, vb) <- seedVecs.toSeq if radii.contains(b)
      dist = math.sqrt(va.zip(vb).map { case (p, q) => (p - q) * (p - q) }.sum)
      if dist - radii(a) - radii(b) <= bound
    } yield (a, b)
    val admDf = adm.toDF("cell", "cell2")
    val x = assigned.join(broadcast(admDf), "cell")
      .select(col("vec_id").as("v1"), col("embedding").as("e1"),
        col("label"), col("cell2"))
    val y = assigned.select(col("vec_id").as("v2"), col("embedding").as("e2"),
      col("label"), col("cell").as("cell2"))
    x.join(y, Seq("label", "cell2")).where("v1 < v2")
      .select("v1", "v2", "e1", "e2")
  }

  /** Trigram-shingle Jaccard near-dup pairs (tau = 0.2), shared by
    * llm_ngram_jaccard (emits the pairs) and llm_dedup_cluster (connected
    * components over them). Inverted-index self-join on 64-bit shingle
    * hashes (8-byte shuffle keys; the oracle keeps exact strings — a
    * collision would perturb one shared-count at ~2^-40 odds), with a
    * posting-list cap: shingles in >256 docs are non-discriminative and
    * would make the hottest list quadratic, so they're dropped from pair
    * GENERATION only (denominators still count every shingle).
    * Returns (d1, d2, jaccard).
    */
  /** Distinct trigram shingles of `toks`, hashed to 64 bits in-place:
    * the cached frames and every downstream shuffle carry 8-byte keys
    * instead of ~30-byte strings (the oracle keeps exact strings; a
    * collision would perturb one shared-count at ~2^-40 odds).
    */
  private[ops] val shingleHashExpr: String =
    "transform(array_distinct(transform(sequence(1, size(toks) - 2), " +
      "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1), ' ', element_at(toks, i + 2)))), " +
      "sh -> xxhash64(sh))"

  /** EXACT-DEDUP-FIRST (the dedup_cluster quotient trick, round 4 also
    * applied here): shingling and the inverted-index self-join run on ONE
    * representative per identical-(lowered-)text group, with each
    * shingle's document frequency weighted by group size so the rare cap
    * sees full-corpus df. Pairs then expand back to every member:
    *  - inter-group: every (a in g1, b in g2) pair shares the rep pair's
    *    jaccard (identical shingle sets per member);
    *  - intra-group: identical docs share exactly their rare shingles, so
    *    the pair value is r_sh / (2*n_sh - r_sh), emitted when >= 0.2.
    * Output is row-identical to the naive all-docs form (the oracle still
    * computes all pairs); the quadratic candidate term runs on |reps|,
    * which on a duplicate-heavy corpus is the whole ballgame — the 20x
    * scale probe drops from 117 s to the quotient cost.
    *
    * ADAPTIVE: the quotient pays a text shuffle plus member-expansion
    * joins, which only pay off when duplicates are plentiful. One cheap
    * partial-agg job (count + approx distinct text-hash) picks the plan:
    * >= ~10% duplicate docs -> quotient, else the direct inverted-index
    * join. Both paths emit identical rows.
    *
    * The `gl` projection is deliberately NOT persisted even though the
    * decision agg, the gid grouping, and the member expansion each scan
    * it: re-running a columnar projection is linear and cheap, while
    * caching a corpus-wide text column is exactly the memory footprint
    * that kills a 100-TB run. Scans stay O(n); memory stays O(reps).
    */
  private[ops] def jaccardPairs(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    // one build per session serves llm_ngram_jaccard AND the recall
    // audit's truth side (the result is checkpointed, so the memo
    // returns settled rows)
    CorpusStats.memoDf(s, d, "jaccardPairs")(jaccardPairsImpl(s, d))

  private def jaccardPairsImpl(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    // gid pairs the 64-bit hash with the text length: collisions then
    // require equal lengths too — the negligible-at-any-scale fingerprint
    // (a same-length 64-bit collision, ~2^-64 per length class).
    val gl = T.spread(T.t(s, d, "documents"))
      .select(col("doc_id"), lower(col("text")).as("ltext"))
      .withColumn("gid", struct(xxhash64(col("ltext")), length(col("ltext"))))
    if (CorpusStats.mostlyUnique(s, d)) {
      // near-duplicate-free corpus: direct inverted-index self-join
      val sid = gl
        .withColumn("toks", split(col("ltext"), " "))
        .where("size(toks) >= 3")
        .select(col("doc_id"), explode(expr(shingleHashExpr)).as("sid"))
        .persist()
      val counts = sid.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      val rare = sid.groupBy("sid").agg(count(lit(1)).as("df"))
        .where(s"df <= ${CorpusStats.rareDfCap(s, d)}")
        .select("sid")
      val shRare = sid.join(rare, "sid")
      val pairs = shRare.as("x").join(shRare.as("y"),
          col("x.sid") === col("y.sid") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
        .agg(count(lit(1)).as("shared"))
        .join(counts.select(col("doc_id").as("d1"), col("n_sh").as("n1")), "d1")
        .join(counts.select(col("doc_id").as("d2"), col("n_sh").as("n2")), "d2")
        .withColumn("jaccard", expr("CAST(shared AS DOUBLE) / (n1 + n2 - shared)"))
        .where("jaccard >= 0.2")
        .select("d1", "d2", "jaccard")
        .localCheckpoint()
      sid.unpersist()
      return pairs
    }
    val gidRep = gl.groupBy("gid")
      .agg(min("doc_id").as("rep"), first("ltext").as("ltext"),
        count(lit(1)).as("n_dup"))
      .persist()
    val sid = gidRep
      .withColumn("toks", split(col("ltext"), " "))
      .where("size(toks) >= 3")
      .select(col("rep"), col("n_dup"), explode(expr(shingleHashExpr)).as("sid"))
      .persist() // feeds the inverted-index self-join and the counts
    val counts = sid.groupBy("rep").agg(count(lit(1)).as("n_sh"))
    val rare = sid.groupBy("sid").agg(sum("n_dup").as("df"))
      .where(s"df <= ${CorpusStats.rareDfCap(s, d)}")
      .select("sid")
    val shRare = sid.join(rare, "sid").select("rep", "sid").persist()
    val repPairs = shRare.as("x").join(shRare.as("y"),
        col("x.sid") === col("y.sid") && col("x.rep") < col("y.rep"))
      .groupBy(col("x.rep").as("r1"), col("y.rep").as("r2"))
      .agg(count(lit(1)).as("shared"))
      .join(counts.select(col("rep").as("r1"), col("n_sh").as("n1")), "r1")
      .join(counts.select(col("rep").as("r2"), col("n_sh").as("n2")), "r2")
      .withColumn("jaccard", expr("CAST(shared AS DOUBLE) / (n1 + n2 - shared)"))
      .where("jaccard >= 0.2")
      .select("r1", "r2", "jaccard")
    val members = gl.join(gidRep.select("gid", "rep"), "gid")
      .select(col("rep"), col("doc_id"))
    val inter = repPairs
      .join(members.select(col("rep").as("r1"), col("doc_id").as("a")), "r1")
      .join(members.select(col("rep").as("r2"), col("doc_id").as("b")), "r2")
      .select(least(col("a"), col("b")).as("d1"),
        greatest(col("a"), col("b")).as("d2"), col("jaccard"))
    val rareCounts = shRare.groupBy("rep").agg(count(lit(1)).as("r_sh"))
    val intra = gidRep.where("n_dup >= 2").select("rep")
      .join(counts, "rep").join(rareCounts, "rep")
      .withColumn("jaccard", expr("CAST(r_sh AS DOUBLE) / (2 * n_sh - r_sh)"))
      .where("jaccard >= 0.2")
      .select("rep", "jaccard")
      .join(members.select(col("rep"), col("doc_id").as("a")), "rep")
      .join(members.select(col("rep"), col("doc_id").as("b")), "rep")
      .where("a < b")
      .select(col("a").as("d1"), col("b").as("d2"), col("jaccard"))
    // pairs are tiny on real corpora (near-dup survivors); pinning them
    // lets the caches be released instead of leaking per invocation
    val pairs = inter.unionByName(intra).localCheckpoint()
    Seq(gidRep, sid, shRare).foreach(_.unpersist())
    pairs
  }

  /** DuckDB CTE list matching [[jaccardPairs]]; terminal CTE is
    * `pairs(d1, d2, jaccard)`. Callers prepend WITH / WITH RECURSIVE.
    */
  private[ops] val oJaccardPairs: String =
    "sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1), " +
      "i -> concat(toks[i], ' ', toks[i + 1], ' ', toks[i + 2])))) AS shingle " +
      "FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents) WHERE len(toks) >= 3), " +
      "counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id), " +
      s"rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= ${CorpusStats.oRareDfCap}), " +
      "shrare AS (SELECT doc_id, shingle FROM sh JOIN rare USING (shingle)), " +
      "shared AS (SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS shared FROM shrare x JOIN shrare y " +
      "ON x.shingle = y.shingle AND x.doc_id < y.doc_id GROUP BY x.doc_id, y.doc_id), " +
      "pairs AS (SELECT d1, d2, CAST(shared AS DOUBLE) / (n1 + n2 - shared) AS jaccard " +
      "FROM shared JOIN (SELECT doc_id AS d1, n_sh AS n1 FROM counts) c1 USING (d1) " +
      "JOIN (SELECT doc_id AS d2, n_sh AS n2 FROM counts) c2 USING (d2) " +
      "WHERE CAST(shared AS DOUBLE) / (n1 + n2 - shared) >= 0.2)"

  /** DuckDB CTE list for the 20-token shared-window (exact-substring)
    * pairs; terminal CTE is `spairs(d1, d2, n_shared)`. Shared by
    * llm_dedup_substring and the composed llm_dedup_verdicts oracle.
    * MUST be declared before `ops` (vals initialize in order).
    */
  private[ops] val oSubstringCtes: String =
    "w AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
      "range(1, len(toks) - 18), i -> array_to_string(list_slice(toks, i, i + 19), ' ')))) AS w " +
      "FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents) " +
      "WHERE len(toks) >= 20), " +
      s"rare AS (SELECT w FROM w GROUP BY w HAVING count(*) <= ${CorpusStats.oRareDfCap}), " +
      "wr AS (SELECT doc_id, w FROM w JOIN rare USING (w)), " +
      "spairs AS (SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS n_shared " +
      "FROM wr x JOIN wr y ON x.w = y.w AND x.doc_id < y.doc_id GROUP BY 1, 2)"

  /** The seeded 13-token contamination window (tokens no generated text
    * contains) — shared between llm_contamination_ngram's Spark side
    * and its oracle so both engines union the identical fixture rows.
    */
  private[graft] val contamWindow: String =
    (1 to 13).map(i => f"zzq$i%02d").mkString(" ")

  /** LSH candidate pairs `(d1, d2)`, `d1 < d2`, of a `(doc_id, sig)`
    * frame: docs sharing a bucket of [[graft.api.MinHashIndex.banded]]
    * (4 bands of 4). DuckDB side: [[oMinhashCtes]] and [[oLshPairs]].
    */
  private def lshPairs(sigs: DataFrame): DataFrame = {
    val banded = graft.api.MinHashIndex.banded(sigs)
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.band_sig") === col("y.band_sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2")).distinct()
  }

  /** DuckDB side of the MinHash signatures and LSH bands over
    * `src(doc_id, text)`: CTEs `ths(doc_id, ths)` (3-gram shingle
    * hashes, first 8 hex digits of md5 as graft.functions.ShingleHashes
    * computes them), `sigs(doc_id, [ths,] sig)` (16 min-hashes) and
    * `<banded>(doc_id, band, band_sig)`, equal to `shingle_hashes`,
    * `minhash_sig` and [[graft.api.MinHashIndex.banded]].
    */
  private def oMinhashCtes(src: String, keepThs: Boolean, banded: String = "banded"): String =
    "ths AS (SELECT doc_id, list_transform(" +
      "list_distinct(list_transform(range(1, len(toks) - 1), i -> concat(toks[i], ' ', toks[i + 1], ' ', toks[i + 2]))), " +
      s"tok -> ${T.oH32("tok")}) AS ths " +
      s"FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM $src) WHERE len(toks) >= 3), " +
      s"sigs AS (SELECT doc_id, ${if (keepThs) "ths, " else ""}list_reduce(list_prepend(" +
      "list_transform(range(0, 16), x -> CAST(2038074743 AS BIGINT)), " +
      "list_transform(ths, h -> list_transform(range(0, 16), i -> " +
      "([3,5,7,11,13,17,19,23,29,31,37,41,43,47,53,59][i + 1] * h + " +
      "[101,103,107,109,113,127,131,137,139,149,151,157,163,167,173,179][i + 1]) % 2038074743))), " +
      "(acc, v) -> list_transform(range(1, 17), i -> least(acc[i], v[i]))) AS sig FROM ths), " +
      s"$banded AS (SELECT doc_id, b.band AS band, " +
      "array_to_string(list_transform(list_slice(sig, band * 4 + 1, band * 4 + 4), x -> CAST(x AS VARCHAR)), ',') AS band_sig " +
      "FROM sigs, (SELECT unnest(range(0, 4)) AS band) b)"

  /** DuckDB side of [[lshPairs]]: CTE `<name>(d1, d2)` over `banded`. */
  private def oLshPairs(name: String): String =
    s"$name AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2 FROM banded x JOIN banded y " +
      "ON x.band = y.band AND x.band_sig = y.band_sig AND x.doc_id < y.doc_id)"

  /** Shared MinHash-LSH candidate generation: the shingle+signature base
    * (persisted — caller unpersists) and the distinct band-bucket
    * candidate pairs. One definition for llm_minhash_verified and
    * llm_lsh_precision_audit, so the audit always measures exactly the
    * candidate generation the pipeline runs.
    */
  private def minhashCandidates(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val base = T.spread(T.t(s, d, "documents"))
      .where("size(split(lower(text), ' ')) >= 3")
      .select(col("doc_id"), expr("shingle_hashes(text)").as("ths"))
      .withColumn("sig", expr("minhash_sig(ths)"))
      .persist()
    (base, lshPairs(base))
  }

  /** DuckDB CTE list replaying the full MinHash-LSH + exact-jaccard
    * verify pipeline; terminal CTE is `mvpairs(d1, d2, jaccard)`.
    * Shared by llm_minhash_verified and the round-5 composed
    * llm_dedup_verdicts oracle.
    */
  private[ops] val oMinhashVerifiedCtes: String =
    oMinhashCtes("documents", keepThs = true) + ", " + oLshPairs("cand") + ", " +
      "mvpairs AS (SELECT d1, d2, jaccard FROM (" +
      "SELECT d1, d2, CAST(len(list_intersect(a.ths, b.ths)) AS DOUBLE) / " +
      "(len(a.ths) + len(b.ths) - len(list_intersect(a.ths, b.ths))) AS jaccard " +
      "FROM cand JOIN ths a ON cand.d1 = a.doc_id JOIN ths b ON cand.d2 = b.doc_id) " +
      "WHERE jaccard >= 0.5)"

  /** Winnowing building blocks (k=3 token shingles, window w=8) —
    * shared by the operator and the guarantee property test, which
    * asserts the scheme's defining invariant (shared runs of >= k+w-1
    * tokens must share a selected fingerprint).
    */
  private[graft] val winnowHashExpr: String =
    "transform(sequence(1, size(toks) - 2), i -> " +
      T.h32("concat(element_at(toks, i), ' ', element_at(toks, i + 1), ' ', element_at(toks, i + 2))") + ")"

  private[graft] val winnowFpsExpr: String =
    "array_distinct(transform(sequence(1, size(hs) - 7), j -> array_min(slice(hs, j, 8))))"

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
      .withColumn("h", expr(T.h32("tok")))
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
      s"${T.oH32("u.tok")} AS h FROM tk), " +
      "t3 AS (SELECT doc_id, pos, h, COALESCE(CAST(SUM(CASE WHEN h % 16 = 0 THEN 1 ELSE 0 END) " +
      "OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS chunk_id FROM t2), " +
      "chunks AS (SELECT doc_id, chunk_id, CAST(count(*) AS INTEGER) AS n_tokens, " +
      "CAST(SUM(h) AS BIGINT) AS tok_sum, min(h) AS min_h FROM t3 GROUP BY doc_id, chunk_id)"

  /** Per-element KMV estimate expression over a sketch array column:
    * exact size while under-filled, (k-1)·2^60 / h_(k) once full.
    */
  private def estOf(c: String): String =
    s"CASE WHEN size($c) < 64 THEN CAST(size($c) AS BIGINT) ELSE " +
      s"CAST(floor((CAST(63 AS DOUBLE) * 1152921504606846976.0) / " +
      s"CAST(element_at($c, 64) AS DOUBLE)) AS BIGINT) END"

  private def oEstOf(c: String): String =
    s"CASE WHEN len($c) < 64 THEN CAST(len($c) AS BIGINT) ELSE " +
      s"CAST(floor((CAST(63 AS DOUBLE) * 1152921504606846976.0) / " +
      s"CAST($c[64] AS DOUBLE)) AS BIGINT) END"

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
    * with the oracle SQL and the test suite so all three see one literal.
    */
  private[graft] val mhIncCorpusText: String =
    "zzmh alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"

  private[graft] val mhIncBatchText: String = mhIncCorpusText + " zzvar"

  val ops: Seq[Op] = Seq(

    Op("llm_dedup_exact",
      (s, d) => T.t(s, d, "documents")
        .groupBy(sha2(lower(trim(col("text"))), 256).as("h"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
        .select("keep_id", "n_dups")
        .orderBy("keep_id"),
      // oracle groups on the normalized text itself — same partition as the
      // hash, minus the (collision-free) sha2 step DuckDB 1.0 lacks.
      Some("SELECT min(doc_id) AS keep_id, count(*) AS n_dups FROM documents " +
        "GROUP BY lower(trim(text)) ORDER BY keep_id")),

    Op("llm_dedup_fuzzy",
      (s, d) => {
        // the window partitions on a 256-bit HASH of the signature, not
        // the signature text itself: the shuffle key is fixed-width
        // instead of document-sized (collision-free at corpus
        // cardinalities, same posture as llm_dedup_exact)
        val w = Window.partitionBy("sigh")
        T.t(s, d, "documents")
          .withColumn("sigh",
            sha2(expr("array_join(array_sort(array_distinct(split(lower(text), ' '))), ' ')"), 256))
          .withColumn("grp_n", count(lit(1)).over(w))
          .withColumn("rep", min("doc_id").over(w))
          .where("grp_n > 1")
          .select("doc_id", "rep")
          .orderBy("rep", "doc_id")
      },
      Some("SELECT doc_id, rep FROM (SELECT doc_id, " +
        "min(doc_id) OVER (PARTITION BY sig) AS rep, " +
        "count(*) OVER (PARTITION BY sig) AS grp_n FROM (" +
        "SELECT doc_id, array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ') AS sig " +
        "FROM documents)) WHERE grp_n > 1 ORDER BY rep, doc_id")),

    // the end-product operator of a dedup pipeline: the cleaned corpus —
    // one representative (min doc_id) per sorted-token-signature group,
    // singletons included.
    Op("llm_corpus_dedupe",
      (s, d) => {
        // fixed-width shuffle key, as in llm_dedup_fuzzy above
        val w = Window.partitionBy("sigh")
        T.t(s, d, "documents")
          .withColumn("sigh",
            sha2(expr("array_join(array_sort(array_distinct(split(lower(text), ' '))), ' ')"), 256))
          .withColumn("rep", min("doc_id").over(w))
          .where("doc_id = rep")
          .select("doc_id", "lang", "source", "n_chars")
          .orderBy("doc_id")
      },
      Some("SELECT doc_id, lang, source, n_chars FROM (SELECT doc_id, lang, source, n_chars, " +
        "min(doc_id) OVER (PARTITION BY sig) AS rep FROM (" +
        "SELECT doc_id, lang, source, n_chars, " +
        "array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ') AS sig " +
        "FROM documents)) WHERE doc_id = rep ORDER BY doc_id")),

    // MinHash(k=16) over 3-gram shingles + LSH(4 bands of 4): signatures
    // are computed per-doc inside whole-stage codegen (no exploded
    // shuffle); the only shuffle is the banded candidate join — the shape
    // that scales to 100 TB. Shingles (not raw tokens) keep the random
    // overlap between unrelated documents near zero.
    Op("llm_dedup_minhash",
      (s, d) => {
        val sigs = T.spread(T.t(s, d, "documents"))
          .where("size(split(lower(text), ' ')) >= 3")
          // JVM-native shingle-hash + signature (graft.functions): one eval
          // per row instead of interpreted lambda folds; min is commutative
          // so the result matches the oracle's fold exactly.
          .select(col("doc_id"), expr("minhash_sig(shingle_hashes(text))").as("sig"))
          // materialize the (small) signature table once — it feeds the
          // band explode and both pair-join sides.
          .persist()
        val pairs = lshPairs(sigs)
        // near-dup survivors are tiny — pin them and release the
        // signature cache instead of leaking one copy per invocation
        val out = pairs
          .join(sigs.select(col("doc_id").as("d1"), col("sig").as("s1")), "d1")
          .join(sigs.select(col("doc_id").as("d2"), col("sig").as("s2")), "d2")
          .withColumn("est_jaccard",
            expr("CAST(size(filter(sequence(1, 16), i -> element_at(s1, i) = element_at(s2, i))) AS DOUBLE) / 16"))
          .where("est_jaccard >= 0.5")
          .select("d1", "d2", "est_jaccard")
          .localCheckpoint()
        sigs.unpersist()
        out.orderBy("d1", "d2")
      },
      Some("WITH " + oMinhashCtes("documents", keepThs = false) + ", " + oLshPairs("pairs") + " " +
        "SELECT d1, d2, est_jaccard FROM (" +
        "SELECT d1, d2, CAST(len(list_filter(range(1, 17), i -> s1.sig[i] = s2.sig[i])) AS DOUBLE) / 16 AS est_jaccard " +
        "FROM pairs JOIN sigs s1 ON pairs.d1 = s1.doc_id JOIN sigs s2 ON pairs.d2 = s2.doc_id) " +
        "WHERE est_jaccard >= 0.5 ORDER BY d1, d2")),

    // 32-bit SimHash computed per-doc as one nested fold (codegen, no
    // shuffle); candidate pairs are blocked on the top-16-bit prefix.
    Op("llm_dedup_simhash",
      (s, d) => {
        val sh = T.spread(T.t(s, d, "documents"))
          .where("size(split(lower(text), ' ')) >= 3")
          // JVM-native shingle-hash + simhash (graft.functions): bit votes
          // are commutative integer sums, so this matches the oracle's
          // declarative fold exactly.
          .select(col("doc_id"), expr("simhash32(shingle_hashes(text))").as("simhash"))
          .withColumn("bucket", expr("shiftright(simhash, 16)"))
          // materialize once — both self-join sides read it.
          .persist()
        // survivors are tiny — pin them, release the simhash cache
        val out = sh.as("x").join(sh.as("y"),
            col("x.bucket") === col("y.bucket") && col("x.doc_id") < col("y.doc_id"))
          .withColumn("hamming", expr("bit_count(x.simhash ^ y.simhash)"))
          .where("hamming <= 8")
          .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"), col("hamming"))
          .localCheckpoint()
        sh.unpersist()
        out.orderBy("d1", "d2")
      },
      Some("WITH ths AS (SELECT doc_id, list_transform(" +
        "list_distinct(list_transform(range(1, len(toks) - 1), i -> concat(toks[i], ' ', toks[i + 1], ' ', toks[i + 2]))), " +
        s"tok -> ${T.oH32("tok")}) AS ths " +
        "FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents) WHERE len(toks) >= 3), " +
        "bits AS (SELECT doc_id, list_reduce(list_prepend(" +
        "list_transform(range(0, 32), x -> 0), " +
        "list_transform(ths, h -> list_transform(range(0, 32), j -> " +
        "CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END))), " +
        "(acc, v) -> list_transform(range(1, 33), i -> acc[i] + v[i])) AS bits FROM ths), " +
        "sh AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 32), j -> " +
        "CASE WHEN bits[j + 1] > 0 " +
        "THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS simhash FROM bits), " +
        "b AS (SELECT doc_id, simhash, simhash >> 16 AS bucket FROM sh) " +
        "SELECT x.doc_id AS d1, y.doc_id AS d2, CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming " +
        "FROM b x JOIN b y ON x.bucket = y.bucket AND x.doc_id < y.doc_id " +
        "WHERE bit_count(xor(x.simhash, y.simhash)) <= 8 ORDER BY d1, d2")),

    Op("llm_ngram_jaccard",
      (s, d) => jaccardPairs(s, d)
        .select("d1", "d2", "jaccard")
        .orderBy("d1", "d2"),
      Some("WITH " + oJaccardPairs +
        " SELECT d1, d2, jaccard FROM pairs ORDER BY d1, d2")),

    // near-dup clustering: connected components over the jaccard pair
    // graph — the step that turns pairwise near-dup hits into dedup
    // groups (keep min-id per component, drop the rest).
    //
    // EXACT-DEDUP-FIRST: pair generation runs on one representative per
    // identical-(lowered-)text group, with each shingle's document
    // frequency weighted by group size so the rare-shingle cap sees the
    // FULL corpus df. Identical texts have identical shingle sets, so the
    // representative graph is the exact quotient of the full pair graph:
    // connectivity — and therefore the min-id component labels — are
    // unchanged (the oracle recursive CTE still runs over ALL docs). On
    // duplicate-heavy corpora this collapses the quadratic candidate
    // term before it exists: the 20x-duplicated scale probe drops from
    // 389 s to seconds. A group joins the graph on its own (no external
    // pair) iff its identical copies near-dup EACH OTHER under the same
    // τ: jaccard(A, A') = r/(2n - r) ≥ 0.2 ⟺ 3r ≥ n, where r of the
    // n shingles survive the rare cap — the integer form is exact.
    //
    // Bounded min-label propagation on the representative graph: each
    // round every node takes the smallest label in its neighborhood
    // (one join + one aggregate per round; self-loops carry the own
    // label and the fixed-point signal), converging in <= diameter
    // rounds. At 100 TB this is the alternating large-star/small-star
    // shape; labels persist so lineage stays flat.
    Op("llm_dedup_cluster",
      (s, d) => {
        // ONE aggregation both collapses the groups and elects the
        // representative (min doc_id) — `first(ltext)` is deterministic
        // in value because every member of a gid group has the same
        // lowered text. n_dup rides along into the shingle frame so the
        // weighted df needs no join at all.
        val gl = T.t(s, d, "documents")
          .select(col("doc_id"), lower(col("text")).as("ltext"))
          .withColumn("gid", struct(xxhash64(col("ltext")), length(col("ltext"))))
        // adaptive like jaccardPairs: on a duplicate-free corpus the
        // quotient grouping (text shuffle) and the member expansion are
        // pure overhead — every doc is its own representative
        val dupFree = CorpusStats.mostlyUnique(s, d)
        val gidRep =
          (if (dupFree) gl.select(col("doc_id"), col("ltext"), lit(1L).as("n_dup"))
           else gl.groupBy("gid")
             .agg(min("doc_id").as("doc_id"), first("ltext").as("ltext"),
               count(lit(1)).as("n_dup")))
            .persist()
        val sid = T.spread(gidRep)
          .withColumn("toks", split(col("ltext"), " "))
          .where("size(toks) >= 3")
          .select(col("doc_id"), col("n_dup"), explode(expr(shingleHashExpr)).as("sid"))
          .persist()
        val counts = sid.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
        // full-corpus df = multiplicity-weighted rep df
        val rare = sid.groupBy("sid").agg(sum("n_dup").as("df"))
          .where(s"df <= ${CorpusStats.rareDfCap(s, d)}").select("sid")
        // persisted: feeds both sides of the pair self-join AND the
        // rare-count aggregate
        val shRare = sid.join(rare, "sid").select("doc_id", "sid").persist()
        val rareCounts = shRare.groupBy("doc_id").agg(count(lit(1)).as("r_sh"))
        val pairs = shRare.as("x").join(shRare.as("y"),
            col("x.sid") === col("y.sid") && col("x.doc_id") < col("y.doc_id"))
          .groupBy(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
          .agg(count(lit(1)).as("shared"))
          .join(counts.select(col("doc_id").as("d1"), col("n_sh").as("n1")), "d1")
          .join(counts.select(col("doc_id").as("d2"), col("n_sh").as("n2")), "d2")
          .where("CAST(shared AS DOUBLE) / (n1 + n2 - shared) >= 0.2")
          .select("d1", "d2").persist()
        // self-connected multi-doc groups (identical copies near-dup
        // each other) are nodes even without an external pair
        val selfGroups = gidRep.where("n_dup >= 2").select("doc_id")
          .join(counts, "doc_id").join(rareCounts, "doc_id")
          .where("3 * r_sh >= n_sh")
          .select(col("doc_id").as("d1"))
        // bounded min-label propagation with pointer doubling — the
        // shared GraphOps primitive (llm_minhash_cluster runs the same
        // loop over the MinHash-verified pair graph). Labels and the
        // gid->representative map are small (one row per node / per
        // distinct text); every intermediate cache is released.
        val finalLabels = GraphOps.connectedComponents(pairs, Seq(selfGroups))
        // expand representative labels back to every member of the group
        // (identity when every doc is its own representative)
        val expanded =
          if (dupFree)
            finalLabels.select(col("id").as("doc_id"), col("lbl").as("cluster"))
          else {
            val gidMap = gidRep.select(col("gid"), col("doc_id").as("rep")).localCheckpoint()
            gl.select("doc_id", "gid")
              .join(gidMap, "gid")
              .join(finalLabels.withColumnRenamed("id", "rep"), "rep")
              .select(col("doc_id"), col("lbl").as("cluster"))
          }
        Seq(sid, shRare, pairs, gidRep).foreach(_.unpersist())
        expanded.orderBy("doc_id")
      },
      Some("WITH RECURSIVE " + oJaccardPairs + ", " +
        "edges AS (SELECT d1, d2 FROM pairs UNION ALL SELECT d2, d1 FROM pairs), " +
        "nodes AS (SELECT DISTINCT d1 AS id FROM edges), " +
        "reach(id, lbl) AS (SELECT id, id FROM nodes " +
        "UNION SELECT e.d2, r.lbl FROM reach r JOIN edges e ON e.d1 = r.id) " +
        "SELECT id AS doc_id, min(lbl) AS cluster FROM reach GROUP BY id ORDER BY doc_id")),

    // Embedding near-dup with BALL-PRUNED blocking: vectors are assigned
    // to 32 coarse cells (nearest seed vector on the unit sphere, the
    // IVF coarse-quantizer shape); a cell PAIR is admissible only if the
    // seed distance minus both cell radii can still reach the cosine
    // threshold (unit sphere: sim >= t  <=>  ||ux-uy|| <= sqrt(2-2t), and
    // triangle inequality gives ||ux-uy|| >= d(sa,sb) - ra - rb). The
    // candidate join is equi on (label, admissible-partner cell) — EXACT
    // (no recall loss, unlike LSH candidates), with the quadratic bounded
    // per admissible cell pair instead of per label: at 100 TB the
    // per-task work is |cell_a| x |cell_b| for nearby cells only, and
    // tighter clustering prunes more. Cell stats are one bounded collect
    // (<= 32 rows + 32 seed vectors); admissibility is a <=1024-row
    // broadcast.
    Op("llm_embedding_neardup",
      (s, d) => neardupCellCandidates(s, d)
        .withColumn("sim", graft.api.AnnIndex.cosine("e1", "e2"))
        .where(s"sim >= $neardupThr")
        .select("v1", "v2", "sim")
        .orderBy("v1", "v2"),
      Some("SELECT v1, v2, sim FROM (SELECT x.vec_id AS v1, y.vec_id AS v2, " +
        s"${LlmOps.oSim("x.embedding", "y.embedding")} AS sim " +
        "FROM embeddings x JOIN embeddings y ON x.label = y.label AND x.vec_id < y.vec_id) " +
        "WHERE sim >= 0.35 ORDER BY v1, v2")),

    // rolling-hash document fingerprint: identical BIGINT left-fold over
    // character code points on both engines.
    Op("llm_fingerprint",
      (s, d) => T.t(s, d, "documents").select(
          col("doc_id"),
          expr("aggregate(transform(sequence(1, length(text)), i -> ascii(substring(text, i, 1))), " +
            "CAST(0 AS BIGINT), (acc, x) -> (acc * 31 + x) % 1000000007)").as("fp"))
        .orderBy("doc_id"),
      Some("SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(range(1, length(text) + 1), i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))), " +
        "(acc, x) -> (acc * 31 + x) % 1000000007) AS fp FROM documents ORDER BY doc_id")),

    // edit-distance near-dup (record-linkage style): candidate pairs are
    // blocked on (lang, exact n_chars) so the quadratic term — and the
    // O(len^2) levenshtein — runs on small buckets only. Both engines
    // implement the same DP distance, so values match exactly.
    //
    // BOUNDED BLOCKS (round 5 — the engine's last quadratic term): a
    // popular (lang, length) class grows linearly with corpus size, so
    // on its own it cannot bound the within-block all-pairs join. Blocks
    // whose DISTINCT-text count exceeds [[levenshteinBlockCap]] are
    // therefore sub-blocked by a first-2-token prefix signature, which
    // near-duplicate documents overwhelmingly share (an edit script that
    // rewrites the opening tokens is rare at dist <= n/5). This is a
    // DOCUMENTED RECALL TRADEOFF, active only above the cap — and it is
    // part of the operator's semantics, not an approximation of them:
    // the oracle applies the identical rule, so correctness is exact at
    // every scale. Identical texts share any prefix, so the quotient's
    // intra-group (dist = 0) pairs are never affected.
    Op("llm_dedup_levenshtein",
      (s, d) => {
        // adaptive exact-dedup-first quotient (as in jaccardPairs): the
        // per-pair cost here is a full O(len^2) edit distance, so on a
        // duplicate-heavy corpus computing it once per representative
        // pair instead of once per member pair is the whole cost. The
        // quotient group key (lang, n_chars, xxhash64(text)) collides
        // only within a length class — a 128-bit-grade fingerprint —
        // and its members are fully interchangeable; intra-group
        // distance is 0 by construction (always within tolerance).
        // lang/text null rows are excluded up front: the blocking
        // equi-join (and the oracle's) can never pair them, so keeping
        // them would only let the quotient's intra-group path diverge.
        // seeded near-dup pair: the synthetic corpus has no true
        // within-tolerance pair at small SFs, which would leave the
        // driver's oracle compare vacuous (0 == 0 rows). Two constructed
        // same-length docs in a lang ('zz') no generated row uses, one
        // substitution apart, exercise the block-join + DP-distance path
        // end-to-end; the oracle unions the identical rows.
        val raw = T.t(s, d, "documents")
          .where("n_chars < 200 AND lang IS NOT NULL AND text IS NOT NULL")
          .select("doc_id", "lang", "n_chars", "text")
          .unionByName(s.createDataFrame(
            java.util.Arrays.asList(
              org.apache.spark.sql.Row(900000001L, "zz", 23L, "zzlev fixture alpha one"),
              org.apache.spark.sql.Row(900000002L, "zz", 23L, "zzlev fixture alpha oze")),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("doc_id",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("lang",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("n_chars",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("text",
                org.apache.spark.sql.types.StringType)))))
        val blocks = raw.groupBy("lang", "n_chars")
          .agg(countDistinct("text").as("ndt"))
        val docs = raw.join(blocks, Seq("lang", "n_chars"))
          .withColumn("sub", when(col("ndt") > lit(levenshteinBlockCap),
            expr("concat_ws(' ', slice(split(text, ' '), 1, 2))")).otherwise(lit("")))
          .withColumn("gid", xxhash64(col("text")))
        val blockKeys = Seq("lang", "n_chars", "sub")
        def blockJoin(x: String, y: String) =
          blockKeys.map(k => col(s"$x.$k") === col(s"$y.$k")).reduce(_ && _)
        val pairs =
          if (CorpusStats.mostlyUnique(s, d)) {
            docs.as("x").join(docs.as("y"),
                blockJoin("x", "y") && col("x.doc_id") < col("y.doc_id"))
              .withColumn("dist", levenshtein(col("x.text"), col("y.text")))
              .where("dist <= CAST(x.n_chars AS INT) / 5")
              .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
                col("dist").cast("int").as("dist"))
          } else {
            val rep = docs.groupBy("lang", "n_chars", "gid")
              .agg(min("doc_id").as("rep"), first("text").as("text"),
                first("sub").as("sub"), count(lit(1)).as("n_dup"))
              .persist()
            val repPairs = rep.as("x").join(rep.as("y"),
                blockJoin("x", "y") && col("x.rep") < col("y.rep"))
              .withColumn("dist", levenshtein(col("x.text"), col("y.text")))
              .where("dist <= CAST(x.n_chars AS INT) / 5")
              .select(col("x.rep").as("r1"), col("y.rep").as("r2"),
                col("dist").cast("int").as("dist"))
            val members = docs.join(rep.select("lang", "n_chars", "gid", "rep"),
                Seq("lang", "n_chars", "gid"))
              .select("rep", "doc_id")
            val inter = repPairs
              .join(members.select(col("rep").as("r1"), col("doc_id").as("a")), "r1")
              .join(members.select(col("rep").as("r2"), col("doc_id").as("b")), "r2")
              .select(least(col("a"), col("b")).as("d1"),
                greatest(col("a"), col("b")).as("d2"), col("dist"))
            val intra = rep.where("n_dup >= 2").select("rep")
              .join(members.select(col("rep"), col("doc_id").as("a")), "rep")
              .join(members.select(col("rep"), col("doc_id").as("b")), "rep")
              .where("a < b")
              .select(col("a").as("d1"), col("b").as("d2"), lit(0).cast("int").as("dist"))
            val out = inter.unionByName(intra).localCheckpoint()
            rep.unpersist()
            out
          }
        pairs.orderBy("d1", "d2")
      },
      Some("WITH dd AS (SELECT doc_id, lang, n_chars, text FROM documents " +
        "WHERE n_chars < 200 AND lang IS NOT NULL AND text IS NOT NULL " +
        "UNION ALL SELECT 900000001, 'zz', 23, 'zzlev fixture alpha one' " +
        "UNION ALL SELECT 900000002, 'zz', 23, 'zzlev fixture alpha oze'), " +
        "bc AS (SELECT lang, n_chars, count(DISTINCT text) AS ndt FROM dd GROUP BY lang, n_chars), " +
        s"e AS (SELECT dd.*, CASE WHEN ndt > $levenshteinBlockCap THEN " +
        "array_to_string(list_slice(string_split(text, ' '), 1, 2), ' ') ELSE '' END AS sub " +
        "FROM dd JOIN bc USING (lang, n_chars)) " +
        "SELECT x.doc_id AS d1, y.doc_id AS d2, CAST(levenshtein(x.text, y.text) AS INTEGER) AS dist " +
        "FROM e x JOIN e y " +
        "ON x.lang = y.lang AND x.n_chars = y.n_chars AND x.sub = y.sub AND x.doc_id < y.doc_id " +
        "WHERE levenshtein(x.text, y.text) <= x.n_chars / 5 " +
        "ORDER BY d1, d2")),

    // SemDeDup-style semantic dedup: cluster by nearest centroid, then
    // pairwise cosine ONLY within a cluster — the quadratic term is
    // per-cluster (at 100 TB: more centroids, same shape). Keeps the
    // lowest vec_id of each similar pair; reports per-cluster totals.
    Op("llm_semdedup",
      (s, d) => {
        val assigned = LlmOps.kmeansAssign(s, d)
        val pairs = assigned.as("x").join(assigned.as("y"),
            col("x.c_id") === col("y.c_id") && col("x.vec_id") < col("y.vec_id"))
          .where("cosine_sim(x.embedding, y.embedding) >= 0.3")
          .select(col("x.c_id").as("c_id"), col("y.vec_id").as("v2"))
        val perCluster = assigned.groupBy("c_id").agg(count(lit(1)).as("n_vecs"))
        val dupAgg = pairs.groupBy("c_id")
          .agg(count(lit(1)).as("n_pairs"), countDistinct("v2").as("n_dropped"))
        perCluster.join(dupAgg, Seq("c_id"), "left")
          .select(col("c_id"), col("n_vecs"),
            coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
            coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
          .orderBy("c_id")
      },
      Some(LlmOps.oKmeansAssign +
        ", p AS (SELECT x.c_id AS c_id, y.vec_id AS v2 FROM m x JOIN m y " +
        "ON x.c_id = y.c_id AND x.vec_id < y.vec_id " +
        s"WHERE ${LlmOps.oSim("x.embedding", "y.embedding")} >= 0.3), " +
        "pc AS (SELECT c_id, count(*) AS n_vecs FROM m GROUP BY c_id), " +
        "da AS (SELECT c_id, count(*) AS n_pairs, count(DISTINCT v2) AS n_dropped FROM p GROUP BY c_id) " +
        "SELECT pc.c_id, n_vecs, COALESCE(n_pairs, 0) AS n_pairs, " +
        "COALESCE(n_dropped, 0) AS n_dropped " +
        "FROM pc LEFT JOIN da USING (c_id) ORDER BY pc.c_id")),

    // benchmark-contamination scan: probe phrases (8-token spans drawn
    // deterministically from every 100th doc) substring-matched against the
    // whole corpus. Probe set is bounded -> broadcast; the corpus side
    // streams, so the scan stays embarrassingly parallel at any scale.
    Op("llm_contamination_check",
      (s, d) => {
        val docs = T.t(s, d, "documents")
        val probes = docs
          .where("doc_id % 100 = 7 AND size(split(text, ' ')) >= 10")
          .select(col("doc_id").as("probe_id"),
            array_join(slice(split(col("text"), " "), 3, 8), " ").as("phrase"))
        docs.join(broadcast(probes),
            col("doc_id") =!= col("probe_id") && instr(col("text"), col("phrase")) > 0)
          .select("doc_id", "probe_id", "phrase")
          .orderBy("doc_id", "probe_id")
      },
      Some("WITH probes AS (SELECT doc_id AS probe_id, " +
        "array_to_string((string_split(text, ' '))[3:10], ' ') AS phrase " +
        "FROM documents WHERE doc_id % 100 = 7 AND len(string_split(text, ' ')) >= 10) " +
        "SELECT d.doc_id, probe_id, phrase FROM documents d, probes " +
        "WHERE d.doc_id <> probe_id AND strpos(d.text, phrase) > 0 " +
        "ORDER BY d.doc_id, probe_id")),

    // exact-substring dedup (the \"deduplicating training data\" op): doc
    // pairs sharing ANY run of 20 identical consecutive tokens, found by
    // hashing every 20-token window and inverted-index self-joining the
    // window hashes — the scalable stand-in for a suffix array, with the
    // same df cap as the jaccard pairs so a boilerplate window shared by
    // thousands of docs can't go quadratic. Spark joins on 8-byte window
    // hashes; the oracle joins the literal window strings.
    Op("llm_dedup_substring",
      (s, d) => {
        // exact-dedup-first quotient (as in jaccardPairs): window-hash and
        // self-join one representative per identical text, df weighted by
        // group size; expand rep pairs to members. Intra-group pairs share
        // exactly the doc's rare windows (n_shared = r_w). Adaptive like
        // jaccardPairs: direct join when the corpus is duplicate-free.
        val gl = T.spread(T.t(s, d, "documents"))
          .select(col("doc_id"), lower(col("text")).as("ltext"))
          .withColumn("gid", struct(xxhash64(col("ltext")), length(col("ltext"))))
        val winExpr = "array_distinct(transform(sequence(1, size(toks) - 19), " +
          "i -> xxhash64(concat_ws(' ', slice(toks, i, 20)))))"
        if (CorpusStats.mostlyUnique(s, d)) {
          val win = gl
            .withColumn("toks", split(col("ltext"), " "))
            .where("size(toks) >= 20")
            .select(col("doc_id"), explode(expr(winExpr)).as("w"))
            .persist()
          val rare = win.groupBy("w").agg(count(lit(1)).as("df"))
            .where(s"df <= ${CorpusStats.rareDfCap(s, d)}").select("w")
          val wr = win.join(rare, "w")
          val out = wr.as("x").join(wr.as("y"),
              col("x.w") === col("y.w") && col("x.doc_id") < col("y.doc_id"))
            .groupBy(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
            .agg(count(lit(1)).as("n_shared"))
            .localCheckpoint()
          win.unpersist()
          out.orderBy("d1", "d2")
        } else {
        val gidRep = gl.groupBy("gid")
          .agg(min("doc_id").as("rep"), first("ltext").as("ltext"),
            count(lit(1)).as("n_dup"))
          .persist()
        val win = gidRep
          .withColumn("toks", split(col("ltext"), " "))
          .where("size(toks) >= 20")
          .select(col("rep"), col("n_dup"), explode(expr(winExpr)).as("w"))
          .persist()
        val rare = win.groupBy("w").agg(sum("n_dup").as("df"))
          .where(s"df <= ${CorpusStats.rareDfCap(s, d)}").select("w")
        val wr = win.join(rare, "w").select("rep", "w").persist()
        val repPairs = wr.as("x").join(wr.as("y"),
            col("x.w") === col("y.w") && col("x.rep") < col("y.rep"))
          .groupBy(col("x.rep").as("r1"), col("y.rep").as("r2"))
          .agg(count(lit(1)).as("n_shared"))
        val members = gl.join(gidRep.select("gid", "rep"), "gid")
          .select(col("rep"), col("doc_id"))
        val inter = repPairs
          .join(members.select(col("rep").as("r1"), col("doc_id").as("a")), "r1")
          .join(members.select(col("rep").as("r2"), col("doc_id").as("b")), "r2")
          .select(least(col("a"), col("b")).as("d1"),
            greatest(col("a"), col("b")).as("d2"), col("n_shared"))
        val intra = gidRep.where("n_dup >= 2").select("rep")
          .join(wr.groupBy("rep").agg(count(lit(1)).as("n_shared")), "rep")
          .join(members.select(col("rep"), col("doc_id").as("a")), "rep")
          .join(members.select(col("rep"), col("doc_id").as("b")), "rep")
          .where("a < b")
          .select(col("a").as("d1"), col("b").as("d2"), col("n_shared"))
        // shared-window pairs are tiny — pin them, release the caches
        val out = inter.unionByName(intra).localCheckpoint()
        Seq(gidRep, win, wr).foreach(_.unpersist())
        out.orderBy("d1", "d2")
        }
      },
      Some("WITH " + oSubstringCtes +
        " SELECT d1, d2, n_shared FROM spairs ORDER BY d1, d2")),

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

    // The corpus appears only as keyed lookup tables (one row per
    // distinct hash/signature) — at 100 TB these are the DedupIndex you
    // persist between runs; the increment joins against them and the
    // corpus never self-joins. The keying and verdict logic live in
    // graft.api.DedupIndex so the one-shot operator and the persistent
    // index can never drift (a spec pins them equal).
    Op("llm_dedup_incremental",
      (s, d) => {
        val docs = T.t(s, d, "documents")
        graft.api.DedupIndex.verdicts(
            docs.where("doc_id % 5 = 0"),                            // today's batch
            graft.api.DedupIndex.keyed(docs.where("doc_id % 5 <> 0"))) // accumulated
          .orderBy("doc_id")
      },
      // oracle groups on the normalized text itself (same partition as
      // the collision-free sha2, which DuckDB 1.0 lacks)
      Some("WITH c AS (SELECT doc_id, lower(trim(text)) AS eh, " +
        "array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ') AS sig " +
        "FROM documents WHERE doc_id % 5 <> 0), " +
        "i AS (SELECT doc_id, lower(trim(text)) AS eh, " +
        "array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ') AS sig " +
        "FROM documents WHERE doc_id % 5 = 0), " +
        "e AS (SELECT eh, min(doc_id) AS exact_match FROM c GROUP BY eh), " +
        "n AS (SELECT sig, min(doc_id) AS near_match FROM c GROUP BY sig) " +
        "SELECT i.doc_id, CASE WHEN e.exact_match IS NOT NULL THEN 'exact' " +
        "WHEN n.near_match IS NOT NULL THEN 'near' ELSE 'keep' END AS verdict, " +
        "coalesce(e.exact_match, n.near_match) AS match_id " +
        "FROM i LEFT JOIN e USING (eh) LEFT JOIN n USING (sig) ORDER BY i.doc_id")),

    // The full two-stage near-dup pipeline: LSH band buckets generate
    // candidates (cheap, recall-oriented), then EXACT jaccard over the
    // candidates' complete shingle sets decides (precision) — the
    // verify step llm_dedup_minhash's estimate skips. Output is fully
    // deterministic set arithmetic, so unlike the raw estimate it needs
    // no sketch-tolerance oracle. The quadratic term stays confined to
    // band buckets; the verify join touches only candidate pairs.
    Op("llm_minhash_verified",
      (s, d) => {
        // the checkpointed verified-pair set feeds FIVE consumers per
        // session (this op, llm_dedup_verdicts, the recall audit, and
        // the round-5 composed dedup ops) — build once per session
        val pairs = CorpusStats.memoDf(s, d, "minhashVerifiedPairs") {
          val (base, cand) = minhashCandidates(s, d)
          val out = cand
            .join(base.select(col("doc_id").as("d1"), col("ths").as("t1")), "d1")
            .join(base.select(col("doc_id").as("d2"), col("ths").as("t2")), "d2")
            .withColumn("n_inter", expr("size(array_intersect(t1, t2))"))
            .withColumn("jaccard",
              expr("CAST(n_inter AS DOUBLE) / (size(t1) + size(t2) - n_inter)"))
            .where("jaccard >= 0.5")
            .select("d1", "d2", "jaccard")
            .localCheckpoint()
          base.unpersist()
          out
        }
        pairs.orderBy("d1", "d2")
      },
      Some("WITH " + oMinhashVerifiedCtes +
        " SELECT d1, d2, jaccard FROM mvpairs ORDER BY d1, d2")),

    // Duplicate-group-size histogram: how many identical-text groups of
    // each multiplicity the corpus holds, plus the doc and share view —
    // the profile you read before choosing a dedup strategy, and exactly
    // the statistic the adaptive quotient pair-generators switch on.
    // Two bounded aggregations; nothing leaves the executors until the
    // per-multiplicity rollup.
    Op("llm_dup_histogram",
      (s, d) => {
        val docs = T.t(s, d, "documents")
        // (hash, length) group key: a collision now needs an equal-length
        // 64-bit match, negligible even at billions of docs per length
        // class (the oracle groups on the text itself)
        val groups = docs
          .groupBy(xxhash64(lower(trim(col("text")))).as("gid"),
            length(lower(trim(col("text")))).as("glen"))
          .agg(count(lit(1)).as("n_dup"))
        val total = docs.agg(count(lit(1)).as("total"))
        groups.groupBy("n_dup").agg(count(lit(1)).as("n_groups"))
          .crossJoin(broadcast(total))
          .select(col("n_dup"), col("n_groups"),
            (col("n_dup") * col("n_groups")).as("n_docs"),
            expr("floor(CAST(n_dup * n_groups AS DOUBLE) / total * 1000000) / 1000000")
              .as("share"))
          .orderBy("n_dup")
      },
      Some("WITH g AS (SELECT lower(trim(text)) AS k, count(*) AS n_dup " +
        "FROM documents GROUP BY k), " +
        "t AS (SELECT count(*) AS total FROM documents) " +
        "SELECT n_dup, count(*) AS n_groups, " +
        "CAST(n_dup * count(*) AS BIGINT) AS n_docs, " +
        "floor(CAST(n_dup * count(*) AS DOUBLE) / total * 1000000) / 1000000 AS share " +
        "FROM g, t GROUP BY n_dup, total ORDER BY n_dup")),

    // LSH estimator-quality audit: on the band-generated candidate set,
    // how often does the 16-hash MinHash estimate (>= 0.5) agree with
    // the exact shingle-set jaccard (>= 0.5)? One row: candidate count,
    // hits under each judge, agreement, and the estimator's precision —
    // the audit that decides whether the cheap estimate can gate
    // pair-emission on its own or the exact verify stage stays. Both
    // judges are computed in the same candidate-confined pass.
    Op("llm_lsh_precision_audit",
      (s, d) => {
        val (base, cand) = minhashCandidates(s, d)
        val judged = cand
          .join(base.select(col("doc_id").as("d1"), col("ths").as("t1"), col("sig").as("s1")), "d1")
          .join(base.select(col("doc_id").as("d2"), col("ths").as("t2"), col("sig").as("s2")), "d2")
          .withColumn("est_hit", expr(
            "size(filter(sequence(1, 16), i -> element_at(s1, i) = element_at(s2, i))) >= 8"))
          .withColumn("n_inter", expr("size(array_intersect(t1, t2))"))
          .withColumn("exact_hit",
            expr("CAST(n_inter AS DOUBLE) / (size(t1) + size(t2) - n_inter) >= 0.5"))
        val out = judged.agg(
            count(lit(1)).as("n_candidates"),
            sum(when(col("est_hit"), 1L).otherwise(0L)).as("n_est_hits"),
            sum(when(col("exact_hit"), 1L).otherwise(0L)).as("n_exact_hits"),
            sum(when(col("est_hit") && col("exact_hit"), 1L).otherwise(0L)).as("n_agree"))
          .select(col("n_candidates"), col("n_est_hits"), col("n_exact_hits"), col("n_agree"),
            expr("CASE WHEN n_est_hits = 0 THEN CAST(NULL AS DOUBLE) " +
              "ELSE CAST(n_agree AS DOUBLE) / n_est_hits END").as("est_precision"))
          .localCheckpoint()
        base.unpersist()
        out
      },
      Some("WITH " + oMinhashCtes("documents", keepThs = true) + ", " + oLshPairs("cand") + ", " +
        "j AS (SELECT " +
        "len(list_filter(range(1, 17), i -> a.sig[i] = b.sig[i])) >= 8 AS est_hit, " +
        "CAST(len(list_intersect(a.ths, b.ths)) AS DOUBLE) / " +
        "(len(a.ths) + len(b.ths) - len(list_intersect(a.ths, b.ths))) >= 0.5 AS exact_hit " +
        "FROM cand JOIN sigs a ON cand.d1 = a.doc_id JOIN sigs b ON cand.d2 = b.doc_id) " +
        "SELECT count(*) AS n_candidates, " +
        "CAST(SUM(CASE WHEN est_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_est_hits, " +
        "CAST(SUM(CASE WHEN exact_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_hits, " +
        "CAST(SUM(CASE WHEN est_hit AND exact_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_agree, " +
        "CASE WHEN SUM(CASE WHEN est_hit THEN 1 ELSE 0 END) = 0 THEN CAST(NULL AS DOUBLE) " +
        "ELSE CAST(SUM(CASE WHEN est_hit AND exact_hit THEN 1 ELSE 0 END) AS DOUBLE) / " +
        "SUM(CASE WHEN est_hit THEN 1 ELSE 0 END) END AS est_precision FROM j")),

    // Winnowing fingerprints (Schleimer et al. 2003 — the MOSS method):
    // ordered 3-gram hashes, sliding window of 8, keep each window's
    // minimum, fingerprint = the distinct selected hashes. Guarantees
    // any shared run of >= 10 tokens shares a fingerprint while storing
    // ~2/(w+1) of the hashes. Everything stays inside one codegen'd
    // array pipeline per row; the md5-derived hash VALUES are replayed
    // identically by the oracle (min-selection depends on the values,
    // so the usual opaque-hash shortcut doesn't apply).
    Op("llm_winnow_fingerprint",
      (s, d) => T.spread(T.t(s, d, "documents"))
        .withColumn("toks", split(lower(col("text")), " "))
        .where("size(toks) >= 10")
        .withColumn("hs", expr(winnowHashExpr))
        .withColumn("fps", expr(winnowFpsExpr))
        .select(col("doc_id"),
          expr("CAST(size(fps) AS INT)").as("n_fp"),
          expr("array_min(fps)").as("fp_min"),
          expr("aggregate(fps, CAST(0 AS BIGINT), (a, x) -> a ^ x)").as("fp_xor"))
        .orderBy("doc_id"),
      Some("WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents), " +
        "h AS (SELECT doc_id, list_transform(range(1, len(toks) - 1), i -> " +
        s"${T.oH32("concat(toks[i], ' ', toks[i + 1], ' ', toks[i + 2])")}) AS hs " +
        "FROM t WHERE len(toks) >= 10), " +
        "f AS (SELECT doc_id, list_distinct(list_transform(range(1, len(hs) - 6), " +
        "j -> list_min(list_slice(hs, j, j + 7)))) AS fps FROM h) " +
        "SELECT doc_id, CAST(len(fps) AS INTEGER) AS n_fp, list_min(fps) AS fp_min, " +
        "list_reduce(list_prepend(CAST(0 AS BIGINT), fps), (a, x) -> xor(a, x)) AS fp_xor " +
        "FROM f ORDER BY doc_id")),

    // 13-gram benchmark contamination (the GPT-3-report method): a
    // corpus doc is contaminated if it shares ANY 13-token window with a
    // held-out benchmark doc. Window hashes equi-join between the two
    // sides — benchmark-side hashes are the small build side, the corpus
    // is never self-joined — so the check costs one corpus scan at any
    // scale. (llm_contamination_check keeps the phrase-probe variant;
    // this is the n-gram-overlap one evaluation reports actually use.)
    Op("llm_contamination_ngram",
      (s, d) => {
        def wins(df: org.apache.spark.sql.DataFrame) = df
          .withColumn("toks", split(lower(col("text")), " "))
          .where("size(toks) >= 13")
          .select(col("doc_id"), explode(expr(
            "array_distinct(transform(sequence(1, size(toks) - 12), " +
              "i -> xxhash64(concat_ws(' ', slice(toks, i, 13)))))")).as("w"))
        // seeded contamination pair: the synthetic corpus has no real
        // 13-gram overlap at small SFs, which would make the driver's
        // oracle compare vacuous (0 == 0 rows). One constructed bench
        // doc (id % 97 = 0) and one corpus doc embedding its 13-token
        // window — with tokens no generated text contains — exercise
        // the hit path end-to-end; the oracle unions the identical rows.
        val docs = T.spread(T.t(s, d, "documents")).select("doc_id", "text")
          .unionByName(s.createDataFrame(
            java.util.Arrays.asList(
              org.apache.spark.sql.Row(97000291L, contamWindow),
              org.apache.spark.sql.Row(97000292L,
                s"zzqpre ${contamWindow} zzqpost")),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("doc_id",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("text",
                org.apache.spark.sql.types.StringType)))))
        val bench = wins(docs.where("doc_id % 97 = 0"))
          .select(col("w"), col("doc_id").as("bench_id"))
        wins(docs.where("doc_id % 97 <> 0"))
          .join(bench, "w")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shared_windows"),
            min("bench_id").as("first_bench_id"))
          .orderBy("doc_id")
      },
      Some("WITH du AS (SELECT doc_id, text FROM documents " +
        s"UNION ALL SELECT 97000291, '${contamWindow}' " +
        s"UNION ALL SELECT 97000292, 'zzqpre ${contamWindow} zzqpost'), " +
        "w AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
        "range(1, len(toks) - 11), i -> array_to_string(list_slice(toks, i, i + 12), ' ')))) AS w " +
        "FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM du) " +
        "WHERE len(toks) >= 13), " +
        "bench AS (SELECT w, doc_id AS bench_id FROM w WHERE doc_id % 97 = 0), " +
        "corp AS (SELECT doc_id, w FROM w WHERE doc_id % 97 <> 0) " +
        "SELECT doc_id, count(*) AS n_shared_windows, min(bench_id) AS first_bench_id " +
        "FROM corp JOIN bench USING (w) GROUP BY doc_id ORDER BY doc_id")),

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
      Some("WITH RECURSIVE " + oMinhashVerifiedCtes + ", " +
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
      Some("WITH " + oMinhashVerifiedCtes + ", " + oSubstringCtes + ", " +
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

    // MEASURED MinHash recall per jaccard decile — the empirical
    // S-curve to hold against llm_minhash_band_tuning's predicted one
    // (and the counterpart of llm_lsh_precision_audit): of the exact
    // inverted-index jaccard pairs (truth), which fraction did the
    // banded MinHash candidate path recover? Composes the two existing
    // registry generators directly, so the audit measures exactly the
    // production pipelines; one left join + one agg on top.
    Op("llm_minhash_recall",
      (s, d) => {
        val truth = jaccardPairs(s, d)
        val cand = graft.Registry.byKey("llm_minhash_verified").query(s, d)
          .select(col("d1"), col("d2"), lit(1L).as("hit"))
        truth.join(cand, Seq("d1", "d2"), "left")
          .select(expr("least(9, CAST(floor(jaccard * 10) AS BIGINT))").as("bucket"),
            coalesce(col("hit"), lit(0L)).as("hit"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_true"), sum("hit").as("n_hit"))
          .withColumn("recall_fp", expr("n_hit * 1000000 div n_true"))
          .orderBy("bucket")
      },
      Some("WITH " + oJaccardPairs + ", " + oMinhashVerifiedCtes + ", " +
        "jj AS (SELECT p.jaccard, CASE WHEN m.d1 IS NOT NULL THEN 1 ELSE 0 END AS hit " +
        "FROM pairs p LEFT JOIN mvpairs m ON m.d1 = p.d1 AND m.d2 = p.d2) " +
        "SELECT least(9, CAST(floor(jaccard * 10) AS BIGINT)) AS bucket, count(*) AS n_true, " +
        "CAST(SUM(hit) AS BIGINT) AS n_hit, " +
        "(CAST(SUM(hit) AS BIGINT) * 1000000) // count(*) AS recall_fp " +
        "FROM jj GROUP BY 1 ORDER BY bucket")),

    // PageRank centrality over the MinHash-verified near-dup graph:
    // the canonical-document selector — inside a dup cluster the
    // highest-centrality doc is the best representative to KEEP (most
    // connected to its variants), a step beyond min-id. Pure
    // fixed-point integer PageRank (GraphOps.pagerankFp: 1e6-unit
    // ranks, damping as exact floor division) — no floating point, so
    // bit-identical under any partitioning. Reuses the registry's
    // verified-pair generator directly; top-20 by centrality.
    Op("llm_pagerank_centrality",
      (s, d) => {
        val pairs = graft.Registry.byKey("llm_minhash_verified").query(s, d)
          .select("d1", "d2").persist()
        val pr = GraphOps.pagerankFp(pairs, iters = 3)
        pairs.unpersist()
        pr.select(col("id").as("doc_id"), col("pr_fp"), col("deg"))
          .orderBy(desc("pr_fp"), col("doc_id")).limit(20)
      },
      Some("WITH " + oMinhashVerifiedCtes + ", " +
        "edges AS (SELECT d1, d2 FROM mvpairs UNION ALL SELECT d2, d1 FROM mvpairs), " +
        "dg AS (SELECT d1 AS id, count(*) AS deg FROM edges GROUP BY d1), " +
        "r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM dg), " +
        (1 to 3).map(k =>
          s"r$k AS (SELECT e.d2 AS id, 150000 + CAST(SUM((r.r * 85) // (100 * g.deg)) AS BIGINT) AS r " +
          s"FROM r${k - 1} r JOIN edges e ON e.d1 = r.id JOIN dg g ON g.id = r.id GROUP BY e.d2)")
          .mkString(", ") + " " +
        "SELECT r3.id AS doc_id, r3.r AS pr_fp, g.deg AS deg FROM r3 " +
        "JOIN dg g ON g.id = r3.id ORDER BY pr_fp DESC, doc_id LIMIT 20")),

    // MinHash LSH design-point table: for every (bands, rows) split of
    // the 128-perm signature, the S-curve threshold (1/b)^(1/r) and the
    // candidate probability 1-(1-s^r)^b at similarity 0.5/0.7/0.8/0.9 —
    // the table read BEFORE committing a 100-TB dedup run to a banding
    // scheme (llm_dedup_minhash uses b=32, r=4: threshold ~0.42, which
    // this table shows catches s=0.7 pairs with p~0.999 while passing
    // only ~7% of s=0.3 noise). Fixed-point floor(x*1000 + eps) keeps
    // the doubles binary-comparable across engines.
    Op("llm_minhash_band_tuning",
      (s, d) => {
        import s.implicits._
        def p(sim: Double) =
          s"CAST(floor((1.0 - pow(1.0 - pow($sim, CAST(r AS DOUBLE)), CAST(b AS DOUBLE))) * 1000 + 0.000001) AS BIGINT)"
        Seq(4L, 8L, 16L, 32L, 64L).toDF("b")
          .withColumn("r", expr("CAST(128 / b AS BIGINT)"))
          .select(col("b"), col("r"),
            expr("CAST(floor(pow(1.0 / CAST(b AS DOUBLE), 1.0 / CAST(r AS DOUBLE)) * 1000 + 0.000001) AS BIGINT)")
              .as("threshold_fp"),
            expr(p(0.5)).as("p50_fp"), expr(p(0.7)).as("p70_fp"),
            expr(p(0.8)).as("p80_fp"), expr(p(0.9)).as("p90_fp"))
          .orderBy("b")
      },
      Some {
        def p(sim: Double) =
          s"CAST(floor((1.0 - pow(1.0 - pow($sim, CAST(r AS DOUBLE)), CAST(b AS DOUBLE))) * 1000 + 0.000001) AS BIGINT)"
        "WITH t AS (SELECT CAST(b AS BIGINT) AS b, CAST(128 / b AS BIGINT) AS r " +
          "FROM (VALUES (4), (8), (16), (32), (64)) AS v(b)) " +
          "SELECT b, r, " +
          "CAST(floor(pow(1.0 / CAST(b AS DOUBLE), 1.0 / CAST(r AS DOUBLE)) * 1000 + 0.000001) AS BIGINT) AS threshold_fp, " +
          s"${p(0.5)} AS p50_fp, ${p(0.7)} AS p70_fp, " +
          s"${p(0.8)} AS p80_fp, ${p(0.9)} AS p90_fp " +
          "FROM t ORDER BY b"
      }),

    // KMV sketch ALGEBRA: pairwise source-overlap estimated purely
    // from the per-source sketches — union(A,B) is the k smallest of
    // the merged sketch arrays (KMV closure under union, the reason
    // this sketch and not HLL backs overlap planning), intersection
    // by inclusion–exclusion. At 100 TB this answers "which sources
    // duplicate each other" from 20 sketch rows of k longs each —
    // no text ever crosses the wire — while the exact_inter column
    // (a linear hash equi-join, audit-only) measures the estimator
    // error the sketch ships with. 20 sources → 190 pair rows.
    Op("llm_source_overlap_kmv",
      (s, d) => {
        val k = 64
        val base = T.spread(
            T.t(s, d, "documents")
              .where("source IS NOT NULL AND text IS NOT NULL"))
          .select(col("source"), expr(T.h60("text")).as("h"))
        val sk = base.groupBy("source")
          .agg(KmvAggregator.kmv(k)(col("h")).as("mins"))
        val a = sk.select(col("source").as("src_a"), col("mins").as("ma"))
        val b = sk.select(col("source").as("src_b"), col("mins").as("mb"))
        val pairs = a.join(broadcast(b), col("src_a") < col("src_b"))
          .withColumn("mu", expr(s"slice(array_sort(array_distinct(concat(ma, mb))), 1, $k)"))
          .select(col("src_a"), col("src_b"),
            expr(estOf("ma")).as("est_a"),
            expr(estOf("mb")).as("est_b"),
            expr(estOf("mu")).as("est_union"))
          .withColumn("est_inter",
            expr("greatest(est_a + est_b - est_union, CAST(0 AS BIGINT))"))
        val dist = base.distinct()
        val exact = dist.as("x").join(dist.as("y"),
            expr("x.h = y.h AND x.source < y.source"))
          .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
          .agg(count(lit(1)).as("exact_inter"))
        pairs.join(exact, Seq("src_a", "src_b"), "left")
          .withColumn("exact_inter",
            coalesce(col("exact_inter"), lit(0L)))
          .orderBy("src_a", "src_b")
      },
      Some("WITH h AS (SELECT DISTINCT source, " + T.oH60("text") + " AS h " +
        "FROM documents WHERE source IS NOT NULL AND text IS NOT NULL), " +
        "r AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM h), " +
        "sk AS (SELECT source, list(h ORDER BY h) FILTER (WHERE rn <= 64) AS mins FROM r GROUP BY source), " +
        "p AS (SELECT a.source AS src_a, b.source AS src_b, " +
        "list_sort(list_distinct(a.mins || b.mins))[1:64] AS mu, " +
        oEstOf("a.mins") + " AS est_a, " + oEstOf("b.mins") + " AS est_b " +
        "FROM sk a JOIN sk b ON a.source < b.source), " +
        "e AS (SELECT src_a, src_b, est_a, est_b, " + oEstOf("mu") + " AS est_union FROM p), " +
        "x AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS exact_inter " +
        "FROM h a JOIN h b ON a.h = b.h AND a.source < b.source GROUP BY 1, 2) " +
        "SELECT e.src_a, e.src_b, est_a, est_b, est_union, " +
        "greatest(est_a + est_b - est_union, 0) AS est_inter, " +
        "COALESCE(x.exact_inter, 0) AS exact_inter " +
        "FROM e LEFT JOIN x ON e.src_a = x.src_a AND e.src_b = x.src_b " +
        "ORDER BY e.src_a, e.src_b")),

    // Asymmetric near-dup direction: trigram-shingle CONTAINMENT
    // C = |A∩B| / min(|A|,|B|) between DISTINCT texts — jaccard says
    // "these two overlap", containment says "one lies inside the
    // other" (boilerplate-wrapped copies, excerpt pages), the signal
    // that picks WHICH document to drop. Same inverted-index discipline
    // as llm_ngram_jaccard: the scale-invariant rare cap
    // (df <= max(256, 1% of docs)) bounds posting lists,
    // denominators count every shingle; pair generation runs on one
    // representative per identical-(lowered-)text group, so the
    // quadratic term is |distinct texts| — bounded on duplicate-heavy
    // corpora by construction (the exact-dedup family owns expansion).
    Op("llm_shingle_containment",
      (s, d) => {
        val reps = T.spread(T.t(s, d, "documents"))
          .groupBy(lower(col("text")).as("ltext"))
          .agg(min("doc_id").as("doc_id"))
        val sid = reps
          .withColumn("toks", split(col("ltext"), " "))
          .where("size(toks) >= 3")
          .select(col("doc_id"), explode(expr(shingleHashExpr)).as("sid"))
          .localCheckpoint()
        val counts = sid.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
        val rare = sid.groupBy("sid").agg(count(lit(1)).as("df"))
          .where(s"df <= ${CorpusStats.rareDfCap(s, d)}").select("sid")
        val shRare = sid.join(rare, "sid")
        shRare.as("x").join(shRare.as("y"),
            col("x.sid") === col("y.sid") && col("x.doc_id") < col("y.doc_id"))
          .groupBy(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
          .agg(count(lit(1)).as("shared"))
          .join(counts.select(col("doc_id").as("d1"), col("n_sh").as("n1")), "d1")
          .join(counts.select(col("doc_id").as("d2"), col("n_sh").as("n2")), "d2")
          .withColumn("containment",
            expr("CAST(shared AS DOUBLE) / least(n1, n2)"))
          .where("containment >= 0.8")
          .select("d1", "d2", "containment")
          .orderBy("d1", "d2")
      },
      Some("WITH reps AS (SELECT min(doc_id) AS doc_id, ltext FROM (" +
        "SELECT doc_id, lower(text) AS ltext FROM documents) GROUP BY ltext), " +
        "sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1), " +
        "i -> concat(toks[i], ' ', toks[i + 1], ' ', toks[i + 2])))) AS shingle " +
        "FROM (SELECT doc_id, string_split(ltext, ' ') AS toks FROM reps) WHERE len(toks) >= 3), " +
        "counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id), " +
        s"rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= ${CorpusStats.oRareDfCap}), " +
        "shrare AS (SELECT doc_id, shingle FROM sh JOIN rare USING (shingle)), " +
        "shared AS (SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS shared " +
        "FROM shrare x JOIN shrare y ON x.shingle = y.shingle AND x.doc_id < y.doc_id " +
        "GROUP BY x.doc_id, y.doc_id) " +
        "SELECT d1, d2, containment FROM (" +
        "SELECT d1, d2, CAST(shared AS DOUBLE) / least(n1, n2) AS containment " +
        "FROM shared JOIN (SELECT doc_id AS d1, n_sh AS n1 FROM counts) c1 USING (d1) " +
        "JOIN (SELECT doc_id AS d2, n_sh AS n2 FROM counts) c2 USING (d2)) " +
        "WHERE containment >= 0.8 ORDER BY d1, d2")),

    // Duplicate rate per language from the KMV profile sketch alone —
    // the curation dashboard number llm_dataset_card computes with a
    // corpus-wide count(DISTINCT) shuffle, here read off k=64 longs
    // per lang (clamped: the estimator can exceed n_docs). The exact
    // column is the audit; at 100 TB the sketch from SketchStore IS
    // the dashboard, refreshed incrementally by kmvSink.
    Op("llm_dup_rate_kmv",
      (s, d) => {
        val base = T.spread(
            T.t(s, d, "documents")
              .where("lang IS NOT NULL AND text IS NOT NULL"))
        val n = base.groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          countDistinct("text").as("nd_exact"))
        val sk = base
          .select(col("lang"), expr(T.h60("text")).as("h"))
          .groupBy("lang")
          .agg(KmvAggregator.kmv(64)(col("h")).as("mins"))
          .withColumn("nd_est", expr(estOf("mins")))
        n.join(sk.select("lang", "nd_est"), "lang")
          .select(col("lang"), col("n_docs"),
            expr("least(nd_est, n_docs)").as("nd_est"),
            expr("(n_docs - least(nd_est, n_docs)) * 1000000 div n_docs")
              .as("dup_est_ppm"),
            expr("(n_docs - nd_exact) * 1000000 div n_docs")
              .as("dup_exact_ppm"))
          .orderBy("lang")
      },
      Some("WITH b AS (SELECT lang, text FROM documents " +
        "WHERE lang IS NOT NULL AND text IS NOT NULL), " +
        "n AS (SELECT lang, count(*) AS n_docs, count(DISTINCT text) AS nd_exact " +
        "FROM b GROUP BY lang), " +
        "h AS (SELECT DISTINCT lang, " + T.oH60("text") + " AS h FROM b), " +
        "r AS (SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn FROM h), " +
        "s AS (SELECT lang, count(*) AS nd, max(CASE WHEN rn = 64 THEN h END) AS kth " +
        "FROM r GROUP BY lang), " +
        "e AS (SELECT lang, CASE WHEN nd < 64 THEN nd ELSE " +
        "CAST(floor((CAST(63 AS DOUBLE) * 1152921504606846976.0) / CAST(kth AS DOUBLE)) AS BIGINT) " +
        "END AS nd_est FROM s) " +
        "SELECT n.lang, n_docs, least(nd_est, n_docs) AS nd_est, " +
        "(n_docs - least(nd_est, n_docs)) * 1000000 // n_docs AS dup_est_ppm, " +
        "(n_docs - nd_exact) * 1000000 // n_docs AS dup_exact_ppm " +
        "FROM n JOIN e ON n.lang = e.lang ORDER BY n.lang")),

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
          .select(expr(T.h60("CAST(k AS STRING)")).as("h"))
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
            T.h32(s"concat('b1:', CAST($kc AS STRING))") + " + CAST(i AS BIGINT) * " +
            T.h32(s"concat('b2:', CAST($kc AS STRING))") + ") % m)"
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
        "h AS (SELECT DISTINCT " + T.oH60("CAST(k AS VARCHAR)") + " AS h FROM keys), " +
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
        T.oH32("concat('b1:', CAST(k AS VARCHAR))") + " AS h1, " +
        T.oH32("concat('b2:', CAST(k AS VARCHAR))") + " AS h2 FROM keys), " +
        "bits AS (SELECT DISTINCT (h1 + i * h2) % m AS bit FROM (" +
        "SELECT h1, h2, m, unnest(range(0, j)) AS i FROM kh, geo2)), " +
        "ph AS (SELECT k, " +
        T.oH32("concat('b1:', CAST(k AS VARCHAR))") + " AS h1, " +
        T.oH32("concat('b2:', CAST(k AS VARCHAR))") + " AS h2 " +
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
    // graft.api.MinHashIndex (shared with the persistent store, which a
    // spec pins equal to this one-shot path). A seeded near-dup
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
        oMinhashCtes("du", keepThs = false, banded = "bb") + ", " +
        "cand AS (SELECT DISTINCT x.doc_id AS batch_id, y.doc_id AS corpus_id " +
        "FROM bb x JOIN bb y ON x.band = y.band AND x.band_sig = y.band_sig " +
        "WHERE x.doc_id % 17 = 5 AND y.doc_id % 17 <> 5) " +
        "SELECT batch_id, corpus_id, est_jaccard FROM (" +
        "SELECT batch_id, corpus_id, " +
        "CAST(len(list_filter(range(1, 17), i -> s1.sig[i] = s2.sig[i])) AS DOUBLE) / 16 AS est_jaccard " +
        "FROM cand JOIN sigs s1 ON cand.batch_id = s1.doc_id " +
        "JOIN sigs s2 ON cand.corpus_id = s2.doc_id) " +
        "WHERE est_jaccard >= 0.5 ORDER BY batch_id, corpus_id")),

    // Sentence-level duplication profile per source — the C4/CCNet
    // boilerplate signal (nav bars, cookie banners, legal footers
    // repeat VERBATIM across documents at the sentence level long
    // before whole documents collide). Sentences (split on '.',
    // trimmed, >= 20 chars) group by their exact text for the global
    // occurrence count; per-source rollup reports how much of each
    // source is repeated material. At 100 TB the string grouping key
    // becomes a 128-bit hash and the rollup is unchanged; one explode,
    // two shuffles (sentence df, source rollup).
    Op("llm_dedup_sentence",
      (s, d) => {
        val sent = T.spread(T.t(s, d, "documents"))
          .select(col("doc_id"), col("source"),
            explode(split(col("text"), "\\.")).as("sraw"))
          .withColumn("sent", trim(col("sraw")))
          .where("length(sent) >= 20")
        val occ = sent.groupBy("sent").agg(count(lit(1)).as("occ"))
        sent.join(occ, "sent")
          .groupBy("source").agg(
            count(lit(1)).as("n_sentences"),
            expr("CAST(count_if(occ >= 2) AS BIGINT)").as("n_dup"))
          .withColumn("dup_ppm", expr(
            "CAST(CAST(n_dup AS DECIMAL(38,0)) * 1000000 " +
              "div greatest(1, n_sentences) AS BIGINT)"))
          .orderBy("source")
      },
      Some("WITH sent AS (SELECT doc_id, source, trim(s) AS sent " +
        "FROM (SELECT doc_id, source, unnest(string_split(text, '.')) AS s FROM documents) " +
        "WHERE length(trim(s)) >= 20), " +
        "occ AS (SELECT sent, count(*) AS occ FROM sent GROUP BY 1) " +
        "SELECT source, count(*) AS n_sentences, " +
        "CAST(count_if(occ >= 2) AS BIGINT) AS n_dup, " +
        "CAST(CAST(count_if(occ >= 2) AS HUGEINT) * 1000000 " +
        "// greatest(1, count(*)) AS BIGINT) AS dup_ppm " +
        "FROM sent JOIN occ USING (sent) GROUP BY source ORDER BY source")),

    // Degree histogram of the near-dup pair graph: how many documents
    // have k near-dup neighbours — the shape that picks the dedup
    // strategy (a few giant boilerplate stars vs many isolated pairs)
    // and predicts connected-component sizes before running them.
    // Rides the session-memoized jaccardPairs build (zero extra pair
    // generation after llm_ngram_jaccard or the recall audit has run);
    // everything here is two tiny aggregates over the pair set.
    Op("llm_dedup_graph_stats",
      (s, d) => {
        val pairs = jaccardPairs(s, d)
        pairs.select(col("d1").as("doc_id"))
          .unionAll(pairs.select(col("d2").as("doc_id")))
          .groupBy("doc_id").agg(count(lit(1)).as("degree"))
          .groupBy("degree").agg(count(lit(1)).as("n_docs"))
          .orderBy("degree")
      },
      Some("WITH " + oJaccardPairs + ", " +
        "deg AS (SELECT doc_id, count(*) AS degree FROM " +
        "(SELECT d1 AS doc_id FROM pairs UNION ALL SELECT d2 AS doc_id FROM pairs) " +
        "GROUP BY 1) " +
        "SELECT degree, count(*) AS n_docs FROM deg GROUP BY 1 ORDER BY 1")),

    // Cross-source near-dup matrix: the exact-jaccard pair set rolled
    // up by (source, source) — which corpora copy from each other
    // (mirror sites, syndication, scraped re-posts) vs which only
    // self-duplicate. The signal that drives per-source dedup ORDER:
    // dedup the copying source against the copied-from one, not both
    // against everything. Rides the session-memoized jaccardPairs;
    // after the memo this is two broadcast-able dimension joins and a
    // |sources|^2-bounded aggregate.
    Op("llm_cross_source_dups",
      (s, d) => {
        val pairs = jaccardPairs(s, d)
        val src = T.t(s, d, "documents").select(col("doc_id"), col("source"))
        pairs
          .join(src.select(col("doc_id").as("d1"), col("source").as("s1")), "d1")
          .join(src.select(col("doc_id").as("d2"), col("source").as("s2")), "d2")
          .select(least(col("s1"), col("s2")).as("src_a"),
            greatest(col("s1"), col("s2")).as("src_b"))
          .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_pairs"))
          .orderBy("src_a", "src_b")
      },
      Some("WITH " + oJaccardPairs + " " +
        "SELECT least(a.source, b.source) AS src_a, " +
        "greatest(a.source, b.source) AS src_b, count(*) AS n_pairs " +
        "FROM pairs JOIN documents a ON pairs.d1 = a.doc_id " +
        "JOIN documents b ON pairs.d2 = b.doc_id " +
        "GROUP BY 1, 2 ORDER BY 1, 2")),

    // Pruning audit for the ball-pruned embedding near-dup: the match
    // count (same pair semantics as llm_embedding_neardup's oracle),
    // the label-blocked baseline pair count it replaced (straight off
    // the label histogram — sum n*(n-1)/2, no pair generation), and a
    // boolean pinning that cell-pruned candidate generation never
    // examines MORE pairs than the baseline. Recall needs no audit
    // column: the pruning is exact by the triangle inequality, and the
    // neardup op's own oracle is the label-blocked ground truth.
    Op("llm_neardup_prune_audit",
      (s, d) => {
        // one streaming aggregate over the LAZY candidate pipeline — never
        // materialize the pair frame (at 20x it is ~20M rows x 128 floats)
        val cand = neardupCellCandidates(s, d)
        val counts = cand.agg(
          count(lit(1)).as("n_candidates"),
          sum(when(expr(s"cosine_sim(e1, e2) >= ${neardupThr}"), 1L)
            .otherwise(0L)).as("n_matches"))
        val baseline = T.t(s, d, "embeddings")
          .groupBy("label").agg(count(lit(1)).as("n"))
          .agg(sum(expr("n * (n - 1) div 2")).as("n_label_pairs"))
        counts.crossJoin(broadcast(baseline))
          .select(col("n_label_pairs"), col("n_matches"),
            (col("n_candidates") <= col("n_label_pairs")).as("pruned_bounded"))
      },
      Some("WITH lp AS (SELECT CAST(sum(n * (n - 1) // 2) AS BIGINT) AS n_label_pairs " +
        "FROM (SELECT count(*) AS n FROM embeddings GROUP BY label)), " +
        "m AS (SELECT count(*) AS n_matches FROM (" +
        "SELECT x.vec_id FROM embeddings x JOIN embeddings y " +
        "ON x.label = y.label AND x.vec_id < y.vec_id " +
        s"WHERE ${LlmOps.oSim("x.embedding", "y.embedding")} >= ${neardupThr})) " +
        "SELECT n_label_pairs, CAST(n_matches AS BIGINT) AS n_matches, " +
        "true AS pruned_bounded FROM lp, m")),

    // URL canonicalization dedup — the first stage of every web-corpus
    // pipeline: raw crawl URLs vary in scheme/host case, tracking
    // queries and trailing slashes; canonicalize (lowercase, strip
    // query/fragment, strip trailing '/' — the policy is deliberately
    // aggressive and stated, the generated variants only vary where it
    // is lossless) and report the duplicate-group-size histogram. Two
    // map-side-combined aggregates; the canonical key is a pure codegen
    // regexp chain, no UDF.
    Op("llm_dedup_url",
      (s, d) => T.t(s, d, "documents")
        .withColumn("url", expr(
          "concat(CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTPS://' END, " +
            "CASE WHEN doc_id % 3 = 0 THEN 'WWW.Example.COM' ELSE 'www.example.com' END, " +
            "'/item/', CAST(doc_id div 4 AS STRING), " +
            "CASE WHEN doc_id % 5 = 0 THEN '/?utm_campaign=x&ref=a' " +
            "WHEN doc_id % 5 = 1 THEN '?utm_source=y' ELSE '' END)"))
        .withColumn("canon", expr(
          "regexp_replace(regexp_replace(lower(url), '[?#].*$', ''), '/+$', '')"))
        .groupBy("canon").agg(count(lit(1)).as("group_size"))
        .groupBy("group_size").agg(count(lit(1)).as("n_groups"))
        .orderBy("group_size"),
      Some("WITH u AS (SELECT concat(" +
        "CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTPS://' END, " +
        "CASE WHEN doc_id % 3 = 0 THEN 'WWW.Example.COM' ELSE 'www.example.com' END, " +
        "'/item/', CAST(doc_id // 4 AS VARCHAR), " +
        "CASE WHEN doc_id % 5 = 0 THEN '/?utm_campaign=x&ref=a' " +
        "WHEN doc_id % 5 = 1 THEN '?utm_source=y' ELSE '' END) AS url FROM documents), " +
        "c AS (SELECT regexp_replace(regexp_replace(lower(url), '[?#].*$', ''), '/+$', '') AS canon FROM u), " +
        "g AS (SELECT canon, count(*) AS group_size FROM c GROUP BY 1) " +
        "SELECT group_size, count(*) AS n_groups FROM g GROUP BY 1 ORDER BY 1")))
}
