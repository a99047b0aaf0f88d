package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{SketchFunctions, TextHashFunctions, VectorOps}
import graft.operators.Components
import graft.operators.EntryCaches.TrackedPersist
import graft.sources.Tables

/** Training-data pipeline operators over `documents` and `embeddings`:
  * deduplication (exact, n-gram Jaccard, MinHash-LSH, SimHash,
  * embedding near-dup), similarity search (brute-force top-k + LSH),
  * and text analysis (stats, language id, quality scoring,
  * fingerprints). Deterministic-by-construction; SQL-expressible ones
  * carry DuckDB oracles, hash-based ones are pinned by ScalaTest.
  */
object Pipeline {

  // shared normalization: lowercase, collapse whitespace
  private val norm: Column =
    lower(regexp_replace(trim(col("text")), "\\s+", " "))
  private val normSql =
    "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"
  private def toks: Column = split(norm, " ")
  private val toksSql = s"string_split($normSql, ' ')"

  /** 60-bit SimHash of a token array as one fold over the TOKENS:
    * each token is hashed exactly once (bound via the 1-element
    * transform) and contributes ±1 to 60 bit-counters; a final pass
    * folds the counters into the signature (majority rule `> 0`).
    * This shape exists because the obvious per-BIT outer fold gets the
    * token-hash array inlined inside its lambda by projection collapse,
    * so all 60 iterations re-hash the whole document — O(60·T) md5
    * calls instead of O(T) (9 s/query at sf0.001 before the fix).
    * Counter sums are identical, so signatures (and the per-bit DuckDB
    * oracle form) are unchanged. Since round 9 the entries use the
    * native [[graft.functions.Md5SimHash60]] expression instead (one
    * digest per token); this SQL form remains the REFERENCE the spec
    * pins the native expression against, exactly like the Md5MinHash
    * contract.
    */
  private[queries] def simhashSql(toksExpr: String): String = {
    import graft.functions.{HashScheme => H}
    s"""aggregate($toksExpr,
         cast(array_repeat(0, 60) as array<int>),
         (acc, t) -> element_at(transform(array(${H.h60Spark("t")}),
           h -> transform(sequence(0, 59), b ->
             element_at(acc, b + 1) +
               CASE WHEN (shiftright(h, b) & 1) = 1
                    THEN 1 ELSE -1 END)), 1),
         cnt -> aggregate(sequence(0, 59), 0L, (a2, b) -> a2 +
           CASE WHEN element_at(cnt, b + 1) > 0
                THEN shiftleft(1L, b) ELSE 0L END))"""
  }

  /** Exact wide integer arithmetic: sums and products of micro values
    * in DECIMAL(38,0), never an int64 that could wrap.
    */
  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "documents")

  /** Embedding-domain contract, applied at ingestion (the events
    * twin of [[graft.sources.Tables.events]]'s value filter): a vector
    * is analyzable iff it is non-null and every component is finite
    * with |x| < 100 — comfortably above any normalized embedding, and
    * inside the envelope where the catalog's integer-exact paths stay
    * exact (micro components ≤ 1e8, so 64-dim sums of squares fit
    * int64 with headroom). A single NaN component in a 100 TB
    * embedding table previously killed the 8 fixed-point ANN queries
    * with an ANSI CAST_OVERFLOW (EdgeCasesSpec NaN-corpus audit);
    * dropping out-of-domain vectors is the NA-drop rule the kernel
    * already applies to observations.
    */
  private[queries] def embs(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "embeddings")
      .filter(col("embedding").isNotNull &&
        expr("forall(embedding, x -> NOT isnan(x) AND abs(x) < 100.0)"))
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("emb"))

  // distinct (doc_id, shingle) pairs + per-doc shingle counts.
  // shingle identity = 64-bit n-gram hash (no string materialization;
  // output-identical to string shingles modulo ~1e-9 collision odds).
  // Set semantics via per-row array_distinct — no shuffle — and the
  // per-doc distinct count rides along so no separate counts join.
  private def shingleSets(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
        array_distinct(TextHashFunctions.ngram_hashes(toks, 5)).as("sharr"))
      .select(col("doc_id"), size(col("sharr")).cast("long").as("n"),
        explode(col("sharr")).as("shingle"))

  // distinct (doc_id, 3-gram hash) postings + per-doc counts — the
  // decontamination overlap unit shared by p24 and p28
  private def gram3Sets(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
        array_distinct(TextHashFunctions.ngram_hashes(toks, 3)).as("sharr"))
      .select(col("doc_id"), size(col("sharr")).cast("long").as("n"),
        explode(col("sharr")).as("shingle"))

  /** The LSH near-dup pair edges `(doc_a, doc_b)` and their connected
    * components `(node, label)`. Pairs are persisted: the components'
    * first eager checkpoint reads its edge input TWICE (both arms of
    * the symmetrize union), so uncached the whole LSH refine would run
    * twice per cold build.
    */
  private def lshComponents(d: DataFrame): (DataFrame, DataFrame) = {
    val pairs = minhashLshPairs(d).select("doc_a", "doc_b")
      .persistTracked()
    (pairs, Components.connectedComponents(pairs))
  }

  /** The dedup manifest: every doc with its near-dup cluster id, the
    * min doc_id of its LSH component; docs in no pair keep their own id.
    */
  private def clusterManifest(d: DataFrame): DataFrame =
    d.select(col("doc_id"))
      .join(lshComponents(d)._2.withColumnRenamed("node", "doc_id"),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))

  /** p03's document-frequency cap: shingles present in more than this
    * many documents are dropped from candidate generation (and hence
    * from the `common` intersection count) on BOTH engines. Without it
    * one stopword-like shingle at web scale emits df² candidate pairs —
    * a straight skew bomb on the shingle join; capped, the hottest key
    * contributes at most K² pairs per shingle. K is far above this
    * corpus's max df (4 at sf0.1, 3 at sf0.01), so output at the test
    * SFs is unchanged — pinned by PipelineSpec (capped == uncapped) and
    * by the unchanged driver oracle.
    */
  private[graft] val P03DfCap = 64L

  /** p34 Bloom sizing: m bits / k probes. At sf0.1's ~10k bench
    * shingles the load is kn/m ≈ 0.3 → FP rate (1-e^-0.3)^4 ≈ 0.5%; a
    * production run scales m with the bench-set size (the bitmap stays
    * a broadcast-friendly m/8 bytes either way).
    */
  private[graft] val BloomBits = graft.functions.BloomParams.Bits
  private[graft] val BloomK = graft.functions.BloomParams.K

  /** Single-row dense bloom bitmap of the benchmark 3-gram set —
    * p34's build, extracted so the batch gate and the streaming
    * curation gate ([[graft.streaming.StreamingCuration]]) probe the
    * definitionally same filter. Returns one row with `bits`
    * (array<bigint>[m/32], ~32 KB — broadcast it).
    */
  private[graft] def benchBloomBitmap(d: DataFrame): DataFrame = {
    import graft.functions.{HashScheme => H}
    val m = BloomBits
    val k = BloomK
    d.filter(col("doc_id") % 100 === 0)
      .select(explode(array_distinct(
        TextHashFunctions.word_ngrams(toks, 3))).as("shingle"))
      .withColumn("h1", expr(H.h32Spark("shingle")))
      .withColumn("h2", expr(H.h32bSpark("shingle")))
      .select(explode(sequence(lit(0), lit(k - 1))).as("i"),
        col("h1"), col("h2"))
      .select(((col("h1") + col("i") * col("h2")) % m).as("pos"))
      .select(expr("pos div 32").as("word_idx"),
        expr("shiftleft(cast(1 as bigint), cast(pos % 32 as int))")
          .as("msk"))
      .groupBy("word_idx").agg(expr("bit_or(msk)").as("word"))
      .agg(array_sort(collect_list(struct(col("word_idx"), col("word"))))
        .as("es"))
      .select(expr(s"""
        concat(
          flatten(transform(es, (e, j) ->
            concat(array_repeat(0L, cast(e.word_idx -
                (case when j = 0 then 0L
                      else element_at(es, j).word_idx + 1L end) as int)),
              array(e.word)))),
          array_repeat(0L, cast(${m / 32}L -
            (case when size(es) = 0 then 0L
                  else element_at(es, size(es)).word_idx + 1L end)
            as int)))""").as("bits"))
  }

  /** p58/p60's shared BM25 scorer: (query_id, doc_id, score6, n_terms)
    * for every sample query (doc_id % 100 = 0) against every corpus doc
    * sharing a term. See p58's header comment for the exactness and
    * scale analysis; p60 fuses these scores with the dense ranking.
    *
    * The PRUNED lexical twin is [[bm25PrefixScores]] (p99).
    */
  /** The shared BM25 posting list (doc_id, dl, tok, tf), persisted.
    * tf via explode + count: linear in tokens. The per-distinct-token
    * `size(filter(tk, _ === tok))` form this replaces rescanned the
    * whole token array per posting row — O(dl²) per document, a wrong
    * shape for long-doc corpora. Map-side partial combine collapses
    * repeated (doc, tok) pairs before the one shuffle, so shuffle
    * volume equals the distinct-postings size the old form carried.
    * dl is functionally dependent on doc_id; grouping by it adds no
    * cardinality and keeps it without a second pass.
    */
  private def bm25Post(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), toks.as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
        explode(col("tk")).as("tok"))
      .groupBy("doc_id", "dl", "tok")
      .agg(count(lit(1)).as("tf"))
      .select(col("doc_id"), col("dl"), col("tok"), col("tf"))
      .persistTracked() // read 3×: df dim, query terms, candidate probe

  /** The one-row corpus scalar (n_docs, a_toks). */
  private def bm25Scal(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .agg(count(lit(1)).as("n_docs"),
        sum(size(toks)).cast("long").as("a_toks"))

  private def bm25Scores(s: SparkSession, dir: String): DataFrame = {
    val post = bm25Post(s, dir)
    val scal = bm25Scal(s, dir)
    val dfdim = post.groupBy("tok").agg(count(lit(1)).as("df"))
    val qdim = post.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("q_id"), col("tok"))
      .join(dfdim, "tok")
      .crossJoin(broadcast(scal))
      .withColumn("idf6", expr("cast(round(ln((n_docs + 1.0D) / " +
        "(df + 0.5D)) * 1e6) as bigint)"))
      .select(col("q_id"), col("tok"), col("idf6"))
      // persisted so the candidate-probe join below sees qdim's TRUE
      // (small) size: unhinted, the build-side choice is the planner's,
      // and qdim's static estimate is inflated through its join +
      // crossJoin while the cached post reports exact bytes — without
      // this the planner picked BuildLeft and broadcast the full
      // POSTING table (measured ~1.6x on p58/p60). With exact stats
      // on both sides it builds on the genuinely smaller query side,
      // and at adversarial query-set sizes it degrades to a shuffle.
      .persistTracked()
    // per-term contribution via the native 128-bit kernel: the former
    // DECIMAL(38,0) num/den pipeline cost ~8× the identical integer
    // math on the 4.5M-row candidate stage (BigDecimal alloc per op
    // per row — r11 census); plain int64 overflows at 100 TB corpus
    // token counts, so Bm25Contrib does exact 128-bit products and an
    // exactly-corrected 128÷128 division. Bit-identical to the DECIMAL
    // form and the DuckDB HUGEINT oracle (ExtensionsSpec parity pin).
    // qdim is UNHINTED (r13): the query set is a fixed corpus fraction
    // (doc_id % 100) crossed with its terms, so a hard broadcast grows
    // linearly with the corpus — the p28 class. A real serving query
    // batch is bounded and AQE broadcasts it from its runtime size.
    post.join(qdim, "tok")
      .filter(col("doc_id") =!= col("q_id"))
      .crossJoin(broadcast(scal))
      .withColumn("c6", graft.functions.SeriesKernelFunctions.bm25_contrib(
        col("idf6"), col("tf"), col("dl"), col("a_toks"), col("n_docs")))
      .groupBy(col("q_id").as("query_id"), col("doc_id"))
      .agg(sum(col("c6")).as("score6"), count(lit(1)).as("n_terms"))
  }

  /** The exact-integer BM25 per-term contribution in DuckDB HUGEINT —
    * bit-identical to the Bm25Contrib kernel; factored so the full
    * scorer ([[bm25Cte]]'s cand) and the impact-prefix index
    * ([[bm25PrefixCte]]'s imp) can never drift. Expects `s.a_toks` /
    * `s.n_docs` in scope.
    */
  private def bm25ContribDuck(idf6: String, tf: String,
      dl: String): String = s"""
                 CAST((CAST($idf6 AS HUGEINT) * 22 * $tf * s.a_toks
                   + (10::HUGEINT * $tf * s.a_toks + 3::HUGEINT * s.a_toks
                      + 9::HUGEINT * $dl * s.n_docs) // 2)
                   // (10::HUGEINT * $tf * s.a_toks + 3::HUGEINT * s.a_toks
                      + 9::HUGEINT * $dl * s.n_docs) AS BIGINT)"""

  /** The matching DuckDB CTE chain, ending in
    * sc(query_id, doc_id, score6, n_terms). */
  private def bm25Cte: String = s"""
      d AS (SELECT doc_id, $toksSql AS tk FROM documents),
      post AS (SELECT doc_id, len(tk) AS dl, u.tok,
                 CAST(len(list_filter(tk, x -> x = u.tok)) AS BIGINT) AS tf
               FROM d, UNNEST(list_distinct(tk)) AS u(tok)),
      scal AS (SELECT count(*) AS n_docs,
                 CAST(sum(len(tk)) AS BIGINT) AS a_toks FROM d),
      dfdim AS (SELECT tok, count(*) AS df FROM post GROUP BY tok),
      qdim AS (SELECT p.doc_id AS q_id, p.tok,
                 CAST(round(ln((s.n_docs + 1.0) /
                   (f.df + 0.5)) * 1e6) AS BIGINT) AS idf6
               FROM post p JOIN dfdim f USING (tok), scal s
               WHERE p.doc_id % 100 = 0),
      cand AS (SELECT q.q_id AS query_id, p.doc_id,
${bm25ContribDuck("q.idf6", "p.tf", "p.dl")} AS c6
               FROM post p JOIN qdim q USING (tok), scal s
               WHERE p.doc_id <> q.q_id),
      sc AS (SELECT query_id, doc_id,
               CAST(sum(c6) AS BIGINT) AS score6,
               count(*) AS n_terms
             FROM cand GROUP BY 1, 2)"""

  /** p99's impact-ordered posting-prefix scorer — the PRUNED lexical
    * twin of [[bm25Scores]] (the JASS/WAND index family): per TERM,
    * only the top-`b` postings by exact integer BM25 contribution
    * ("impact"; idf is a per-term constant, so impact order is the
    * tf/length-normalized order) generate candidates, bounding the
    * lexical arm at |terms| x b rows however large the corpus — where
    * the full scorer's candidate volume is the corpus posting count.
    * Scores are exact integer sums over the prefix (the standard
    * impact-prefix approximation of full BM25 ranking). The rank
    * limit is a WindowGroupLimit pushdown, and the prefix is an
    * index-build-time artifact at 100 TB, not a per-query pass.
    */
  private def bm25PrefixScores(s: SparkSession, dir: String,
      b: Int): DataFrame = {
    val post = bm25Post(s, dir)
    val scal = bm25Scal(s, dir)
    val dfdim = post.groupBy("tok").agg(count(lit(1)).as("df"))
    val wI = Window.partitionBy("tok")
      .orderBy(col("c6").desc, col("doc_id"))
    val prefix = post.join(dfdim, "tok")
      .crossJoin(broadcast(scal))
      .withColumn("idf6", expr("cast(round(ln((n_docs + 1.0D) / " +
        "(df + 0.5D)) * 1e6) as bigint)"))
      .withColumn("c6", graft.functions.SeriesKernelFunctions.bm25_contrib(
        col("idf6"), col("tf"), col("dl"), col("a_toks"), col("n_docs")))
      .withColumn("pr", row_number().over(wI))
      .filter(col("pr") <= b)
      .select(col("doc_id"), col("tok"), col("c6"))
    val qterms = post.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("q_id"), col("tok"))
    prefix.join(qterms, "tok")
      .filter(col("doc_id") =!= col("q_id"))
      .groupBy(col("q_id").as("query_id"), col("doc_id"))
      .agg(sum(col("c6")).as("score6"), count(lit(1)).as("n_terms"))
  }

  /** [[bm25PrefixScores]]'s DuckDB twin: extends [[bm25Cte]]'s shared
    * prefix (d/post/scal/dfdim) and ends in
    * psc(query_id, doc_id, score6, n_terms). */
  private def bm25PrefixCte(b: Int): String = s"""$bm25Cte,
      imp AS (SELECT pp.doc_id, pp.tok,
${bm25ContribDuck("pp.idf6", "pp.tf", "pp.dl")} AS c6
              FROM (SELECT p.doc_id, p.tok, p.tf, p.dl,
                      CAST(round(ln((s0.n_docs + 1.0) /
                        (f.df + 0.5)) * 1e6) AS BIGINT) AS idf6
                    FROM post p JOIN dfdim f USING (tok), scal s0) pp,
                   scal s),
      pref AS (SELECT doc_id, tok, c6 FROM (
                 SELECT *, row_number() OVER (PARTITION BY tok
                   ORDER BY c6 DESC, doc_id) AS pr FROM imp)
               WHERE pr <= $b),
      qt AS (SELECT doc_id AS q_id, tok FROM post WHERE doc_id % 100 = 0),
      psc AS (SELECT q.q_id AS query_id, p.doc_id,
                CAST(sum(p.c6) AS BIGINT) AS score6,
                count(*) AS n_terms
              FROM pref p JOIN qt q USING (tok)
              WHERE p.doc_id <> q.q_id GROUP BY 1, 2)"""

  /** p63's IVF-PQ approximate top-k serving plan, parameterized by the
    * query set (vec_id % qMod = 0) and k — shared by p63 (qMod = 50,
    * the declared ANN entry) and p99 (qMod = 100, aligned with the
    * BM25 query set) so the scale-path pairing p07→p15 / p59→p63 /
    * p58·p60→p99 is CODE, not a comment, and the arms cannot drift.
    * Returns (query_id, neighbor_id, adot12, approx_dot, rk <= k).
    * See p63's entry comment for the exactness and scale analysis.
    */
  /** Test hook: the coarse-centroid frame exactly as [[ivfPqTopK]]
    * builds it — ScalePropertiesSpec pins its ccid uniqueness (the
    * fallback-allowlist 1:1 claim for the residual re-attach join).
    */
  private[graft] def p63CoarseFrame(s: SparkSession,
      dir: String): DataFrame = ivfPqCorpus(s, dir)._2

  private def ivfPqCorpus(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val e6 = embs(s, dir).select(col("vec_id"), Micro.vec("emb").as("v6"))
    (e6, ivfSeedCents(e6, "v6", cid = "ccid", ci = "c6"))
  }

  private def ivfPqTopK(s: SparkSession, dir: String, qMod: Long,
      k: Int): DataFrame = {
    val (e6, coarse) = ivfPqCorpus(s, dir)
    val top2 = coarseAssign(e6, coarse, vec = "v6", cent = "c6",
      cid = "ccid", payload = "v6", nprobe = 2)
    // centroid vectors re-attach AFTER selection from the 20-row
    // broadcast (1:1 on ccid — allowlisted in the fallback census with
    // a runtime uniqueness pin)
    // persisted: read 3× (corpus residual subs, PQ seed codebook,
    // query probe list)
    val probed = top2
      .join(broadcast(coarse), col("t.ccid") === col("ccid"))
      .select(col("vec_id"), col("ccid").as("cell"),
        (col("cpos") + 1).as("crk"),
        graft.functions.SeriesKernelFunctions
          .int_dot(col("v6"), col("c6")).as("qcdot12"),
        expr("zip_with(v6, c6, (x, y) -> x - y)").as("res"))
      .persistTracked()
    val rsubs = probed.filter(col("crk") === 1)
      .select(col("vec_id"), col("cell"),
        posexplode(expr(s"transform(sequence(0, ${PqM - 1}), " +
          s"m -> slice(res, m * $PqSub + 1, $PqSub))"))
          .as(Seq("m", "sub")))
      .select(col("vec_id"), col("cell"),
        col("m").cast("long").as("m"), col("sub"))
    val pqc = rsubs
      .filter(col("vec_id") % 31 === 0 && col("vec_id") < PqSeedBound)
      .select(col("vec_id").as("cid"), col("m").as("cm"),
        col("sub").as("csub"))
    val codes = rsubs.join(broadcast(pqc), col("m") === col("cm"))
      .withColumn("d2", graft.functions.SeriesKernelFunctions.int_sq_l2(col("sub"), col("csub")))
      .groupBy("vec_id", "cell", "m")
      .agg(min(struct(col("d2"), col("cid"))).as("best"))
      .select(col("vec_id"), col("cell"), col("m"),
        col("best.cid").as("code"))
    val qsubs = e6.filter(col("vec_id") % qMod === 0)
      .select(col("vec_id").as("query_id"),
        posexplode(expr(s"transform(sequence(0, ${PqM - 1}), " +
          s"m -> slice(v6, m * $PqSub + 1, $PqSub))"))
          .as(Seq("m", "qsub")))
      .select(col("query_id"), col("m").cast("long").as("lm"),
        col("qsub"))
    val lut = qsubs.join(broadcast(pqc), col("lm") === col("cm"))
      .select(col("query_id").as("lq"), col("lm"), col("cid"),
        graft.functions.SeriesKernelFunctions.int_dot(col("qsub"), col("csub")).as("ldot12"))
      // persisted for exact STATS (p59's discipline): map-side
      // subtree → no AQE runtime size → the unhinted LUT join would
      // sort-merge the candidate side; cached stats restore the
      // broadcast while keeping the no-hard-hint OOM safety.
      .persistTracked()
    val qprobe = probed.filter(col("vec_id") % qMod === 0)
      .select(col("vec_id").as("query_id"), col("cell"),
        col("qcdot12"))
    val wTop = Window.partitionBy("query_id")
      .orderBy(col("adot12").desc, col("neighbor_id"))
    // qprobe and lut are UNHINTED (r13): both scale with the query
    // set, which is a corpus fraction here — hard broadcasts grow
    // with the corpus (p28 class). AQE broadcasts them at bounded
    // query-batch sizes; the centroid/codebook hints stay (fixed k).
    codes.join(qprobe, "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .join(lut, col("query_id") === col("lq") &&
        col("m") === col("lm") && col("code") === col("cid"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg((min(col("qcdot12")) + sum(col("ldot12"))).as("adot12"))
      .withColumn("rk", row_number().over(wTop).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("adot12"),
        (col("adot12") / 1e12).as("approx_dot"), col("rk"))
  }

  /** [[ivfPqTopK]]'s DuckDB twin as a CTE chain ending in
    * annsc(query_id, neighbor_id, adot12) — UNRANKED, so each
    * consumer applies its own k (p63 ranks to 5, p99 to 10). Shares
    * every stage with the Spark plan by construction: seeded
    * centroids, exact integer distances, deterministic tie-breaks.
    */
  private def ivfPqOracleCtes(qMod: Long): String = s"""
      e AS (SELECT vec_id,
                   ${Micro.vecSql("embedding::DOUBLE[]")} AS v6
                 FROM embeddings),
      coarse AS (SELECT cid AS ccid, ci AS c6
                 FROM (${ivfSeedDuck("e", "v6")})),
      asg AS (SELECT e.vec_id, c.ccid, e.v6, c.c6,
                CAST(list_sum(list_transform(range(1, len(e.v6) + 1),
                  i -> (e.v6[i] - c.c6[i]) * (e.v6[i] - c.c6[i])))
                  AS BIGINT) AS d2,
                CAST(list_sum(list_transform(range(1, len(e.v6) + 1),
                  i -> e.v6[i] * c.c6[i])) AS BIGINT) AS qcdot12
              FROM e, coarse c),
      ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id
                   ORDER BY d2, ccid) AS crk FROM asg),
      probed AS (SELECT vec_id, ccid AS cell, crk, qcdot12,
                   list_transform(range(1, len(v6) + 1),
                     i -> v6[i] - c6[i]) AS res
                 FROM ranked WHERE crk <= 2),
      rsubs AS (SELECT vec_id, cell, CAST(m AS BIGINT) AS m,
                  res[m * $PqSub + 1 : m * $PqSub + $PqSub] AS sub
                FROM probed, UNNEST(range(0, $PqM)) t(m)
                WHERE crk = 1),
      pqc AS (SELECT vec_id AS cid, m, sub AS csub FROM rsubs
              WHERE vec_id % 31 = 0 AND vec_id < $PqSeedBound),
      codes AS (SELECT vec_id, cell, m, cid AS code FROM (
                  SELECT r.vec_id, r.cell, r.m, c.cid,
                         row_number() OVER (PARTITION BY r.vec_id, r.m
                           ORDER BY CAST(list_sum(list_transform(
                             range(1, $PqSub + 1), j ->
                               (r.sub[j] - c.csub[j])
                               * (r.sub[j] - c.csub[j]))) AS BIGINT),
                             c.cid) AS rn
                  FROM rsubs r JOIN pqc c USING (m))
                WHERE rn = 1),
      qsubs AS (SELECT vec_id AS query_id, CAST(m AS BIGINT) AS m,
                  v6[m * $PqSub + 1 : m * $PqSub + $PqSub] AS qsub
                FROM e, UNNEST(range(0, $PqM)) t(m)
                WHERE vec_id % $qMod = 0),
      lut AS (SELECT q.query_id, q.m, c.cid,
                CAST(list_sum(list_transform(range(1, $PqSub + 1),
                  j -> q.qsub[j] * c.csub[j])) AS BIGINT) AS ldot12
              FROM qsubs q JOIN pqc c USING (m)),
      qprobe AS (SELECT vec_id AS query_id, cell, qcdot12 FROM probed
                 WHERE vec_id % $qMod = 0),
      annsc AS (SELECT p.query_id, co.vec_id AS neighbor_id,
               CAST(min(p.qcdot12) + sum(l.ldot12) AS BIGINT) AS adot12
             FROM codes co
             JOIN qprobe p ON co.cell = p.cell
             JOIN lut l ON l.query_id = p.query_id AND l.m = co.m
               AND l.cid = co.code
             WHERE co.vec_id <> p.query_id
             GROUP BY 1, 2)"""

  /** The p36 winnowing selection as a DuckDB CTE chain ending in
    * sel(doc_id, i, k) — shared by the p36 oracle (which decodes
    * (pos, fp) from k) and the p98 containment oracle (which uses the
    * distinct fp sets), so the two can never drift.
    */
  private def winnowSelOracleCtes: String = s"""
      docs AS (SELECT doc_id, $toksSql AS toks FROM documents),
      g AS (SELECT doc_id,
              list_transform(range(1, len(toks)-1), i ->
                ${graft.functions.HashScheme.h60Duck(
                  "array_to_string(toks[i:i+2], ' ')")}) AS grams
            FROM docs WHERE len(toks) >= 6),
      sel AS (SELECT doc_id, i,
                list_min(list_transform(range(i, i+4), j ->
                  grams[CAST(j AS INT)]*4 + 3 - (j - i))) AS k
              FROM g, UNNEST(range(1, len(grams)-2)) AS t(i))"""

  /** Candidate near-dup pairs sharing >=1 surviving shingle, with the
    * common-shingle count and both set sizes. Exposed (with the cap as a
    * parameter) so PipelineSpec can pin the cardinality contract:
    * a hot shingle with df > dfCap generates ZERO candidates.
    */
  private[queries] def shingleCandidates(d: DataFrame, dfCap: Long): DataFrame = {
    // persisted: both sides of the self-join read the (tokenize + hash
    // + explode + df-count) subtree, which Spark would otherwise run
    // twice; the window's shingle partitioning is also exactly the
    // join's, so the self-join reuses it instead of re-shuffling
    val sh = shingleSets(d)
      .withColumn("df", count(lit(1)).over(Window.partitionBy("shingle")))
      .filter(col("df") <= dfCap)
      .drop("df")
      .persistTracked()
    sh.toDF("doc_a", "na", "shingle")
      .join(sh.toDF("doc_b", "nb", "shingle"), "shingle")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b", "na", "nb")
      .agg(count(lit(1)).as("common"))
  }

  private val shingleCte = s"""
    WITH docs AS (
      SELECT doc_id, $toksSql AS toks FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(toks[i:i+4], ' ') AS shingle
      FROM docs, UNNEST(CASE WHEN len(toks) >= 5 THEN range(1, len(toks)-3)
                             ELSE [] END) AS t(i)
    ), shk AS (
      SELECT doc_id, shingle FROM (
        SELECT doc_id, shingle,
               count(*) OVER (PARTITION BY shingle) AS df FROM sh)
      WHERE df <= $P03DfCap
    ), counts AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    )"""

  /** [[shingleCandidates]]' DuckDB twin: [[shingleCte]] plus `pairs`
    * (doc_a, doc_b, common) over the df-capped postings.
    */
  private val shinglePairsCte = s"""$shingleCte,
      pairs AS (
        SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS common
        FROM shk x JOIN shk y USING (shingle)
        WHERE x.doc_id < y.doc_id GROUP BY 1, 2
      )"""

  /** Band-bucket occupancy cap for [[minhashLshPairs]]: a bucket with B
    * co-banded docs emits B² candidate pairs, and real web corpora have
    * degenerate buckets (boilerplate, templates, near-empty docs) where
    * B is unbounded — the one quadratic escape hatch in the LSH plan.
    * Buckets above the cap are SKIPPED for candidate generation (p03/
    * p37's df-cap discipline): members of a >cap bucket are mutually
    * near-identical boilerplate that still meets through its other 15
    * bands wherever those are below cap, and a cluster hot enough to
    * blow all 16 bands is exactly the pathological mass p01's exact
    * dedup should collapse first. The oracle carries the SAME cap
    * (QUALIFY on the banded CTE); PipelineSpec pins that the cap is a
    * no-op at the test SFs, so this bounds the candidate volume without
    * changing any oracle row.
    *
    * OBSERVABILITY: the skip is silent inside the pair generators (a
    * cluster hot enough to overflow every band/segment simply emits no
    * pairs), so production runs pair p04/p05 with the p97 cap audit
    * ([[lshCapAuditEntry]]) — a one-pass occupancy census reporting
    * exactly how many buckets / members / would-be pairs the cap is
    * discarding per family. `n_over_cap = 0` is the healthy reading.
    */
  private[graft] val LshBucketCap = 64L

  /** p04's MinHash-LSH pair generator over a documents DataFrame.
    * Documents with NO shingles (fewer than 5 tokens) are excluded from
    * signature computation / banding entirely — their Md5MinHash output
    * would be the constant sentinel signature [MinHashP]*64, so at scale
    * every short doc would band into one hot bucket and pair with every
    * other short doc at est_jaccard 1.0 (false positives + skew). The
    * oracle applies the same `len(hs) > 0` exclusion; PipelineSpec pins
    * that <5-token docs generate zero pairs.
    */
  /** MinHash signature frame (doc_id, sig) — shared by
    * [[minhashLshPairs]] (which persists it) and the p97 cap audit
    * (single pass, no persist). <5-token docs are excluded (see
    * [[minhashLshPairs]] scaladoc).
    */
  private def minhashSigs(d: DataFrame): DataFrame =
    d.repartition(col("doc_id"))
      .withColumn("sh", TextHashFunctions.word_ngrams(toks, 5))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", TextHashFunctions.md5_minhash(col("sh")))
      .select(col("doc_id"), col("sig"))

  /** Raw (uncapped) band explode of a MinHash signature frame:
    * (doc_id, band, bucket) with 16 bands × 4-row bucket slices.
    */
  private def minhashBanded0(sigs: DataFrame): DataFrame = {
    import graft.functions.{HashScheme => H}
    val bands = 16
    val rows = H.MinHashK / bands
    sigs.select(col("doc_id"),
      explode(array((0 until bands).map(b => struct(lit(b).as("band"),
        slice(col("sig"), b * rows + 1, rows).as("bucket"))): _*))
        .as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))
  }

  /** The shared MinHash-LSH near-dup pair list as a PUBLIC, reusable
    * surface — the composed-pipeline primer (see
    * [[graft.CurationPipeline]]). The per-entry catalog contract makes
    * every consumer (p23/p54/p66/p67/p71/p87) standalone — each
    * rebuilds this generator's plan — so a production run that wants
    * the BASELINE.md recompute decision's "materialize once, feed all
    * six" shape calls this first: the persisted signature and pair
    * frames then plan-match inside every consumer's own build and the
    * LSH pass executes once per corpus instead of once per consumer.
    */
  def sharedLshPairs(s: SparkSession, dir: String): DataFrame =
    minhashLshPairs(docs(s, dir)).persistTracked()

  private[queries] def minhashLshPairs(d: DataFrame,
      bucketCap: Long = LshBucketCap): DataFrame = {
    import graft.functions.{HashScheme => H}
    val k = H.MinHashK
    // signatures: per-shingle 32-bit md5 hash, then k affine min-hashes;
    // persisted because three joins reuse them
    val sigs = minhashSigs(d).persistTracked()
    // candidate generation joins on the raw 4-row band slice (array
    // equality — no engine-specific bucket hash), ids-only + distinct;
    // signatures rejoin once per surviving pair. The occupancy cap is
    // an ANTI-join against the over-cap bucket dim — one
    // map-side-combined (band, bucket) count whose >cap survivors are
    // the DEGENERATE buckets only (boilerplate clusters; a corpus with
    // corpus-proportional overfull buckets is pathological mass p01
    // collapses first). No explicit broadcast hint: AQE sees the dim's
    // true size after the aggregate and picks broadcast when it is the
    // expected handful — but degrades to a shuffle join instead of a
    // driver OOM on an adversarial corpus where EVERY bucket overflows
    // (a 65x-replicated corpus makes the dim corpus-sized).
    val banded0 = minhashBanded0(sigs)
    val hot = banded0.groupBy("band", "bucket")
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") > bucketCap)
      .select("band", "bucket")
    // persisted: the capped stream feeds BOTH self-join sides (p03's
    // df-cap discipline — banding and the anti probe run once, not
    // once per side)
    // select restores (doc_id, band, bucket) order — the join puts its
    // keys first, and the positional toDF renames below depend on it
    val banded = banded0.join(hot, Seq("band", "bucket"), "left_anti")
      .select("doc_id", "band", "bucket")
      .persistTracked()
    val cand = banded.toDF("doc_a", "band", "bucket")
      .join(banded.toDF("doc_b", "band", "bucket"), Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    cand
      .join(sigs.toDF("doc_a", "sig_a"), "doc_a")
      .join(sigs.toDF("doc_b", "sig_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(graft.functions.SeriesKernelFunctions.int_eq_count(col("sig_a"), col("sig_b"))
          .cast("double") / k, 6).as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.5)
  }

  /** FIXED coarse-centroid count for the IVF family (p15/p35/p55 seed/
    * p63/p81): production IVF fixes k — the codebook must NOT scale
    * with the corpus, or coarse assignment degenerates to O(n·k) =
    * O(n²/const) (measured super-linear in the 10× smoke when the old
    * `vec_id % 100` convention let k grow with n). 20 cells ≈ the cell
    * count the old convention produced at the bench SF, so probe
    * ratios/recall stay comparable.
    */
  private[graft] val IvfK = 20

  /** Fixed-K coarse-centroid seed shared by the IVF family: the [[IvfK]]
    * vectors with the smallest salted 60-bit hash of vec_id (p88's
    * bottom-k determinism — an unbiased pseudo-random sample that is a
    * pure function of the ids, reproducible on any engine/partitioning).
    * Spark plans orderBy+limit as TakeOrderedAndProject (per-partition
    * top-K heaps + driver merge of K-row partials), so seeding is one
    * linear scan — never a global sort, never corpus-proportional.
    *
    * @param vec  name of the fixed-point vector column in `e`
    * @param cid/ci  output column names (entries differ: cid/ci vs ccid/c6)
    */
  private[queries] def ivfSeedCents(e: DataFrame, vec: String,
      cid: String = "cid", ci: String = "ci"): DataFrame = {
    import graft.functions.{HashScheme => H}
    e.select(col("vec_id"), col(vec),
      expr(H.h60Spark("concat(cast(vec_id as string), ':ivfseed')"))
        .as("hseed"))
      .orderBy(col("hseed"), col("vec_id"))
      .limit(IvfK)
      .select(col("vec_id").as(cid), col(vec).as(ci))
  }

  /** DuckDB twin of [[ivfSeedCents]]: a CTE body selecting the same
    * fixed-K bottom-hash sample from relation `src` (whose fixed-point
    * vector column is `vec`), emitting (cid, ci).
    */
  private[queries] def ivfSeedDuck(src: String, vec: String): String = {
    import graft.functions.{HashScheme => H}
    s"""SELECT vec_id AS cid, $vec AS ci FROM $src
        ORDER BY ${H.h60Duck("CAST(vec_id AS VARCHAR) || ':ivfseed'")},
          vec_id LIMIT $IvfK"""
  }

  /** The IVF family's corpus: `embs` with its fixed-point copy `ei`,
    * and the [[ivfSeedCents]] centroids (cid, ci) seeded from it.
    */
  private def ivfCorpus(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val e = embs(s, dir).withColumn("ei", Micro.vec("emb"))
    (e, ivfSeedCents(e, "ei"))
  }

  /** Slim IVF coarse assign: every vector of `e` with its `nprobe`
    * nearest centroids of `cents`, as posexplode rows (cpos, t =
    * struct(d2, `cid`)) carrying `payload`; d2 is the exact integer
    * squared L2 of the fixed-point columns `vec` and `cent`, and ties
    * break on `cid`.
    *
    * Why slim: ranking the corpus x centroids cross join with a
    * Window.partitionBy(vec_id) would exchange 20x corpus rows, each
    * carrying the full vectors, and sort them all — the largest
    * corpus-scale shuffle of the ANN serving path. The 20 scored
    * rows of a vector are map-LOCAL (the broadcast cross join generates
    * them in place), so a partial collect_list of slim (d2, cid) structs
    * collapses them to one row per vector BEFORE the exchange (~30x
    * fewer shuffle bytes, no corpus-sized Sort); array_sort's (d2, cid)
    * struct order is exactly the window's orderBy, rank = cpos + 1. A
    * row-local HOF form that also drops the exchange was measured and
    * rejected: interpreting the kernel per lambda element cost more
    * than the exchange at both sf0.1 and x10 (+82%/+72%).
    */
  private def coarseAssign(e: DataFrame, cents: DataFrame, vec: String,
      cent: String, cid: String, payload: String,
      nprobe: Int): DataFrame =
    e.join(broadcast(cents))
      .select(col("vec_id"), col(payload), col(cid),
        graft.functions.SeriesKernelFunctions
          .int_sq_l2(col(vec), col(cent)).as("d2"))
      .groupBy("vec_id")
      .agg(max(col(payload)).as(payload), // constant within the group
        collect_list(struct(col("d2"), col(cid))).as("ds"))
      .select(col("vec_id"), col(payload),
        posexplode(expr(s"slice(array_sort(ds), 1, $nprobe)"))
          .as(Seq("cpos", "t")))

  /** p15/p81's IVF cell lists: each corpus vector with its `nprobe`
    * nearest cells (rk = 1 is its home cell). Persisted: the cell join
    * reads it from both sides (probes and neighbors).
    */
  private def ivfProbed(s: SparkSession, dir: String,
      nprobe: Int): DataFrame = {
    val (e, cents) = ivfCorpus(s, dir)
    coarseAssign(e, cents, vec = "ei", cent = "ci", cid = "cid",
        payload = "emb", nprobe = nprobe)
      .select(col("vec_id"), col("emb"), col("t.cid").as("cell"),
        (col("cpos") + 1).as("rk"))
      .persistTracked()
  }

  /** DuckDB twin of [[ivfCorpus]] + the coarse assign: CTEs e, cents,
    * dists and ranked(vec_id, emb, cell, rk), every vector's cells
    * ranked by (d2, cid).
    */
  private def ivfRankedOracleCtes: String = s"""
      e AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
                   ${Micro.vecSql("embedding::DOUBLE[]")} AS ei
                 FROM embeddings),
      cents AS (${ivfSeedDuck("e", "ei")}),
      dists AS (SELECT e.vec_id, e.emb, c.cid,
                  list_sum(list_transform(range(1, len(e.ei)+1),
                    i -> (e.ei[i] - c.ci[i]) * (e.ei[i] - c.ci[i]))) AS d2
                FROM e, cents c),
      ranked AS (SELECT vec_id, emb, cid AS cell,
                   row_number() OVER (PARTITION BY vec_id
                     ORDER BY d2, cid) AS rk FROM dists)"""

  /** Per-query top-k: rank each query's neighbors by (cos_sim DESC,
    * neighbor_id) into `rk` (BIGINT) and keep rk <= k.
    */
  private def topKByCos(df: DataFrame, k: Int): DataFrame =
    df.withColumn("rk", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("cos_sim").desc, col("neighbor_id"))).cast("long"))
      .filter(col("rk") <= k)

  /** [[topKByCos]]'s rank in DuckDB. */
  private val cosRankSql = """row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id)"""

  /** [[topKByCos]]'s DuckDB twin over relation `src`. */
  private def topKByCosSql(src: String, k: Int): String =
    s"""SELECT query_id, neighbor_id, cos_sim, rk FROM (
        SELECT *, $cosRankSql AS rk
        FROM $src) WHERE rk <= $k"""

  /** p05's SimHash pair generator: 60-bit md5 signature (native
    * [[graft.functions.Md5SimHash60]]), 4-segment blocking (dups
    * within hamming ≤ 3 share at least one 15-bit segment), hamming
    * verify on candidates. Same candidate discipline as
    * [[minhashLshPairs]]: ids-only pair distinct with signatures
    * persisted and rejoined, and a segment-occupancy cap — a
    * (seg, val) bucket with B members emits B² candidates, and
    * boilerplate clusters make B unbounded; buckets above `segCap`
    * are skipped (over-cap members still pair through their other 3
    * segments where those are below cap, and the genuinely-identical
    * mass is p01's job first). The oracle carries the same QUALIFY;
    * the spec pins the cap as a no-op at test SF, and the p97 cap
    * audit is the production signal for when it is NOT a no-op.
    */
  /** SimHash signature frame (doc_id, sig) — shared by
    * [[simhashPairs]] (which persists it) and the p97 cap audit.
    */
  private def simhashSigs(d: DataFrame): DataFrame =
    d.withColumn("toks", toks)
      .withColumn("sig", TextHashFunctions.md5_simhash60(col("toks")))
      .select(col("doc_id"), col("sig"))

  /** Raw (uncapped) 4-segment explode of a SimHash signature frame:
    * (doc_id, seg, val) with 15-bit segment values.
    */
  private def simhashSeg0(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"),
      explode(array((0 until 4).map(i => struct(lit(i).as("seg"),
        shiftrightunsigned(col("sig"), i * 15).bitwiseAND(0x7FFF)
          .as("val"))): _*)).as("sv"))
      .select(col("doc_id"),
        col("sv.seg").as("seg"), col("sv.val").as("val"))

  private[queries] def simhashPairs(d: DataFrame,
      segCap: Long = LshBucketCap): DataFrame = {
    val sigs = simhashSigs(d).persistTracked()
    val seg = simhashSeg0(sigs)
    val hot = seg.groupBy("seg", "val")
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") > segCap)
      .select("seg", "val")
    // persisted: the candidate self-join reads the capped segment
    // table on BOTH sides — without this, the segment explode, hot
    // aggregate, and anti-join re-derive twice (p04 persists the
    // banded equivalent for the same reason).
    val capped = seg.join(hot, Seq("seg", "val"), "left_anti")
      .select("doc_id", "seg", "val")
      .persistTracked()
    val cand = capped.toDF("doc_a", "seg", "val")
      .join(capped.toDF("doc_b", "seg", "val"), Seq("seg", "val"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    cand
      .join(sigs.toDF("doc_a", "sig_a"), "doc_a")
      .join(sigs.toDF("doc_b", "sig_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= 3)
  }

  /** p15's IVF search with the probe width as a parameter, so the spec
    * can measure recall at nprobe=1 vs 2 against p07's exact top-k.
    */
  private[queries] def ivfTopK(s: SparkSession, dir: String,
      nprobe: Int): DataFrame = {
    val probed = ivfProbed(s, dir, nprobe)
    val assigned = probed.filter(col("rk") === 1).drop("rk")
    probed.filter(col("vec_id") % 50 === 0).drop("rk")
      .toDF("query_id", "qemb", "cell")
      .join(assigned.toDF("neighbor_id", "nemb", "cell"), "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(VectorOps.cosine(col("qemb"), col("nemb")), 6).as("cos_sim"))
      .transform(topKByCos(_, 5))
  }

  /** The p15 IVF chain as a CTE list ending in `ivf_topk` — shared by
    * the p15 oracle and p69's recall report so both checks see the
    * definitionally identical index.
    */
  private def ivfOracleCtes(nprobe: Int): String = s"""$ivfRankedOracleCtes,
      assigned AS (SELECT vec_id, emb, cell FROM ranked WHERE rk = 1),
      cand AS (SELECT q.vec_id AS query_id, q.emb AS qemb,
                      n.vec_id AS neighbor_id, n.emb AS nemb
               FROM ranked q JOIN assigned n ON q.cell = n.cell
                 AND q.vec_id != n.vec_id
               WHERE q.vec_id % 50 = 0 AND q.rk <= $nprobe),
      sims AS (SELECT query_id, neighbor_id,
                      round(list_cosine_similarity(qemb, nemb), 6) AS cos_sim
               FROM cand),
      ivf_topk AS (${topKByCosSql("sims", 5)})"""

  private def ivfOracle(nprobe: Int): String = s"""
      WITH ${ivfOracleCtes(nprobe)}
      SELECT query_id, neighbor_id, cos_sim, rk FROM ivf_topk"""

  /** p20's pack budget (tokens per context window) and bucket width
    * (doc-ids per prefix-sum bucket).
    */
  private[graft] val PackBudget = 512L
  private[graft] val PackBucket = 500L

  /** p21's per-language keep rates (permille), compiled into the SAME
    * CASE fragment on both engines so they cannot diverge.
    */
  private val sampleRates: Seq[(String, Long)] =
    Seq("en" -> 500L, "de" -> 300L, "es" -> 300L, "fr" -> 300L, "zh" -> 300L)
  private val SampleRateCase: String =
    sampleRates.map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
      .mkString("CASE ", " ", " ELSE 100 END")

  /** DuckDB CTE chain producing p04's MinHash-LSH near-dup pairs as
    * `pairs(doc_a, doc_b, est_jaccard)`, shared verbatim by the p04
    * oracle and p23's cluster oracle so both checks see definitionally
    * identical pair sets. Declared ABOVE `entries` — object init order
    * would otherwise interpolate null into the oracle strings.
    * `sigs`/`pairs` are AS MATERIALIZED: the recursive-closure oracles
    * (p23/p66/p67) otherwise re-inline the whole LSH pipeline into
    * every fixpoint iteration (measured ~13x slower at sf0.01).
    */
  /** The [[lshPairsOracleCtes]] prefix ending at the RAW (uncapped)
    * `banded0` stream — split out so the p97 cap audit can read the
    * pre-cap occupancy without dragging in (or re-stating) the
    * candidate/pair CTEs.
    */
  private val lshBandedOracleCtes: String = {
    import graft.functions.{HashScheme => H}
    s"""docs AS (SELECT doc_id, $toksSql AS toks FROM documents),
      sh AS (SELECT doc_id, CASE WHEN len(toks) >= 5 THEN
               list_transform(range(1, len(toks)-3), j ->
                 ${H.h32Duck("array_to_string(toks[j:j+4], ' ')")})
             ELSE [] END AS hs FROM docs),
      -- signature build is RELATIONAL (explode x 64-row perm dim ->
      -- vectorized GROUP BY min), not a nested per-perm list lambda:
      -- the lambda form allocated 64 temporary lists per doc and was
      -- ~25 s alone at sf0.01 — the whole t2 gate's budget rides on
      -- these 8 shared-CTE oracles staying cheap
      hrows AS (SELECT doc_id, UNNEST(hs) AS h FROM sh),
      perms AS (SELECT i, (${H.minhashALiteral})[i+1] AS pa,
                  (${H.minhashBLiteral})[i+1] AS pb
                FROM (SELECT UNNEST(range(0, ${H.MinHashK})) AS i)),
      mins AS (SELECT doc_id, i, min((pa*h + pb) % ${H.MinHashP}) AS m
               FROM hrows, perms GROUP BY 1, 2),
      sigs AS MATERIALIZED (SELECT doc_id, list(m ORDER BY i) AS sig
        FROM mins GROUP BY doc_id),
      -- banded0 = the raw banding (p75's claim primitive reads it:
      -- window-min claims are linear in occupancy, so the pair cap
      -- does NOT apply there); banded = the occupancy-capped stream
      -- the candidate self-join below consumes
      banded0 AS (SELECT doc_id, b AS band, sig[b*4+1:b*4+4] AS bucket,
                    sig
                  FROM sigs, UNNEST(range(0, 16)) t(b))"""
  }

  private val lshPairsOracleCtes: String = {
    import graft.functions.{HashScheme => H}
    s"""$lshBandedOracleCtes,
      banded AS (SELECT * FROM banded0
                 QUALIFY count(*) OVER (PARTITION BY band, bucket)
                   <= $LshBucketCap),
      cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
               FROM banded x JOIN banded y
                 ON x.band = y.band AND x.bucket = y.bucket
                 AND x.doc_id < y.doc_id),
      pairs AS MATERIALIZED (SELECT c.doc_a, c.doc_b,
        round(list_sum(list_transform(range(1, ${H.MinHashK + 1}), i ->
          CASE WHEN sa.sig[i] = sb.sig[i] THEN 1.0 ELSE 0.0 END))
          / ${H.MinHashK}, 6) AS est_jaccard
        FROM cand c JOIN sigs sa ON c.doc_a = sa.doc_id
                    JOIN sigs sb ON c.doc_b = sb.doc_id
        WHERE round(list_sum(list_transform(range(1, ${H.MinHashK + 1}), i ->
          CASE WHEN sa.sig[i] = sb.sig[i] THEN 1.0 ELSE 0.0 END))
          / ${H.MinHashK}, 6) >= 0.5)"""
  }

  /** The LSH near-dup clusters as DuckDB CTEs extending
    * [[lshPairsOracleCtes]] (the query opens WITH RECURSIVE): `labels`
    * maps every paired doc to the min id its reachability closure
    * reaches, the fixpoint [[graft.operators.Components]] computes.
    */
  private val lshLabelsOracleCtes: String = s"""$lshPairsOracleCtes,
      edges AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM pairs
                UNION SELECT doc_b, doc_a FROM pairs),
      reach(u, v) AS (
        SELECT u, u FROM edges
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
      labels AS (SELECT u AS doc_id, min(v) AS cluster_id
                 FROM reach GROUP BY u)"""

  /** [[clusterManifest]]'s DuckDB twin: [[lshLabelsOracleCtes]] plus
    * `manifest(doc_id, cluster_id)` over every doc.
    */
  private val lshManifestOracleCtes: String = s"""$lshLabelsOracleCtes,
      manifest AS (SELECT d.doc_id,
                          coalesce(l.cluster_id, d.doc_id) AS cluster_id
                   FROM docs d LEFT JOIN labels l USING (doc_id))"""

  /** [[gram3Sets]]' DuckDB twin over `docs(doc_id, toks)`: the distinct
    * (doc_id, 3-gram string) rows `sh3`.
    */
  private val sh3OracleCte: String = """sh3 AS (SELECT DISTINCT doc_id,
                array_to_string(toks[i:i+2], ' ') AS shingle
              FROM docs, UNNEST(CASE WHEN len(toks) >= 3
                THEN range(1, len(toks)-1) ELSE [] END) AS t(i))"""

  /** SimHash CTE chain ending at the RAW (uncapped) `seg0` stream
    * (doc_id, sig, seg, val) — shared by the p05 oracle (which applies
    * the occupancy QUALIFY on top) and the p97 cap audit (which reads
    * the pre-cap occupancy). Declared ABOVE `entries` (init order).
    */
  private val simhashSeg0OracleCtes: String = {
    import graft.functions.{HashScheme => H}
    s"""d AS (SELECT doc_id, $toksSql AS toks FROM documents),
      hsx AS (SELECT doc_id,
                list_transform(toks, t -> ${H.h60Duck("t")}) AS hs FROM d),
      sig AS (SELECT doc_id, list_sum(list_transform(range(0, 60), b ->
          CASE WHEN list_sum(list_transform(hs, h ->
              CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
               THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END))
          AS sig FROM hsx),
      seg0 AS (SELECT doc_id, sig, s AS seg, (sig >> (s*15)) & 32767 AS val
               FROM sig, UNNEST(range(0, 4)) t(s))"""
  }

  /** p29's chunk construction as a DuckDB CTE chain ending in
    * `chunks(doc_id, chunk_id, start_tok, chunk_len, chunk_hash)` —
    * shared by the p29 oracle and p70's chunk-dup census so both see
    * the definitionally identical chunking. Declared ABOVE `entries`
    * (object init order).
    */
  private val chunkOracleCtes: String = s"""
      docs AS (SELECT doc_id, $toksSql AS toks FROM documents),
      st AS (SELECT doc_id, toks,
               UNNEST(range(1, len(toks) + 1, 24)) AS start FROM docs),
      c AS (SELECT doc_id, CAST((start - 1) // 24 AS BIGINT) AS chunk_id,
              CAST(start AS BIGINT) AS start_tok,
              toks[start:start+31] AS chunk
            FROM st),
      chunks AS (SELECT doc_id, chunk_id, start_tok,
               CAST(len(chunk) AS BIGINT) AS chunk_len,
               ${graft.functions.HashScheme.h32Duck(
                 "array_to_string(chunk, ' ')")} AS chunk_hash
             FROM c)"""

  val entries: Seq[Entry] = Seq(

    // ---- p01: exact dedup — group by normalized-content hash
    Entry("p01_dedup_exact", (s, dir) =>
      docs(s, dir)
        .groupBy(md5(norm).as("content_hash"))
        .agg(count(lit(1)).as("n_copies"), min("doc_id").as("keep_id"))
        .filter(col("n_copies") > 1),
      Some(s"""
        SELECT md5($normSql) AS content_hash,
               count(*) AS n_copies, min(doc_id) AS keep_id
        FROM documents GROUP BY content_hash HAVING count(*) > 1""")),

    // ---- p02: dedup survivors (keep lowest doc_id per content group)
    Entry("p02_dedup_keep_first", (s, dir) => {
      val w = Window.partitionBy(md5(norm)).orderBy(col("doc_id"))
      docs(s, dir)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select("doc_id", "lang", "source")
    }, Some(s"""
      SELECT doc_id, lang, source FROM (
        SELECT doc_id, lang, source,
               row_number() OVER (PARTITION BY md5($normSql)
                                  ORDER BY doc_id) AS rk
        FROM documents) WHERE rk = 1""")),

    // ---- p03: near-dedup via exact n-gram Jaccard on candidate pairs
    // (pairs sharing >=1 df-capped shingle; at scale the shingle join IS
    // the candidate generator — no cross join anywhere, and the df cap
    // defuses hot-shingle skew). Jaccard denominators use the FULL
    // per-doc set sizes; only candidate generation / intersection
    // counting is capped — identically in the oracle.
    Entry("p03_dedup_ngram_jaccard", (s, dir) => {
      val jac = round(col("common") /
        (col("na") + col("nb") - col("common")), 6)
      shingleCandidates(docs(s, dir), P03DfCap)
        .select(col("doc_a"), col("doc_b"), jac.as("jaccard"))
        .filter(col("jaccard") >= 0.5)
    }, Some(s"""$shinglePairsCte
      SELECT doc_a, doc_b,
             round(common/(ca.n + cb.n - common), 6) AS jaccard
      FROM pairs JOIN counts ca ON doc_a = ca.doc_id
                 JOIN counts cb ON doc_b = cb.doc_id
      WHERE round(common/(ca.n + cb.n - common), 6) >= 0.5"""),
      // emits (doc_a, doc_b) near-dup pairs: each base pair gains ~N²
      // twin combinations under exact replication (bounded by the
      // df/occupancy caps, which is why the observed exponent sits well
      // under 2)
      tier = Tier.Bench(Sweep.Quadratic, core = true)),

    // ---- p04: MinHash-LSH near-dedup (64-perm signature, 16 bands x 4).
    // Signatures use the cross-engine md5+affine scheme (HashScheme) so
    // the whole query — candidates AND estimates — oracle-checks against
    // DuckDB; estimator accuracy is additionally pinned in PipelineSpec
    // against p03's exact Jaccard.
    Entry("p04_dedup_minhash_lsh", (s, dir) =>
      minhashLshPairs(docs(s, dir)), Some(
      s"""
      WITH $lshPairsOracleCtes
      SELECT doc_a, doc_b, est_jaccard FROM pairs"""
    ),
      // near-dup pair output: ~N² under replication, as for p03
      tier = Tier.Bench(Sweep.Quadratic, core = true)),

    // ---- p05: SimHash near-dedup (hamming distance via 4-segment
    // blocking: dups within distance<=3 share at least one segment).
    // 60-bit md5-derived signature (HashScheme) → full DuckDB oracle.
    Entry("p05_dedup_simhash", (s, dir) =>
      simhashPairs(docs(s, dir)), Some {
      s"""
      WITH $simhashSeg0OracleCtes,
      seg AS (SELECT * FROM seg0
              QUALIFY count(*) OVER (PARTITION BY seg, val)
                <= $LshBucketCap),
      cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                      x.sig AS sig_a, y.sig AS sig_b
               FROM seg x JOIN seg y ON x.seg = y.seg AND x.val = y.val
                 AND x.doc_id < y.doc_id)
      SELECT doc_a, doc_b,
             CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
      FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 3"""
    }),

    // ---- p06: embedding-cosine near-duplicates (brute force, exact).
    // Two measured plan rules (r11 A/B, sf0.1 2M ordered pairs,
    // 2.55 s -> 1.25 s):
    //  (1) the similarity threshold goes INTO the join condition AFTER
    //      the cheap vec_a < vec_b conjunct. Written as a filter above
    //      the projection, Catalyst pushes it into the nested-loop
    //      join condition AHEAD of the existing ineq (And(pushed,
    //      existing)), so the kernel ran on all 4M ordered pairs
    //      instead of 2M;
    //  (2) per-side norms are computed ONCE per row and the pair
    //      kernel is dot-only — an all-pairs scorer otherwise
    //      re-derives both norms inside every candidate evaluation
    //      (3·dim vs 1·dim flops per pair; at 100 TB the pair side is
    //      the whole job). dot/(na·nb) with na = sqrt(Σx²) in the same
    //      left-fold order is bit-identical to CosineSim — oracle SQL
    //      unchanged.
    Entry("p06_embed_neardup", (s, dir) => {
      val e = embs(s, dir)
      // zero-norm guard: the fused kernel's JVM 0/0 is a silent NaN
      // (filtered by the threshold), but Catalyst Divide under ANSI
      // throws DIVIDE_BY_ZERO — a zero vector passes the ingestion
      // domain filter, so the degenerate case must stay a NaN. na = 0
      // implies dot = 0, so this is exactly the 0/0 case.
      def cosPre = {
        val prod = col("na") * col("nb")
        round(when(prod === 0.0, lit(Double.NaN))
          .otherwise(
            VectorOps.dotNative(col("emb_a"), col("emb_b")) / prod), 6)
      }
      val a = e.toDF("vec_a", "label_a", "emb_a")
        .withColumn("na", sqrt(VectorOps.dot(col("emb_a"), col("emb_a"))))
      val b = e.toDF("vec_b", "label_b", "emb_b")
        .withColumn("nb", sqrt(VectorOps.dot(col("emb_b"), col("emb_b"))))
      a.join(b, col("vec_a") < col("vec_b") && cosPre >= 0.4)
        .select(col("vec_a"), col("vec_b"), cosPre.as("cos_sim"))
    }, Some("""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round(list_cosine_similarity(a.emb, b.emb), 6) AS cos_sim
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.emb, b.emb), 6) >= 0.4""")),

    // ---- p07: brute-force cosine top-k similarity search (bench)
    Entry("p07_sim_topk", (s, dir) => {
      val e = embs(s, dir)
      val queries = e.filter(col("vec_id") % 50 === 0)
        .toDF("query_id", "qlabel", "qemb")
      queries.join(e.toDF("neighbor_id", "nlabel", "nemb"),
          col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(VectorOps.cosine(col("qemb"), col("nemb")), 6).as("cos_sim"))
        .transform(topKByCos(_, 5))
    }, Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      sims AS (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               round(list_cosine_similarity(q.emb, n.emb), 6) AS cos_sim
        FROM e q JOIN e n ON q.vec_id != n.vec_id
        WHERE q.vec_id % 50 = 0
      )
      ${topKByCosSql("sims", 5)}"""),
      // a DECLARED brute-force baseline: the query set is a fixed
      // fraction of the corpus (vec_id % 50), so queries AND corpus both
      // grow ×N and the exact scan does ~N² work BY DECLARATION — its
      // scale path (p15/p63) is swept separately under the linear cap.
      // Under 1.3 p07 and p59 passed only via fixed-overhead deflation
      // (r11 fits: p07 1.03, p59 1.28 — one noisy point from a false
      // alarm)
      tier = Tier.Bench(Sweep.Quadratic, core = true)),

    // ---- p08: LSH-bucketed ANN — L hash tables of b-bit hyperplane
    // signatures; the equi-join on (table, bucket) replaces the cross
    // join, so candidate generation scales like any shuffle join.
    // Hyperplanes are ±1 Rademacher components from an integer hash of
    // (table, bit, dim), and embeddings are fixed-pointed at 1e-6 so the
    // dot-product sign — hence every bucket — is exact integer
    // arithmetic both engines compute identically (full DuckDB oracle).
    // Recall vs the exact p07 is pinned in PipelineSpec.
    Entry("p08_sim_ann_lsh", (s, dir) => {
      val tables = 8
      val bits = 6
      // native kernel — the nested lambda fold of the same arithmetic
      // costs tables*bits*dim interpreted applications per vector
      def bucketExpr(t: Int) = graft.functions.SeriesKernelFunctions
        .rademacher_lsh_bucket(col("ei"), t, bits)
      // coalesce(…, 0L) makes the fixed-point array FORMALLY non-null
      // (the kernel family promotes containsNull=false to an
      // analysis-time requirement); it never fires — embs() ingestion
      // already drops vectors with null/NaN/out-of-range elements
      // persisted (r15 sweep, guide §2.4): both sides of the bucket
      // self-join read the 8-table kernel-hash explode, and the query
      // side's %50 filter pushes INTO the subtree — the two sides stop
      // being plan-identical, ReusedExchange cannot fire, and the
      // hashing ran twice per materialization
      val e = embs(s, dir)
        .withColumn("ei",
          expr(s"transform(emb, x -> coalesce(${Micro.sql("x")}, 0L))"))
        .select(col("vec_id"), col("emb"),
          explode(array((0 until tables).map(t =>
            struct(lit(t).as("tbl"), bucketExpr(t).as("bucket"))): _*)).as("tb"))
        .select(col("vec_id"), col("emb"),
          col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
        .persistTracked()
      val cand = e.filter(col("vec_id") % 50 === 0)
        .toDF("query_id", "qemb", "tbl", "bucket")
        .join(e.toDF("neighbor_id", "nemb", "tbl", "bucket"),
          Seq("tbl", "bucket"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select("query_id", "qemb", "neighbor_id", "nemb").distinct()
      cand.select(col("query_id"), col("neighbor_id"),
          round(VectorOps.cosine(col("qemb"), col("nemb")), 6).as("cos_sim"))
        .transform(topKByCos(_, 5))
    }, Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      ei AS (SELECT vec_id, emb,
               ${Micro.vecSql("emb")} AS ei
             FROM e),
      bk AS (SELECT vec_id, emb, t AS tbl,
        list_sum(list_transform(range(0, 6), b -> CASE WHEN
           list_sum(list_transform(ei, (x, d) -> x *
             (CASE WHEN (((t*1000003 + b*8191 + (d-1)) * 2654435761)
                          % 2147483647) % 2 = 1
                   THEN 1 ELSE -1 END))) > 0
           THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS bucket
        FROM ei, UNNEST(range(0, 8)) tt(t)),
      cand AS (SELECT DISTINCT q.vec_id AS query_id, q.emb AS qemb,
                      n.vec_id AS neighbor_id, n.emb AS nemb
               FROM bk q JOIN bk n
                 ON q.tbl = n.tbl AND q.bucket = n.bucket
                 AND q.vec_id != n.vec_id
               WHERE q.vec_id % 50 = 0),
      sims AS (SELECT query_id, neighbor_id,
                      round(list_cosine_similarity(qemb, nemb), 6) AS cos_sim
               FROM cand)
      ${topKByCosSql("sims", 5)}""")),

    // ---- p09: per-document text statistics
    Entry("p09_text_stats", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_uniq_tokens"),
        round(aggregate(transform(toks, t => length(t)), lit(0),
          (acc, x) => acc + x).cast("double") / size(toks), 6)
          .as("avg_token_len"),
        round(size(array_distinct(toks)) / size(toks), 6).as("ttr")),
      Some(s"""
        WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents)
        SELECT doc_id, len(toks) AS n_tokens,
               len(list_distinct(toks)) AS n_uniq_tokens,
               round(CAST(list_sum(list_transform(toks, t -> length(t)))
                     AS DOUBLE) / len(toks), 6) AS avg_token_len,
               round(len(list_distinct(toks)) / len(toks), 6) AS ttr
        FROM d""")),

    // ---- p10: n-gram/stopword language id heuristic
    Entry("p10_text_langid", (s, dir) => {
      def hits(words: Seq[String]) =
        size(filter(toks, t => t.isin(words: _*)))
      val en = hits(Seq("the", "a", "and", "of", "to", "is"))
      val es = hits(Seq("el", "la", "de", "y", "que", "en"))
      val de = hits(Seq("der", "die", "das", "und", "ist"))
      val fr = hits(Seq("le", "les", "et", "des", "une"))
      val pred = when(en >= es && en >= de && en >= fr, "en")
        .when(es >= de && es >= fr, "es")
        .when(de >= fr, "de")
        .otherwise("fr")
      docs(s, dir)
        .groupBy(col("lang"), pred.as("lang_pred"))
        .agg(count(lit(1)).as("n"))
    }, Some(s"""
      WITH d AS (SELECT lang, $toksSql AS toks FROM documents),
      scored AS (
        SELECT lang,
          len(list_filter(toks, t -> t IN ('the','a','and','of','to','is'))) AS en,
          len(list_filter(toks, t -> t IN ('el','la','de','y','que','en'))) AS es,
          len(list_filter(toks, t -> t IN ('der','die','das','und','ist'))) AS de,
          len(list_filter(toks, t -> t IN ('le','les','et','des','une'))) AS fr
        FROM d)
      SELECT lang,
             CASE WHEN en >= es AND en >= de AND en >= fr THEN 'en'
                  WHEN es >= de AND es >= fr THEN 'es'
                  WHEN de >= fr THEN 'de'
                  ELSE 'fr' END AS lang_pred,
             count(*) AS n
      FROM scored GROUP BY lang, lang_pred""")),

    // ---- p11: quality scoring (length / stopword / lexical diversity)
    // score = 0.4*min(nc,500)/500 + 0.3*min(5h,n)/n + 0.3*u/n, computed
    // ENTIRELY in exact integer arithmetic with integer HALF_UP
    // rounding to micro-units: score6 = (num*1e6 + den/2) div den over
    // num = 10*n*min(nc,500) + 3750*(min(5h,n) + u), den = 12500*n.
    // Rounding an arbitrary double with round(x, 6) is a cross-engine
    // trap: Spark rounds the double's exact decimal expansion, DuckDB
    // rounds after multiplying by 1e6, and a value near a .5 tie at the
    // 7th digit flips between them (hit at sf0.1). Integer-derived
    // micro-units are tie-free by construction on both engines.
    Entry("p11_text_quality", (s, dir) => {
      val n = size(toks).cast("long")
      val h = size(filter(toks,
        t => t.isin("the", "a", "and", "of", "to", "is"))).cast("long")
      val u = size(array_distinct(toks)).cast("long")
      val m = least(col("n_chars"), lit(500L))
      docs(s, dir)
        .withColumn("n", n)
        .withColumn("num",
          lit(10L) * n * m + lit(3750L) * (least(lit(5L) * h, n) + u))
        .withColumn("score6", expr("(num * 1000000 + 6250 * n) div (12500 * n)"))
        .select(col("doc_id"),
          (col("score6") / 1e6).as("quality_score"),
          when(col("score6") >= 660000L, "high")
            .when(col("score6") >= 330000L, "medium")
            .otherwise("low").as("quality_bucket"))
    }, Some(s"""
      WITH d AS (SELECT doc_id, n_chars, $toksSql AS toks FROM documents),
      m AS (SELECT doc_id, len(toks) AS n,
              least(n_chars, 500) AS m,
              least(5 * len(list_filter(toks,
                t -> t IN ('the','a','and','of','to','is'))), len(toks)) AS s,
              len(list_distinct(toks)) AS u
            FROM d),
      s AS (SELECT doc_id,
              CAST(((10*n*m + 3750*(s + u)) * 1000000 + 6250*n)
                // (12500*n) AS BIGINT) AS score6
            FROM m)
      SELECT doc_id, score6 / 1000000.0 AS quality_score,
             CASE WHEN score6 >= 660000 THEN 'high'
                  WHEN score6 >= 330000 THEN 'medium'
                  ELSE 'low' END AS quality_bucket
      FROM s""")),

    // ---- p12: order-aware document fingerprints — polynomial rolling
    // hash over per-token 60-bit md5 hashes (mod a 30-bit prime so the
    // fold never overflows), plus the p05 SimHash; both oracle-checked.
    // Determinism + order-sensitivity additionally pinned in PipelineSpec.
    Entry("p12_fingerprint", (s, dir) => {
      import graft.functions.{HashScheme => H}
      // simhash via the native md5_simhash60 expression (one digest per
      // token; PipelineSpec pins it == the SQL token-fold the oracle
      // runs); the rolling fingerprint folds the inlined hash transform
      // once, which is already O(T).
      docs(s, dir)
        .withColumn("toks", toks)
        // n=1 grams are the tokens themselves: one digest per token
        .withColumn("hs", TextHashFunctions.md5_h60_ngrams(col("toks"), 1))
        .select(col("doc_id"),
          expr(s"aggregate(hs, 0L, (acc, h) -> (acc*31L + h) % ${H.FingerprintMod}L)")
            .as("fingerprint"),
          TextHashFunctions.md5_simhash60(col("toks")).as("simhash"))
    }, Some {
      import graft.functions.{HashScheme => H}
      s"""
      WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
      hsx AS (SELECT doc_id,
                list_transform(toks, t -> ${H.h60Duck("t")}) AS hs FROM d)
      SELECT doc_id,
        list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
          (acc, h) -> (acc*31 + h) % ${H.FingerprintMod}) AS fingerprint,
        CAST(list_sum(list_transform(range(0, 60), b ->
          CASE WHEN list_sum(list_transform(hs, h ->
              CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
               THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END))
          AS BIGINT) AS simhash
      FROM hsx"""
    }),

    // ---- p13: multimodal column plumbing — opaque binary payloads +
    // typed metadata; byte-level features through the binary type
    // (decode itself is a stub: no media libs in this environment)
    Entry("p13_mm_features", (s, dir) => {
      val payload = encode(col("text"), "UTF-8") // stand-in binary blob
      docs(s, dir).select(col("doc_id"),
        length(payload).cast("long").as("n_bytes"),
        md5(payload).as("content_md5"),
        lower(hex(substring(payload, 1, 8))).as("header_hex"),
        ceil(length(payload) / lit(64.0)).cast("long").as("n_frames"))
    }, Some("""
      SELECT doc_id,
             octet_length(encode(text)) AS n_bytes,
             md5(text) AS content_md5,
             lower(substr(hex(encode(text)), 1, 16)) AS header_hex,
             CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT) AS n_frames
      FROM documents""")),

    // ---- p14: BPE-ish regex token counting — tokenize into word /
    // number / punctuation classes with one alternation regex (the
    // shape of a byte-pair pre-tokenizer), count per class
    Entry("p14_token_classes", (s, dir) =>
      docs(s, dir)
        .withColumn("pieces",
          expr("""regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)"""))
        .select(col("doc_id"),
          size(col("pieces")).cast("long").as("n_pieces"),
          size(expr("filter(pieces, p -> p rlike '^[a-z]+$')")).cast("long")
            .as("n_words"),
          size(expr("filter(pieces, p -> p rlike '^[0-9]+$')")).cast("long")
            .as("n_numbers"),
          size(expr("filter(pieces, p -> not (p rlike '^[a-z0-9]')) ")).cast("long")
            .as("n_punct")),
      Some("""
        WITH p AS (SELECT doc_id,
                     regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')
                       AS pieces
                   FROM documents)
        SELECT doc_id, len(pieces) AS n_pieces,
               len(list_filter(pieces, p -> regexp_matches(p, '^[a-z]+$'))) AS n_words,
               len(list_filter(pieces, p -> regexp_matches(p, '^[0-9]+$'))) AS n_numbers,
               len(list_filter(pieces, p -> NOT regexp_matches(p, '^[a-z0-9]'))) AS n_punct
        FROM p""")),

    // ---- p15: IVF-style ANN — coarse quantization to deterministic
    // centroids (every 100th vector); database vectors live in their
    // single nearest cell, queries probe their `nprobe` nearest cells
    // (2 shipped — the standard recall lever; a neighbor is in exactly
    // one cell so probing more cells never duplicates a pair). The
    // assign step is a broadcast cross join against the tiny centroid
    // set; the search is an equi-join on cell id — both scale as
    // ordinary shuffles. Distances are fixed-point integer L2 so cell
    // assignment is exact in both engines (full DuckDB oracle); the
    // nprobe=2-beats-nprobe=1 recall claim is pinned vs p07 in
    // PipelineSpec.
    Entry("p15_sim_ivf", (s, dir) => ivfTopK(s, dir, nprobe = 2),
      Some(ivfOracle(nprobe = 2))),

    // ---- p16: multimodal frame sampling — split each opaque binary
    // payload into fixed 64-byte frames (the video-frame / audio-chunk
    // access pattern), emit per-frame offsets, sizes and content hashes.
    // Works on the hex encoding so both engines slice identical bytes;
    // per-frame md5 stands in for the decode step (no media libs here).
    Entry("p16_mm_frames", (s, dir) =>
      docs(s, dir)
        .withColumn("hx", hex(encode(col("text"), "UTF-8")))
        // empty payloads produce no frames (sequence(0,-1) would emit
        // two bogus rows; the oracle's range(0,0) emits none)
        .filter(length(col("hx")) > 0)
        .withColumn("frame_idx",
          expr("explode(sequence(0, cast(ceil(length(hx)/128.0) as int) - 1))"))
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          (length(expr("substr(hx, frame_idx*128 + 1, 128)")) / 2)
            .cast("long").as("frame_bytes"),
          md5(expr("substr(hx, frame_idx*128 + 1, 128)").cast("binary"))
            .as("frame_md5")),
      Some("""
        WITH h AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents),
        f AS (SELECT doc_id, hx, i AS frame_idx
              FROM h, UNNEST(range(0, CAST(ceil(length(hx)/128.0) AS BIGINT))) t(i))
        SELECT doc_id, frame_idx,
               length(substr(hx, CAST(frame_idx*128 + 1 AS INT), 128)) // 2 AS frame_bytes,
               md5(substr(hx, CAST(frame_idx*128 + 1 AS INT), 128)) AS frame_md5
        FROM f""")),

    // ---- p18: fuzzy dedup via edit distance with blocking — the
    // classic record-linkage shape: a deterministic block key (content
    // prefix + length bucket) turns the all-pairs comparison into an
    // equi-join, and the expensive levenshtein runs only inside blocks.
    Entry("p18_dedup_editdist", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), norm.as("nt"))
      val b = d.select(col("doc_id"), col("nt"),
        substring(col("nt"), 1, 12).as("blk"),
        (length(col("nt")) / 20).cast("long").as("lb"))
      b.toDF("doc_a", "nt_a", "blk", "lb")
        .join(b.toDF("doc_b", "nt_b", "blk", "lb"), Seq("blk", "lb"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          levenshtein(substring(col("nt_a"), 1, 60),
            substring(col("nt_b"), 1, 60)).cast("long").as("edist"))
        .filter(col("edist") <= 8)
    }, Some(s"""
      WITH d AS (SELECT doc_id, $normSql AS nt FROM documents),
      b AS (SELECT doc_id, nt, substr(nt, 1, 12) AS blk,
                   length(nt) // 20 AS lb FROM d),
      cand AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
                      levenshtein(substr(x.nt, 1, 60), substr(y.nt, 1, 60))
                        AS edist
               FROM b x JOIN b y ON x.blk = y.blk AND x.lb = y.lb
                 AND x.doc_id < y.doc_id)
      SELECT doc_a, doc_b, edist FROM cand WHERE edist <= 8""")),

    // ---- p17: tf-idf top terms per document. The corpus size N joins
    // in via a broadcast single-row aggregate (no driver-side count, no
    // global window); tf and df are plain shuffle aggregates, so the
    // whole thing scales like any two-level group-by.
    Entry("p17_tfidf", (s, dir) => {
      val terms = docs(s, dir)
        .select(col("doc_id"), explode(toks).as("term"))
      // r15 sweep: measured and REJECTED persisting tf + deriving df
      // from it (count(*) over tf rows == countDistinct(doc_id) over
      // postings): +12% at sf0.1 — materializing the full posting
      // cache costs more than the second tokenize pass it saves here
      val tf = terms.groupBy("doc_id", "term")
        .agg(count(lit(1)).as("tf"))
      val df = terms.groupBy("term")
        .agg(countDistinct(col("doc_id")).as("df"))
      val n = docs(s, dir).agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("tfidf").desc, col("term"))
      tf.join(df, "term")
        .join(broadcast(n))
        .select(col("doc_id"), col("term"),
          round(col("tf") * log(col("n").cast("double") / col("df")), 6)
            .as("tfidf"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
    }, Some(s"""
      WITH toks AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
      n AS (SELECT count(*) AS n FROM documents),
      scored AS (SELECT doc_id, term,
                        round(tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS tfidf
                 FROM tf JOIN df USING (term), n)
      SELECT doc_id, term, tfidf, rk FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                   ORDER BY tfidf DESC, term) AS rk
        FROM scored) WHERE rk <= 3""")),

    // ---- p19: repetition-based quality signals (the Gopher-rule
    // family): fraction of tokens taken by the single most frequent
    // token, and fraction of duplicate token bigrams. Pure per-row
    // array work — shuffle-free, scales embarrassingly. The per-doc
    // cost is O(tokens * distinct) which is the same shape the
    // published repetition filters pay.
    Entry("p19_quality_repetition", (s, dir) =>
      docs(s, dir)
        .withColumn("toks", toks)
        .withColumn("n_toks", size(col("toks")).cast("long"))
        .withColumn("top_tok", expr("array_max(transform(array_distinct(toks), " +
          "t -> size(filter(toks, x -> x = t))))").cast("long"))
        .withColumn("bigrams", when(size(col("toks")) >= 2,
          expr("transform(sequence(1, size(toks) - 1), " +
            "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"))
          .otherwise(expr("array()")))
        .select(col("doc_id"), col("n_toks"),
          round(col("top_tok") / col("n_toks").cast("double"), 6)
            .as("top_token_frac"),
          when(size(col("bigrams")) === 0, 0.0)
            .otherwise(round(lit(1.0) - size(array_distinct(col("bigrams"))) /
              size(col("bigrams")).cast("double"), 6)).as("dup_bigram_frac"))
        .withColumn("pass_repetition",
          col("top_token_frac") <= 0.2 && col("dup_bigram_frac") <= 0.6),
      Some(s"""
        WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
        m AS (SELECT doc_id, len(toks) AS n_toks,
                list_max(list_transform(list_distinct(toks),
                  t -> len(list_filter(toks, x -> x = t)))) AS top_tok,
                CASE WHEN len(toks) >= 2 THEN
                  list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i+1])
                ELSE [] END AS bigrams
              FROM t),
        f AS (SELECT doc_id, n_toks,
                round(top_tok / CAST(n_toks AS DOUBLE), 6) AS top_token_frac,
                CASE WHEN len(bigrams) = 0 THEN 0.0
                     ELSE round(1.0 - len(list_distinct(bigrams)) /
                       CAST(len(bigrams) AS DOUBLE), 6) END AS dup_bigram_frac
              FROM m)
        SELECT doc_id, n_toks, top_token_frac, dup_bigram_frac,
               top_token_frac <= 0.2 AND dup_bigram_frac <= 0.6
                 AS pass_repetition
        FROM f""")),

    // ---- p20: sequence packing — concatenate the corpus (ordered by
    // doc_id) into fixed token-budget context windows and give every
    // doc its (pack, offset) coordinates. The global prefix sum is the
    // classic two-phase shape: per-bucket token totals prefix-summed on
    // the TINY bucket table (docs/500 rows — the only single-partition
    // window, far below memory at any corpus the two-level scheme
    // serves), broadcast back, then a per-bucket window adds the local
    // running sum. No full-table single-partition window anywhere —
    // that is the naive plan that dies at scale; PipelineSpec pins
    // two-phase == naive on the test corpus.
    Entry("p20_pack_sequences", (s, dir) => packSequences(docs(s, dir)),
      Some(s"""
        WITH d AS (SELECT doc_id, len($toksSql) AS n_toks FROM documents),
        c AS (SELECT doc_id, n_toks,
                CAST(COALESCE(sum(n_toks) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS start_tok
              FROM d)
        SELECT doc_id, n_toks, start_tok // $PackBudget AS pack_id,
               start_tok % $PackBudget AS pack_offset,
               (start_tok % $PackBudget) + n_toks > $PackBudget
                 AS spans_boundary
        FROM c""")),

    // ---- p21: stratified reproducible sampling — per-language keep
    // rates applied via a 32-bit md5 hash of the doc id, so the sample
    // is deterministic, engine-independent (the same md5 HashScheme as
    // MinHash/LSH), and re-runnable: the foundation op for mixing
    // training-data sources at controlled ratios. Per-row, no shuffle.
    Entry("p21_sample_stratified", (s, dir) =>
      docs(s, dir)
        .withColumn("sample_key", expr(
          s"${graft.functions.HashScheme.h32Spark("cast(doc_id as string)")} % 1000"))
        .filter(expr(s"sample_key < $SampleRateCase"))
        .select("doc_id", "lang", "source", "sample_key"),
      Some(s"""
        SELECT doc_id, lang, source, sample_key FROM (
          SELECT doc_id, lang, source,
            ${graft.functions.HashScheme.h32Duck("CAST(doc_id AS VARCHAR)")}
              % 1000 AS sample_key
          FROM documents)
        WHERE sample_key < $SampleRateCase""")),

    // ---- p22: per-label embedding centroids — element-wise means via
    // exact integer micro-sums, because double addition across shuffle
    // partitions is order-dependent and would break any cross-engine
    // (or even run-to-run) hash. Long format (label, dim) so the oracle
    // is a plain GROUP BY; one shuffle on (label, dim).
    Entry("p22_label_centroids", (s, dir) =>
      embs(s, dir)
        .select(col("label"), posexplode(col("emb")).as(Seq("dim", "x")))
        .withColumn("x6", Micro.of("x"))
        .groupBy("label", "dim")
        .agg(sum("x6").as("s6"), count(lit(1)).as("n_vecs"))
        .select(col("label"), col("dim").cast("long").as("dim"),
          round(col("s6") / (col("n_vecs").cast("double") * 1e6), 6)
            .as("centroid"),
          col("n_vecs")),
      Some(s"""
        WITH e AS (SELECT label, embedding::DOUBLE[] AS emb
                   FROM embeddings),
        x AS (SELECT label, i - 1 AS dim,
                ${Micro.sql("emb[i]")} AS x6
              FROM e, UNNEST(range(1, len(emb) + 1)) t(i))
        SELECT label, dim,
               round(CAST(sum(x6) AS BIGINT) / (count(*) * 1e6), 6)
                 AS centroid,
               count(*) AS n_vecs
        FROM x GROUP BY 1, 2""")),

    // ---- p23: near-dup clusters + survivors — the transitive-closure
    // step every production dedup pipeline needs after pair generation:
    // p04's LSH candidate pairs resolved into connected components
    // (operators.Components: min-label propagation + pointer jumping,
    // O(log n) rounds of node-keyed shuffles) with one deterministic
    // survivor per cluster (min doc_id). Docs in no pair keep their own
    // id, so the output is a full dedup manifest — keep is_survivor
    // rows, drop the rest. The oracle builds the reachability closure
    // with a recursive CTE over the SAME pairs CTE the p04 oracle
    // checks; the closure is quadratic per clique, which is fine for
    // the oracle and exactly why the engine does NOT compute it.
    Entry("p23_dedup_clusters", (s, dir) => {
      clusterManifest(docs(s, dir))
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy("cluster_id")))
        .withColumn("is_survivor", col("doc_id") === col("cluster_id"))
    }, Some(s"""
      WITH RECURSIVE $lshManifestOracleCtes
      SELECT doc_id, cluster_id,
             count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
             doc_id = cluster_id AS is_survivor
      FROM manifest"""),
      tier = Tier.LshPairConsumer),

    // ---- p24: benchmark decontamination — flag training docs sharing
    // any 3-gram shingle with the held-out "benchmark" split
    // (doc_id % 100 == 0 stands in for an eval suite; trigrams are the
    // overlap unit so the tiny synthetic split actually intersects).
    // The scale shape matters: the benchmark side is aggregated to a
    // per-shingle dim table BEFORE the join, so join output is bounded
    // by the training postings list — there is no df² pair blowup at
    // any skew (unlike naive doc×doc overlap). Benchmark suites are
    // small by nature → broadcast; were they not, the same plan
    // degrades gracefully to a shuffle equi-join on shingle. Shingle
    // identity is the xxhash64 n-gram hash (same ~1e-9 collision
    // caveat as p03, disclosed there); the oracle uses string shingles.
    Entry("p24_contamination", (s, dir) => {
      val d = docs(s, dir)
      val train = gram3Sets(d.filter(col("doc_id") % 100 =!= 0))
      val bench = gram3Sets(d.filter(col("doc_id") % 100 === 0))
        .groupBy("shingle").agg(count(lit(1)).as("bench_df"))
      // NO broadcast() hint on bench: it is corpus-derived (per-shingle
      // counts over the held-out 1%), so a hard hint grows linearly
      // with the corpus and is a driver OOM at adversarial sizes — let
      // AQE pick broadcast from the aggregate's TRUE runtime size (the
      // p34 benchSet discipline). The bounded-at-any-size membership
      // twin is p34's fixed 2^17-bit bloom bitmap; p24 keeps the exact
      // per-shingle counts the bloom cannot carry.
      train.join(bench, "shingle")
        .groupBy("doc_id", "n")
        .agg(count(lit(1)).as("n_hit"), sum("bench_df").as("n_bench_docs"))
        .select(col("doc_id"), col("n").as("n_shingles"), col("n_hit"),
          col("n_bench_docs"),
          round(col("n_hit") / col("n"), 6).as("contam_frac"))
    }, Some(s"""
      WITH docs AS (SELECT doc_id, $toksSql AS toks FROM documents),
      $sh3OracleCte,
      counts3 AS (SELECT doc_id, count(*) AS n FROM sh3 GROUP BY doc_id),
      bench AS (SELECT shingle, count(*) AS bench_df FROM sh3
                WHERE doc_id % 100 = 0 GROUP BY shingle),
      hits AS (SELECT s.doc_id, count(*) AS n_hit,
                      CAST(sum(b.bench_df) AS BIGINT) AS n_bench_docs
               FROM sh3 s JOIN bench b USING (shingle)
               WHERE s.doc_id % 100 != 0 GROUP BY s.doc_id)
      SELECT h.doc_id, c.n AS n_shingles, h.n_hit, h.n_bench_docs,
             round(h.n_hit / c.n, 6) AS contam_frac
      FROM hits h JOIN counts3 c USING (doc_id)"""),
      tier = Tier.Bench(core = true)),

    // ---- p25: KMV distinct-count sketch — per-language distinct
    // 5-gram shingle cardinality estimated from the k=128 smallest
    // md5 hashes (functions.KmvSketch, a TypedImperativeAggregate:
    // O(k) state, map-side partial merge). The exact count rides along
    // as the accuracy baseline — it is the full-shuffle plan the
    // sketch replaces at 100 TB. The sketch output is a deterministic
    // set function of the input, so the oracle rebuilds the same k-th
    // smallest distinct hash with a row_number window and the estimate
    // compares bit-for-bit. Estimator: (k-1)·2^32/h_k; exact when the
    // group has fewer than k distinct values.
    Entry("p25_distinct_kmv", (s, dir) => {
      import graft.functions.{HashScheme => H}
      val k = 128
      docs(s, dir)
        .select(col("lang"),
          explode(TextHashFunctions.word_ngrams(toks, 5)).as("shingle"))
        .select(col("lang"), expr(H.h32Spark("shingle")).as("h"))
        .groupBy("lang")
        .agg(SketchFunctions.kmv_sketch(col("h"), k).as("sk"),
          countDistinct(col("h")).as("n_exact"))
        .select(col("lang"), col("n_exact"),
          when(size(col("sk")) === k, element_at(col("sk"), k))
            .as("kth_hash"),
          when(size(col("sk")) < k, col("n_exact").cast("double"))
            .otherwise(round(
              lit((k - 1).toDouble * 4294967296.0) / element_at(col("sk"), k),
              2)).as("est_distinct"))
    }, Some(s"""
      WITH docs AS (SELECT lang, $toksSql AS toks FROM documents),
      sh AS (SELECT DISTINCT lang,
               ${graft.functions.HashScheme.h32Duck(
                 "array_to_string(toks[i:i+4], ' ')")} AS h
             FROM docs, UNNEST(CASE WHEN len(toks) >= 5
               THEN range(1, len(toks)-3) ELSE [] END) AS t(i)),
      ranked AS (SELECT lang, h,
                   row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
                 FROM sh),
      agg AS (SELECT lang, count(*) AS n_exact,
                max(CASE WHEN rn = 128 THEN h END) AS kth_hash
              FROM ranked GROUP BY lang)
      SELECT lang, n_exact, kth_hash,
             CASE WHEN n_exact < 128 THEN CAST(n_exact AS DOUBLE)
                  ELSE round(545460846592.0 / kth_hash, 2)
             END AS est_distinct
      FROM agg""")),

    // ---- p26: int8 scalar-quantized similarity top-k — the memory-
    // compression path for embedding search at 100 TB: per-vector
    // symmetric quantization q_i = round(x_i·127/max|x|) shrinks the
    // column 4-8× (and integer dot products vectorize), at a small
    // recall cost the spec pins against p07's exact top-k. All
    // similarity arithmetic is integer-exact until one final division,
    // computed in the same op order on both engines (sqrt is
    // IEEE-correctly-rounded everywhere), so the oracle hash-matches.
    // Same declared brute-force candidate shape as p07 (this is a
    // compression baseline; p08/p15 remain the candidate-pruning paths).
    Entry("p26_sim_topk_int8", (s, dir) => {
      // Zero-norm vectors are EXCLUDED from the index: a zero vector
      // has no direction, so cosine against it is undefined — and its
      // ma = 0 makes both the quantization divisor and the similarity
      // denominator zero, which ANSI mode turns into a job-killing
      // DIVIDE_BY_ZERO (caught by the degenerate-corpus edge audit).
      // try_divide keeps the quantization total even if predicate
      // reordering evaluates it on an excluded row.
      val q8 = embs(s, dir)
        .withColumn("ma", expr("array_max(transform(emb, x -> abs(x)))"))
        .filter(col("ma") =!= 0.0)
        .withColumn("qv",
          expr("transform(emb, x -> " +
            "cast(round(try_divide(x * 127.0, ma)) as bigint))"))
        .select(col("vec_id"), col("qv"))
      q8.filter(col("vec_id") % 50 === 0).toDF("query_id", "qq")
        .join(q8.toDF("neighbor_id", "nq"),
          col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(
            graft.functions.SeriesKernelFunctions.int_dot(col("qq"), col("nq")) /
              (sqrt(graft.functions.SeriesKernelFunctions.int_dot(col("qq"), col("qq")).cast("double")) *
                sqrt(graft.functions.SeriesKernelFunctions.int_dot(col("nq"), col("nq")).cast("double"))),
            6).as("cos_sim"))
        .transform(topKByCos(_, 5))
    }, Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      q AS (SELECT vec_id,
              list_transform(emb, x -> CAST(round(x * 127.0 / ma) AS BIGINT))
                AS qv
            FROM (SELECT vec_id, emb,
                    list_max(list_transform(emb, x -> abs(x))) AS ma
                  FROM e)
            WHERE ma <> 0),
      sims AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        round(
          CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
            i -> a.qv[i] * b.qv[i])) AS BIGINT)
          / (sqrt(CAST(CAST(list_sum(list_transform(a.qv, x -> x * x))
               AS BIGINT) AS DOUBLE))
             * sqrt(CAST(CAST(list_sum(list_transform(b.qv, x -> x * x))
                 AS BIGINT) AS DOUBLE))), 6) AS cos_sim
        FROM q a JOIN q b ON a.vec_id != b.vec_id WHERE a.vec_id % 50 = 0)
      ${topKByCosSql("sims", 5)}""")),

    // ---- p27: tokenizer vocabulary coverage — build the top-16
    // frequency vocabulary (deterministic tiebreak: count desc, token
    // asc) and score every doc's out-of-vocabulary rate against it.
    // Two-phase at scale: the vocab aggregate is a token-keyed shuffle
    // whose result is tiny -> broadcast back over the postings; the
    // per-doc score is then shuffle-free on the doc key. The OOV rate
    // is the standard pre-tokenizer health signal for a training mix.
    Entry("p27_vocab_oov", (s, dir) => {
      val tok = docs(s, dir).select(col("doc_id"), explode(toks).as("tok"))
      val vocab = tok.groupBy("tok").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok")).limit(16)
        .select(col("tok"), lit(1).as("in_vocab"))
      tok.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("doc_id"), col("n_toks"), col("n_oov"),
          round(col("n_oov") / col("n_toks"), 6).as("oov_rate"))
    }, Some(s"""
      WITH docs AS (SELECT doc_id, $toksSql AS toks FROM documents),
      tok AS (SELECT doc_id, UNNEST(toks) AS tok FROM docs),
      vocab AS (SELECT tok FROM (
                  SELECT tok, count(*) AS c FROM tok GROUP BY tok)
                ORDER BY c DESC, tok LIMIT 16),
      per AS (SELECT t.doc_id, count(*) AS n_toks,
                CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_oov
              FROM tok t LEFT JOIN vocab v ON t.tok = v.tok
              GROUP BY t.doc_id)
      SELECT doc_id, n_toks, n_oov, round(n_oov / n_toks, 6) AS oov_rate
      FROM per""")),

    // ---- p28: per-source training-mix report — the dashboard rollup a
    // data curator reads before a run: for each ingest source, how many
    // docs, how many are exact-dup non-keepers (p01/p02 semantics), how
    // many are benchmark-contaminated (p24 semantics), and the mean
    // token length (exact integer sum, one division). Composes three
    // pipeline signals in one pass over the corpus: the dup mark is a
    // content-hash window, the contamination mark an equi-join of
    // 3-gram postings against the bench shingle set (AQE-sized, no
    // forced hint — see below), then one source-keyed aggregate — no
    // per-doc output, so the report stays O(|sources|) however large
    // the corpus.
    Entry("p28_source_report", (s, dir) => {
      val d = docs(s, dir)
      val base = d.select(col("doc_id"), col("source"),
          size(toks).cast("long").as("n_toks"), md5(norm).as("h"))
        .withColumn("keeper",
          min("doc_id").over(Window.partitionBy("h")))
      // NO broadcast() hint on the bench shingle set: it is the
      // distinct 3-gram set of the held-out 1% — corpus-derived, grows
      // ~linearly with the corpus, the exact driver-OOM class p24/p74
      // shed in r12 (this entry was the last carrier, misfiled in the
      // allowlist under its per-source OUTPUT bound). AQE sizes the
      // distinct-aggregate side at runtime and still picks broadcast
      // at test scale; at adversarial sizes it degrades to a shuffle
      // equi-join instead of a driver OOM.
      val flagged = gram3Sets(d.filter(col("doc_id") % 100 =!= 0))
        .join(gram3Sets(d.filter(col("doc_id") % 100 === 0))
          .select("shingle").distinct(), Seq("shingle"))
        .select("doc_id").distinct()
        .withColumn("contam", lit(1))
      base.join(flagged, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("doc_id") =!= col("keeper"), 1L).otherwise(0L))
            .as("n_dup"),
          sum(when(col("contam").isNotNull, 1L).otherwise(0L))
            .as("n_contam"),
          round(sum(col("n_toks")) / count(lit(1)), 6).as("mean_tokens"))
    }, Some(s"""
      WITH docs AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
      base AS (SELECT d.doc_id, d.source,
                 CAST(len(t.toks) AS BIGINT) AS n_toks,
                 md5($normSql) AS h,
                 min(d.doc_id) OVER (PARTITION BY md5($normSql)) AS keeper
               FROM documents d JOIN docs t USING (doc_id)),
      $sh3OracleCte,
      bench AS (SELECT DISTINCT shingle FROM sh3 WHERE doc_id % 100 = 0),
      flagged AS (SELECT DISTINCT s.doc_id FROM sh3 s
                  JOIN bench USING (shingle) WHERE s.doc_id % 100 != 0)
      SELECT b.source, count(*) AS n_docs,
             CAST(sum(CASE WHEN b.doc_id != b.keeper THEN 1 ELSE 0 END)
               AS BIGINT) AS n_dup,
             CAST(sum(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_contam,
             round(CAST(sum(b.n_toks) AS BIGINT) / count(*), 6)
               AS mean_tokens
      FROM base b LEFT JOIN flagged f ON b.doc_id = f.doc_id
      GROUP BY 1""")),

    // ---- p29: overlapping token-window chunking (size 32, stride 24)
    // — how long documents become training/RAG units. Pure per-row
    // explode: no shuffle at all, output rows ≈ corpus tokens / stride.
    // Each chunk carries its coordinates and a cross-engine md5 content
    // hash so downstream chunk-level dedup (p01-style on chunk_hash)
    // composes directly.
    Entry("p29_chunk_stride", (s, dir) => {
      import graft.functions.{HashScheme => H}
      docs(s, dir)
        .select(col("doc_id"), toks.as("tk"))
        .select(col("doc_id"), col("tk"),
          posexplode(expr("sequence(1, size(tk), 24)"))
            .as(Seq("chunk_id", "start")))
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          col("start").cast("long").as("start_tok"),
          expr("slice(tk, start, 32)").as("chunk"))
        .select(col("doc_id"), col("chunk_id"), col("start_tok"),
          size(col("chunk")).cast("long").as("chunk_len"),
          expr(H.h32Spark("array_join(chunk, ' ')")).as("chunk_hash"))
    }, Some(s"""
      WITH $chunkOracleCtes
      SELECT doc_id, chunk_id, start_tok, chunk_len, chunk_hash
      FROM chunks""")),

    // ---- p30: composite quality filter with reasons — the C4-style
    // rule gate curators actually ship: every doc gets a keep/drop
    // verdict plus the ORDERED list of failed rules, so drops are
    // auditable and rates per rule are one groupBy away. All three
    // signals are per-row expressions (token count, type-token ratio,
    // max single-token share) — shuffle-free over any corpus size. The
    // failed rules are emitted in a FIXED rule order as a ','-joined
    // string (no sort needed, no tie ambiguity; scalar so the driver's
    // pandas sort/hash compare handles it — array cells are unhashable
    // there).
    Entry("p30_quality_filter", (s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), toks.as("tk"))
        .select(col("doc_id"),
          size(col("tk")).cast("long").as("n_toks"),
          expr("size(array_distinct(tk))").cast("long").as("n_types"),
          expr("array_max(transform(array_distinct(tk), " +
            "t -> size(filter(tk, x -> x = t))))").cast("long")
            .as("max_tok"))
        .select(col("doc_id"), col("n_toks"),
          round(col("n_types") / col("n_toks"), 6).as("ttr"),
          round(col("max_tok") / col("n_toks"), 6).as("top_frac"),
          expr("filter(array(" +
            "case when n_toks < 30 then 'too_short' end, " +
            "case when (n_types / n_toks) < 0.35 then 'low_ttr' end, " +
            "case when (max_tok / n_toks) > 0.15 then 'rep_heavy' end), " +
            "x -> x is not null)").as("reason_arr"))
        .select(col("doc_id"), col("n_toks"), col("ttr"), col("top_frac"),
          array_join(col("reason_arr"), ",").as("reasons"),
          (size(col("reason_arr")) === 0).as("keep"))
    }, Some(s"""
      WITH docs AS (SELECT doc_id, $toksSql AS toks FROM documents),
      sig AS (SELECT doc_id,
                CAST(len(toks) AS BIGINT) AS n_toks,
                CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
                CAST(list_max(list_transform(list_distinct(toks),
                  t -> len(list_filter(toks, x -> x = t)))) AS BIGINT)
                  AS max_tok
              FROM docs),
      ruled AS (SELECT doc_id, n_toks,
                  round(n_types / n_toks, 6) AS ttr,
                  round(max_tok / n_toks, 6) AS top_frac,
                  list_filter([
                    CASE WHEN n_toks < 30 THEN 'too_short' END,
                    CASE WHEN (n_types / n_toks) < 0.35 THEN 'low_ttr' END,
                    CASE WHEN (max_tok / n_toks) > 0.15 THEN 'rep_heavy' END],
                    x -> x IS NOT NULL) AS reason_arr
                FROM sig)
      SELECT doc_id, n_toks, ttr, top_frac,
             -- DuckDB array_to_string([]) is NULL; Spark array_join is ''
             coalesce(array_to_string(reason_arr, ','), '') AS reasons,
             len(reason_arr) = 0 AS keep
      FROM ruled""")),

    // ---- p31: deterministic train/val/test split assignment — the
    // hash-mod split every training pipeline needs: stable under
    // reruns, re-shards, and corpus growth (a doc's split depends only
    // on its id, never on row order or partitioning), and exactly
    // reproducible on any engine via the md5 HashScheme. The ':split'
    // salt decouples this hash from every other doc_id-hash in the
    // engine so adding a split can never correlate with, e.g., the
    // sampling hash. Per-row, shuffle-free at any corpus size.
    Entry("p31_split_assign", (s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), col("source"),
          splitBucket("doc_id").as("bucket"))
        .select(col("doc_id"), col("source"), col("bucket"),
          splitOf(col("bucket")).as("split"))
    }, Some(s"""
      WITH b AS (SELECT doc_id, source,
        ${splitBucketSql("doc_id")} AS bucket
        FROM documents)
      SELECT doc_id, source, bucket, ${splitCaseSql("bucket")} AS split
      FROM b""")),

    // ---- p32: per-language top-k bigrams — the corpus LM-ish n-gram
    // census behind stopword lists, contamination heuristics, and
    // domain drift checks. Shape at 100 TB: the census runs over
    // 64-bit token-PAIR hashes (xxhash64 — an internal join identity
    // only, p03's shingle-join rationale), so the explode emits longs,
    // the hash-agg probes allocate no strings, and the single
    // vocab-sized shuffle carries (lang, hash, count) plus one
    // 2-long WITNESS occurrence (min (doc_id, pos)) folded into the
    // same aggregate. Bigram STRINGS materialize only for the
    // <= (10 + count-ties) x lang survivors, via a broadcast witness
    // join back to the documents table — ~50 concats total instead of
    // one per corpus occurrence (the old form's per-occurrence concat
    // churn dominated GC at scale). rank() keeps every count-tie at
    // the k-boundary so the exact (cnt desc, bigram-string) cut —
    // total and engine-independent — happens after recovery.
    Entry("p32_ngram_topk", (s, dir) => {
      val counted = docs(s, dir)
        .select(col("doc_id"), col("lang"), toks.as("tk"))
        // Spark sequence(1, 0) would DESCEND ([1, 0]); guard short docs
        .filter(size(col("tk")) >= 2)
        .select(col("doc_id"), col("lang"), posexplode(expr(
          "transform(sequence(1, size(tk) - 1), i -> " +
            "xxhash64(element_at(tk, i), element_at(tk, i + 1)))")))
        .toDF("doc_id", "lang", "pos", "bh")
        // witness packed into ONE long (codegen'd min; a struct min
        // falls back to interpreted ordering): doc_id << 20 | pos.
        // Bounds: pos < 2^20 bigrams/doc (~5 MB of text), doc_id <
        // 2^43 — 8.8e12 docs, comfortably above a 100 TB corpus's id
        // space. ENFORCED loudly: an out-of-bounds row raises instead
        // of silently corrupting the packed witness (wrong wdoc ->
        // survivor dropped or joined to the wrong doc).
        .groupBy("lang", "bh")
        .agg(count(lit(1)).as("cnt"),
          min(expr(
            "case when pos < 1048576 and doc_id < 8796093022208 " +
              "then doc_id * 1048576 + cast(pos as bigint) " +
              "else raise_error('p32 witness packing bounds exceeded " +
              "(pos < 2^20, doc_id < 2^43)') end")).as("w"))
        // persisted: the census pass (tokenize + explode + hash-agg)
        // dominates the entry; repeated evaluations in one harness
        // block (Bench runs a query 5x between releaseAll calls)
        // rebuild it from the raw corpus otherwise. Vocab-sized
        // (lang, hash, cnt, witness) — small relative to the corpus.
        .persistTracked()
      val cand = counted
        .withColumn("cr", rank().over(Window.partitionBy("lang")
          .orderBy(col("cnt").desc)))
        .filter(col("cr") <= 10)
        .select(col("lang"), col("cnt"),
          shiftright(col("w"), 20).as("wdoc"),
          (col("w") % (1 << 20)).cast("int").as("wpos"))
      // recovery scan: raw text only; the join filters to the ~50
      // witness docs BEFORE tokenization, so the second pass re-splits
      // ~50 documents, not the corpus
      docs(s, dir).select(col("doc_id"), col("text"))
        .join(broadcast(cand), col("doc_id") === col("wdoc"))
        .withColumn("tk2", toks)
        .withColumn("bigram", expr(
          "concat(element_at(tk2, wpos + 1), ' ', element_at(tk2, wpos + 2))"))
        .withColumn("rk", row_number().over(Window.partitionBy("lang")
          .orderBy(col("cnt").desc, col("bigram"))))
        .filter(col("rk") <= 10)
        .select(col("lang"), col("rk").cast("long").as("rk"),
          col("bigram"), col("cnt"))
    }, tier = Tier.Bench(), oracle = Some(s"""
      WITH docs AS (SELECT lang, $toksSql AS toks FROM documents),
      bi AS (SELECT lang, toks[i] || ' ' || toks[i + 1] AS bigram
             FROM docs, UNNEST(range(1, len(toks))) AS t(i)),
      c AS (SELECT lang, bigram, count(*) AS cnt FROM bi GROUP BY 1, 2),
      r AS (SELECT lang, row_number() OVER (PARTITION BY lang
              ORDER BY cnt DESC, bigram) AS rk, bigram, cnt FROM c)
      SELECT lang, rk, bigram, cnt FROM r WHERE rk <= 10""")),

    // ---- p33: embedding-norm outliers — the vector-quality gate ahead
    // of ANN indexing: a truncated/blown-up embedding shows up as a
    // norm z-score outlier within its label cohort. Two passes, both
    // scale-clean: (1) per-row exact integer sum of squared 1e-6
    // fixed-point components (<= 64·(4e5)² « 2^63) -> norm6 =
    // round(sqrt) — an exact integer on both engines; (2) per-label
    // count/sum/sum-of-squares in 128-bit integers (partition-order
    // independent), broadcast back (cohort table = #labels rows). The
    // z conversion happens once per row in identical double op order.
    Entry("p33_emb_outliers", (s, dir) => {
      // persisted: the slim (vec_id, label, norm6) projection feeds both
      // the cohort aggregate and the per-row rejoin — without it the
      // embedding table is scanned and re-squared twice
      val e = embs(s, dir)
        .select(col("vec_id"), col("label"),
          expr(s"aggregate(transform(emb, x -> ${Micro.sql("x")}), 0L, " +
            "(a, v) -> a + v * v)").as("s2"))
        .withColumn("norm6",
          expr("cast(round(sqrt(cast(s2 as double))) as bigint)"))
        .drop("s2")
        .persistTracked()
      val stats = e.groupBy("label").agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("norm6").cast("decimal(38,0)")).cast("double").as("sn"),
        sum(col("norm6").cast("decimal(38,0)") * col("norm6"))
          .cast("double").as("sn2"))
      e.join(broadcast(stats), "label")
        .withColumn("z_raw",
          (col("norm6").cast("double") - (col("sn") / col("n"))) /
            sqrt((col("sn2") / col("n")) -
              ((col("sn") / col("n")) * (col("sn") / col("n")))))
        .select(col("vec_id"), col("label"),
          round(col("norm6") / 1e6, 6).as("norm"),
          round(col("z_raw"), 6).as("z"),
          (abs(col("z_raw")) > 2.0).as("is_outlier"))
    }, Some(s"""
      WITH e AS (SELECT vec_id, label,
        CAST(list_sum(list_transform(
          ${Micro.vecSql("embedding")},
          v -> v * v)) AS BIGINT) AS s2
        FROM embeddings),
      n6 AS (SELECT vec_id, label,
               CAST(round(sqrt(CAST(s2 AS DOUBLE))) AS BIGINT) AS norm6
             FROM e),
      s AS (SELECT vec_id, label, norm6,
              CAST(count(*) OVER w AS DOUBLE) AS n,
              CAST(sum(CAST(norm6 AS HUGEINT)) OVER w AS DOUBLE) AS sn,
              CAST(sum(CAST(norm6 AS HUGEINT) * norm6) OVER w AS DOUBLE)
                AS sn2
            FROM n6 WINDOW w AS (PARTITION BY label)),
      z AS (SELECT vec_id, label, norm6,
              (CAST(norm6 AS DOUBLE) - (sn / n)) /
                sqrt((sn2 / n) - ((sn / n) * (sn / n))) AS z_raw
            FROM s)
      SELECT vec_id, label,
             round(norm6 / 1e6, 6) AS norm,
             round(z_raw, 6) AS z,
             abs(z_raw) > 2.0 AS is_outlier
      FROM z""")),

    // ---- p34: Bloom-filter decontamination — the O(1)-broadcast
    // membership path that replaces p24's per-shingle dim join at
    // 100 TB: the held-out benchmark's 3-gram set is compressed into a
    // fixed m=2^17-bit bitmap (m/32 = 4096 BIGINT words — a KB-scale
    // broadcast at ANY bench-set size, where p24's per-shingle dim
    // grows with the benchmark), and each training shingle probes k=4
    // bits. Probes use Kirsch-Mitzenmacher double hashing over a
    // single md5 (HashScheme h32/h32b); every step is integer-exact
    // and shifts stay <= 31 bits (positive BIGINTs on both engines),
    // so the bitmap — and therefore every hit AND every false
    // positive — is bit-identical in DuckDB and the whole query
    // oracle-checks. The exact bench-set semi-join rides along per doc
    // purely to ACCOUNT the false positives (a deployment drops it and
    // keeps the bloom columns); PipelineSpec pins the one-sided error:
    // every exact hit is a bloom hit (no false negatives), n_false_pos
    // >= 0.
    Entry("p34_contam_bloom", (s, dir) => {
      import graft.functions.{HashScheme => H}
      val m = BloomBits
      val k = BloomK
      val h = docs(s, dir)
        .select(col("doc_id"),
          explode(array_distinct(TextHashFunctions.word_ngrams(toks, 3)))
            .as("shingle"))
        .withColumn("h1", expr(H.h32Spark("shingle")))
        .withColumn("h2", expr(H.h32bSpark("shingle")))
      val benchSet = h.filter(col("doc_id") % 100 === 0)
        .select("shingle").distinct()
        .withColumn("exact", lit(true))
      // The whole m-bit bitmap densifies into ONE row holding an
      // array<bigint>[m/32] (32 KB), broadcast once; every probe is
      // then row-local bit math — element_at + mask — inside
      // whole-stage codegen. This replaces k chained broadcast joins
      // (k broadcast exchanges + k join operators per run, the
      // dominant fixed cost at small SF and k pointless hash probes
      // per posting at large). The sparse->dense fill sorts the set
      // words and splices zero-runs into the gaps — O(n + m/32); a
      // map-based fill would be O((m/32)^2) because element_at on
      // Spark's array-backed map is a linear scan. Never an explode +
      // re-group: that would shuffle the posting list at k times its
      // size — the volume the bloom exists to avoid.
      val bitmap = benchBloomBitmap(docs(s, dir))
      val probes = h.filter(col("doc_id") % 100 =!= 0)
        .crossJoin(broadcast(bitmap))
        .withColumn("bloom_hit",
          (0 until k).map { i =>
            val pos = s"((h1 + $i * h2) % $m)"
            expr(s"(element_at(bits, cast($pos div 32 as int) + 1) & " +
              s"shiftleft(cast(1 as bigint), cast($pos % 32 as int))) != 0")
          }.reduce(_ && _))
      // NO broadcast() hint on benchSet: it is corpus-derived (distinct
      // shingles of the held-out 1%), so a hard hint is an unbounded
      // driver OOM at adversarial sizes — let AQE pick broadcast from
      // the aggregate's TRUE runtime size (the p04 hot-bucket
      // discipline). The bounded side of this entry is the bitmap
      // above, which is small by construction at ANY corpus size.
      probes
        .join(benchSet, Seq("shingle"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("bloom_hit"), 1L).otherwise(0L)).as("n_bloom_hit"),
          sum(when(col("exact").isNotNull, 1L).otherwise(0L))
            .as("n_exact_hit"))
        .withColumn("n_false_pos", col("n_bloom_hit") - col("n_exact_hit"))
    }, Some(s"""
      WITH docs AS (SELECT doc_id, $toksSql AS toks FROM documents),
      $sh3OracleCte,
      h AS (SELECT doc_id, shingle,
              ${graft.functions.HashScheme.h32Duck("shingle")} AS h1,
              ${graft.functions.HashScheme.h32bDuck("shingle")} AS h2
            FROM sh3),
      benchbits AS (SELECT DISTINCT ((h1 + i * h2) % $BloomBits) AS pos
                    FROM h, UNNEST(range(0, $BloomK)) AS t(i)
                    WHERE doc_id % 100 = 0),
      words AS (SELECT pos // 32 AS word_idx,
                  bit_or(CAST(1 AS BIGINT)
                    << CAST(pos % 32 AS INTEGER)) AS word
                FROM benchbits GROUP BY 1),
      bench_set AS (SELECT DISTINCT shingle FROM sh3
                    WHERE doc_id % 100 = 0),
      ppos AS (SELECT t.doc_id, t.shingle,
                 ((t.h1 + u.i * t.h2) % $BloomBits) AS pos
               FROM h t, UNNEST(range(0, $BloomK)) AS u(i)
               WHERE t.doc_id % 100 != 0),
      probe AS (SELECT p.doc_id, p.shingle,
                  bool_and(coalesce((w.word & (CAST(1 AS BIGINT)
                    << CAST(p.pos % 32 AS INTEGER))) != 0, false))
                    AS bloom_hit
                FROM ppos p LEFT JOIN words w ON p.pos // 32 = w.word_idx
                GROUP BY 1, 2)
      SELECT p.doc_id, count(*) AS n_shingles,
             CAST(sum(CASE WHEN p.bloom_hit THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bloom_hit,
             CAST(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_exact_hit,
             CAST(sum(CASE WHEN p.bloom_hit THEN 1 ELSE 0 END)
               - sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_false_pos
      FROM probe p LEFT JOIN bench_set b USING (shingle)
      GROUP BY 1"""), tier = Tier.Bench(heavy = true)),

    // ---- p35: semantic dedup (SemDeDup-style) — embedding near-dup
    // bucketed by IVF cell. This is the declared scale path for p06's
    // all-pairs baseline: vectors are assigned to their nearest centroid
    // (broadcast cross join against the tiny centroid set, exact
    // integer distances), and the O(n²) pair search becomes a cell
    // equi-join, so candidate volume is Σ cell² instead of n². The
    // nearest-centroid argmin is a min_by AGGREGATE, not a rank window:
    // the n×k candidate rows partial-combine map-side down to n before
    // the exchange, so shuffle volume is one row per vector — a rank
    // window would move all n×k rows. The (d2, cid) ordering key is
    // duplicate-free, so min_by is deterministic.
    Entry("p35_semdedup", (s, dir) => {
      val (e, cents) = ivfCorpus(s, dir)
      val d2 = graft.functions.SeriesKernelFunctions.int_sq_l2(col("ei"), col("ci"))
      val assigned = e.join(broadcast(cents))
        .withColumn("d2", d2)
        .groupBy("vec_id")
        .agg(min_by(struct(col("cid"), col("emb")),
          struct(col("d2"), col("cid"))).as("m"))
        .select(col("vec_id"), col("m.emb").as("emb"),
          col("m.cid").as("cell"))
      assigned.toDF("vec_a", "emb_a", "cell")
        .join(assigned.toDF("vec_b", "emb_b", "cell"), "cell")
        .filter(col("vec_a") < col("vec_b"))
        .select(col("cell"), col("vec_a"), col("vec_b"),
          round(VectorOps.cosine(col("emb_a"), col("emb_b")), 6)
            .as("cos_sim"))
        .filter(col("cos_sim") >= 0.4)
    }, Some(s"""
      WITH $ivfRankedOracleCtes,
      assigned AS (SELECT vec_id, emb, cell FROM ranked WHERE rk = 1)
      SELECT a.cell, a.vec_id AS vec_a, b.vec_id AS vec_b,
             round(list_cosine_similarity(a.emb, b.emb), 6) AS cos_sim
      FROM assigned a JOIN assigned b ON a.cell = b.cell
        AND a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.emb, b.emb), 6) >= 0.4""")),

    // ---- p36: winnowing fingerprints (the MOSS local fingerprinting
    // scheme): over the rolling 3-gram h60 hash stream, each window of
    // w=4 consecutive hashes selects its minimum, rightmost on ties,
    // and the per-document distinct (position, hash) picks form the
    // fingerprint set. Guarantees every ≥w-gram match between two docs
    // shares a fingerprint while sampling ~2/(w+1) of the hashes. The
    // rightmost-min selection is a single integer min-fold: candidates
    // pack as hash*4 + (3 - offset) so minimizing picks the smallest
    // hash and, among equal hashes, the largest position — h60 is 60
    // bits so the packed key stays inside a signed 64-bit integer.
    // Entirely per-row array math: no shuffle at all, embarrassingly
    // parallel at any scale.
    //
    // The gram and packed-key arrays are bound ONCE per row via the
    // `transform(array(X), x -> …)` let-encoding. A plain withColumn
    // chain is collapsed into one Project by CollapseProject, which
    // substitutes the gram-array expression into every lambda that
    // indexes it — re-hashing the whole gram stream per element and
    // turning an O(n) row into O(n^3) md5 calls. Lambda arguments are
    // evaluated exactly once, so wrapping each intermediate as the
    // argument of a single-element transform pins the evaluation count
    // regardless of how the optimizer rewrites the projections. The
    // gram stream itself is the native graft_md5_h60_ngrams expression
    // (one digest per gram, byte-level concat; spec-pinned == the SQL
    // hex form) — on short rows it yields an EMPTY array, so the
    // greatest(..., 1) clamp below stays total (sequence over [1,1],
    // slice/array_min over empty → null picks the size filter drops).
    Entry("p36_winnowing", (s, dir) => {
      docs(s, dir)
        .withColumn("tk", toks)
        // need >= 4 grams, i.e. >= 6 tokens (3-gram stream length n-2)
        .filter(size(col("tk")) >= 6)
        // the native gram stream is referenced exactly once (the
        // winnow kernel's only input), so even if CollapseProject
        // inlines it the digest pass runs once per row
        .withColumn("gs0", TextHashFunctions.md5_h60_ngrams(col("tk"), 3))
        // one-pass native kernel (the r10 lambda-kernel rule): the
        // interpreted form cost O(n·w) lambda applications plus a
        // fresh slice array per window per row; the kernel emits the
        // identical distinct (pos, fp) records in first-occurrence
        // order, and is TOTAL on short rows (empty selection) — the
        // plan-order hazard the old greatest(...,1) clamp defended
        // against (hoisted predicates evaluating sel before the
        // size(tk) >= 6 filter) cannot throw here
        .withColumn("sel", graft.functions.SeriesKernelFunctions
          .winnow_fingerprints(col("gs0"), 4))
        .select(col("doc_id"), explode(col("sel")).as("s"))
        .select(col("doc_id"), col("s.pos").as("pos"), col("s.fp").as("fp"))
    }, Some(s"""
      WITH $winnowSelOracleCtes
      SELECT DISTINCT doc_id, i + 3 - (k % 4) AS pos, k // 4 AS fp
      FROM sel""")),

    // ---- p37: containment dedup — the asymmetric companion to p03's
    // Jaccard: |A∩B| / min(|A|,|B|) catches near-SUPERSET pairs (a doc
    // embedded inside a longer one) that symmetric Jaccard dilutes
    // below threshold. Same df-capped shingle equi-join candidate
    // generator as p03 (shared code + shared CTE), so the skew story
    // is identical: a hot shingle contributes at most dfCap² pairs.
    Entry("p37_containment", (s, dir) => {
      val cont = round(col("common") / least(col("na"), col("nb")), 6)
      shingleCandidates(docs(s, dir), P03DfCap)
        .select(col("doc_a"), col("doc_b"), cont.as("containment"))
        .filter(col("containment") >= 0.8)
    }, Some(s"""$shinglePairsCte
      SELECT doc_a, doc_b,
             round(common / least(ca.n, cb.n), 6) AS containment
      FROM pairs JOIN counts ca ON doc_a = ca.doc_id
                 JOIN counts cb ON doc_b = cb.doc_id
      WHERE round(common / least(ca.n, cb.n), 6) >= 0.8""")),

    // ---- p39: temperature-scaled domain mixing (the mT5/multilingual
    // sampling rule): stratum weight w_i = n_i^alpha / sum n_j^alpha
    // with alpha = 0.7 upsamples low-resource strata; each stratum then
    // gets a deterministic per-doc sampling rate w_i * T / n_i applied
    // as an md5-hash threshold, so the sample is reproducible row-by-row
    // with no RNG state. Scale shape: the stratum table is tiny (one
    // row per language) — everything flows through one small aggregate,
    // an exact DECIMAL normalizer (order-independent sum, so the
    // cross-engine compare can't be broken by addition order), and a
    // broadcast of the rate table back onto the corpus; the only
    // corpus-sized work is a per-row hash + filter. pow() is the one
    // non-fused-arithmetic step and is round(12)-hardened before the
    // decimal cast.
    Entry("p39_domain_mix", (s, dir) => {
      import graft.functions.{HashScheme => H}
      val target = 250.0
      // persisted: the stratum table (one row per lang) feeds the
      // normalizer, the rate broadcast, and the final report — without
      // it every consumer re-scans the corpus for the counts
      val w = docs(s, dir).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("pa",
          expr("cast(round(pow(n_docs, 0.7d), 12) as decimal(28,12))"))
        .persistTracked()
      val rates = w.crossJoin(broadcast(w.agg(sum(col("pa")).as("S"))))
        .withColumn("w_alpha",
          round(col("pa").cast("double") / col("S").cast("double"), 6))
        .withColumn("rate", least(lit(1.0),
          round(col("w_alpha") * target / col("n_docs"), 6)))
        .select("lang", "n_docs", "w_alpha", "rate")
      val sampled = docs(s, dir).select(col("doc_id"), col("lang"))
        .join(broadcast(rates.select("lang", "rate")), "lang")
        .filter(expr(s"${H.h60Spark("cast(doc_id as string)")} % 1000000") <
          Micro.of("rate"))
        .groupBy("lang").agg(count(lit(1)).as("n_sampled"))
      rates.join(broadcast(sampled), Seq("lang"), "left")
        .withColumn("n_sampled", coalesce(col("n_sampled"), lit(0L)))
    }, Some(s"""
      WITH counts AS (SELECT lang, count(*) AS n_docs FROM documents
                      GROUP BY 1),
      w AS (SELECT lang, n_docs,
              CAST(round(pow(n_docs, 0.7), 12) AS DECIMAL(28,12)) AS pa
            FROM counts),
      tot AS (SELECT sum(pa) AS S FROM w),
      rates AS (SELECT lang, n_docs, w_alpha,
                  least(CAST(1.0 AS DOUBLE),
                        round(w_alpha * 250 / n_docs, 6)) AS rate
                FROM (SELECT lang, n_docs,
                        round(CAST(pa AS DOUBLE) / CAST(S AS DOUBLE), 6)
                          AS w_alpha
                      FROM w, tot)),
      samp AS (SELECT d.lang, count(*) AS n_sampled
               FROM documents d JOIN rates r USING (lang)
               WHERE ${graft.functions.HashScheme.h60Duck(
                 "CAST(doc_id AS VARCHAR)")} % 1000000
                 < ${Micro.sql("r.rate")}
               GROUP BY 1)
      SELECT r.lang, r.n_docs, r.w_alpha, r.rate,
             coalesce(s.n_sampled, 0) AS n_sampled
      FROM rates r LEFT JOIN samp s USING (lang)""")),

    // ---- p40: within-document repetition, the OTHER half of the
    // Gopher rule family: p19 computes top-token fraction and
    // duplicate-bigram fraction per-row; this computes the fraction of
    // tokens covered by the single most frequent 2-gram / 3-gram,
    // flagged at the paper's thresholds (top-2-gram > 0.20, top-3-gram
    // > 0.18). The argmax-count statistic needs a per-gram frequency
    // table, so unlike p19 it is NOT per-row array work: both gram
    // sizes ride ONE explode, grams carry a size tag, the (doc, k,
    // gram) count
    // partial-aggregates map-side (absorbing exactly the repetition
    // being measured, so shuffle volume is the per-doc DISTINCT gram
    // count), and one (doc, k)-windowed argmax with a total-order tie
    // break picks each winner.
    Entry("p40_repetition", (s, dir) => {
      val d = docs(s, dir)
        .select(col("doc_id"), toks.as("tk"))
        .select(col("doc_id"), size(col("tk")).cast("long").as("n_toks"),
          col("tk"))
        .filter(col("n_toks") >= 3)
      // gram identity = 64-bit n-gram hash (p32's hash-census rule: the
      // gram string is dropped after ranking and count ties all carry
      // the same c, so only COUNTS are observable — no string
      // materialization or string shuffle keys). p03's ~1e-9-per-pair
      // collision caveat applies and here it IS count-visible: a
      // within-doc collision would merge two grams' counts and could
      // inflate the reported top-k — accepted like p32, and any
      // occurrence fails the string-identity DuckDB oracle loudly
      // rather than passing silently. transform() here only CONSTRUCTS
      // the stream.
      val cnt = d.select(col("doc_id"), col("n_toks"), explode(concat(
          transform(TextHashFunctions.ngram_hashes(col("tk"), 2),
            h => struct(lit(2).as("k"), h.as("g"))),
          transform(TextHashFunctions.ngram_hashes(col("tk"), 3),
            h => struct(lit(3).as("k"), h.as("g")))))
          .as("s"))
        .select(col("doc_id"), col("n_toks"), col("s.k").as("k"),
          col("s.g").as("g"))
        .groupBy("doc_id", "n_toks", "k", "g").agg(count(lit(1)).as("c"))
      val wk = Window.partitionBy("doc_id", "k")
        .orderBy(col("c").desc, col("g"))
      cnt.withColumn("rk", row_number().over(wk)).filter(col("rk") === 1)
        .groupBy("doc_id", "n_toks")
        .agg(max(when(col("k") === 2, col("c"))).as("top2_cnt"),
          max(when(col("k") === 3, col("c"))).as("top3_cnt"))
        .select(col("doc_id"), col("n_toks"), col("top2_cnt"),
          round(col("top2_cnt") * lit(2.0) / col("n_toks"), 6)
            .as("top2_frac"),
          col("top3_cnt"),
          round(col("top3_cnt") * lit(3.0) / col("n_toks"), 6)
            .as("top3_frac"))
        .withColumn("flagged",
          col("top2_frac") > 0.2 || col("top3_frac") > 0.18)
    }, Some(s"""
      WITH d AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_toks
                 FROM (SELECT doc_id, $toksSql AS toks FROM documents)
                 WHERE len(toks) >= 3),
      g AS (
        SELECT doc_id, n_toks, 2 AS k,
               array_to_string(toks[i:i+1], ' ') AS g
        FROM d, UNNEST(range(1, len(toks))) AS t(i)
        UNION ALL
        SELECT doc_id, n_toks, 3, array_to_string(toks[i:i+2], ' ')
        FROM d, UNNEST(range(1, len(toks)-1)) AS t(i)
      ),
      c AS (SELECT doc_id, n_toks, k, g, count(*) AS c FROM g
            GROUP BY ALL),
      r AS (SELECT *, row_number() OVER (PARTITION BY doc_id, k
                        ORDER BY c DESC, g) AS rk FROM c),
      top AS (SELECT doc_id, n_toks,
                max(CASE WHEN k = 2 THEN c END) AS top2_cnt,
                max(CASE WHEN k = 3 THEN c END) AS top3_cnt
              FROM r WHERE rk = 1 GROUP BY doc_id, n_toks)
      SELECT doc_id, n_toks, top2_cnt,
             round(top2_cnt * CAST(2.0 AS DOUBLE) / n_toks, 6)
               AS top2_frac,
             top3_cnt,
             round(top3_cnt * CAST(3.0 AS DOUBLE) / n_toks, 6)
               AS top3_frac,
             (round(top2_cnt * CAST(2.0 AS DOUBLE) / n_toks, 6)
                > CAST(0.2 AS DOUBLE)
              OR round(top3_cnt * CAST(3.0 AS DOUBLE) / n_toks, 6)
                > CAST(0.18 AS DOUBLE)) AS flagged
      FROM top""")),

    // ---- p41: LM-based quality scoring (the CCNet shape): a Laplace-
    // smoothed bigram language model is trained per language from the
    // corpus itself, and each document is scored by the mean
    // log-likelihood of its bigrams — low scores mark gibberish /
    // boilerplate relative to the corpus distribution. Determinism
    // discipline: the per-bigram term is iln6(c2+1) − iln6(c1+v) in
    // integer micro-units through the LIBM-FREE fixed-point ln
    // (kernel.IntLn: bit-length + atanh series, pure int64/128
    // arithmetic — identical algorithm spelled out in both engines),
    // so the per-doc sum is an order-independent exact integer sum AND
    // the term itself cannot diverge: the previous round(1e6·ln(p))
    // formulation hit a .5-boundary libm-ulp collision once across the
    // sf0.1 vocab. Floor divisions only ever see nonnegative operands,
    // where Spark's truncating `div` and DuckDB's flooring `//` agree.
    // Scale shape: two corpus-keyed count aggregates build the LM
    // (map-side combined), the O(langs) vocab-size table broadcasts
    // into it, and scoring is one postings ⋈ LM equi-join on
    // (lang, w1, w2) + one per-doc integer aggregate. The model is
    // self-trained on the corpus, so every scored bigram exists in the
    // LM — the join is inner by construction.
    Entry("p41_lm_quality", (s, dir) => {
      val posts = docs(s, dir)
        .select(col("doc_id"), col("lang"), toks.as("tk"))
        .filter(size(col("tk")) >= 2)
        .select(col("doc_id"), col("lang"), explode(expr(
          """transform(sequence(1, size(tk)-1), i ->
               named_struct('w1', element_at(tk, i),
                            'w2', element_at(tk, i+1)))""")).as("bg"))
        .select(col("doc_id"), col("lang"), col("bg.w1").as("w1"),
          col("bg.w2").as("w2"))
      val c2 = posts.groupBy("lang", "w1", "w2")
        .agg(count(lit(1)).as("c2"))
      val c1 = posts.groupBy("lang", "w1").agg(count(lit(1)).as("c1"))
      val vocab = posts.select(col("lang"), col("w1"))
        .union(posts.select(col("lang"), col("w2")))
        .distinct().groupBy("lang").agg(count(lit(1)).as("v"))
      val S = graft.kernel.IntLn.S
      val L2 = graft.kernel.IntLn.Ln2S
      // the kernel.IntLn algorithm, staged as columns per argument
      def iln6Col(df: DataFrame, x: String, out: String): DataFrame = df
        .withColumn(s"${x}_b", (length(bin(col(x))) - 1).cast("long"))
        .withColumn(s"${x}_p",
          expr(s"shiftleft(cast(1 as bigint), cast(${x}_b as int))"))
        .withColumn(s"${x}_u", expr(
          s"cast((cast($x - ${x}_p as decimal(38,0)) * $S) " +
            s"div ($x + ${x}_p) as bigint)"))
        .withColumn(s"${x}_u2", expr(s"(${x}_u * ${x}_u) div $S"))
        .withColumn(s"${x}_u3", expr(s"(${x}_u2 * ${x}_u) div $S"))
        .withColumn(s"${x}_u5", expr(s"(${x}_u3 * ${x}_u2) div $S"))
        .withColumn(s"${x}_u7", expr(s"(${x}_u5 * ${x}_u2) div $S"))
        .withColumn(s"${x}_u9", expr(s"(${x}_u7 * ${x}_u2) div $S"))
        .withColumn(s"${x}_u11", expr(s"(${x}_u9 * ${x}_u2) div $S"))
        .withColumn(out, expr(
          s"((${x}_b * $L2 + 2 * (${x}_u + (${x}_u3 div 3) + " +
            s"(${x}_u5 div 5) + (${x}_u7 div 7) + (${x}_u9 div 9) + " +
            s"(${x}_u11 div 11))) * 1000000 + ${S / 2}) div $S"))
      val lm0 = c2.join(c1, Seq("lang", "w1"))
        .join(broadcast(vocab), "lang")
        .withColumn("xn", col("c2") + 1)
        .withColumn("xd", col("c1") + col("v"))
      val lm = iln6Col(iln6Col(lm0, "xn", "iln_n"), "xd", "iln_d")
        .withColumn("li", col("iln_n") - col("iln_d"))
        .select("lang", "w1", "w2", "li")
      // avg in micro-units by EXACT HALF_UP integer division (li <= 0
      // always: c2+1 <= c1+v and iln6 is monotone), then ONE exact
      // small-int/1e6 double — round(double, 6) here was the LAST
      // cross-engine boundary (Spark rounds the quotient's exact
      // decimal, DuckDB rounds in double arithmetic; diverged once at
      // sf0.1 within an ulp of a .5 micro boundary)
      posts.join(lm, Seq("lang", "w1", "w2"))
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n_bigrams"), sum("li").as("sli"))
        .select(col("doc_id"), col("lang"), col("n_bigrams"),
          (-expr("(((-sli) + (n_bigrams div 2)) div n_bigrams)") / 1e6)
            .as("avg_logp"))
    }, Some(s"""
      WITH d AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
      p AS (SELECT doc_id, lang, toks[CAST(i AS INT)] AS w1,
              toks[CAST(i AS INT) + 1] AS w2
            FROM d, UNNEST(range(1, len(toks))) AS t(i)
            WHERE len(toks) >= 2),
      c2 AS (SELECT lang, w1, w2, count(*) AS c2 FROM p GROUP BY ALL),
      c1 AS (SELECT lang, w1, count(*) AS c1 FROM p GROUP BY ALL),
      vocab AS (SELECT lang, count(*) AS v FROM (
                  SELECT DISTINCT lang, w1 FROM (
                    SELECT lang, w1 FROM p
                    UNION ALL SELECT lang, w2 FROM p))
                GROUP BY lang),
      lm0 AS (SELECT c2.lang, c2.w1, c2.w2,
                c2 + 1 AS xn, c1 + v AS xd
              FROM c2 JOIN c1 USING (lang, w1) JOIN vocab USING (lang)),
      lm1 AS (SELECT *, length(bin(xn)) - 1 AS nb,
                length(bin(xd)) - 1 AS db FROM lm0),
      lm2 AS (SELECT *, (1::BIGINT << CAST(nb AS INTEGER)) AS np,
                (1::BIGINT << CAST(db AS INTEGER)) AS dp FROM lm1),
      lm3 AS (SELECT *,
                CAST((CAST(xn - np AS HUGEINT) * 2147483648)
                  // (xn + np) AS BIGINT) AS nu,
                CAST((CAST(xd - dp AS HUGEINT) * 2147483648)
                  // (xd + dp) AS BIGINT) AS du
              FROM lm2),
      lm4 AS (SELECT *, (nu*nu)//2147483648 AS nu2,
                (du*du)//2147483648 AS du2 FROM lm3),
      lm5 AS (SELECT *, (nu2*nu)//2147483648 AS nu3,
                (du2*du)//2147483648 AS du3 FROM lm4),
      lm6 AS (SELECT *, (nu3*nu2)//2147483648 AS nu5,
                (du3*du2)//2147483648 AS du5 FROM lm5),
      lm7 AS (SELECT *, (nu5*nu2)//2147483648 AS nu7,
                (du5*du2)//2147483648 AS du7 FROM lm6),
      lm8 AS (SELECT *, (nu7*nu2)//2147483648 AS nu9,
                (du7*du2)//2147483648 AS du9 FROM lm7),
      lm9 AS (SELECT *, (nu9*nu2)//2147483648 AS nu11,
                (du9*du2)//2147483648 AS du11 FROM lm8),
      lm AS (SELECT lang, w1, w2,
               CAST(((nb*1488522236 + 2*(nu + nu3//3 + nu5//5
                      + nu7//7 + nu9//9 + nu11//11)) * 1000000
                      + 1073741824)
                 // 2147483648
               - ((db*1488522236 + 2*(du + du3//3 + du5//5
                      + du7//7 + du9//9 + du11//11)) * 1000000
                      + 1073741824)
                 // 2147483648 AS BIGINT) AS li
             FROM lm9)
      SELECT doc_id, p.lang, count(*) AS n_bigrams,
             -(((-CAST(sum(li) AS BIGINT)) + count(*) // 2) // count(*))
               / 1e6 AS avg_logp
      FROM p JOIN lm USING (lang, w1, w2)
      GROUP BY doc_id, p.lang""")),

    // ---- p42: content-defined chunking (Rabin-style): a token ends a
    // chunk when its 32-bit md5 hash ≡ 0 mod 16, giving ~16-token
    // variable chunks whose boundaries depend only on LOCAL content —
    // unlike p29's fixed-stride windows, an insertion near the front of
    // a document shifts every fixed window but leaves all CDC chunks
    // after the next boundary identical, so chunk-hash dedup still
    // matches the unchanged tail. Output is the chunk manifest
    // (position, length, content hash); chunks tile the token stream
    // exactly. Per-row array math, no shuffle; tk and the boundary
    // list are let-bound once (p36's discipline) so the optimizer
    // cannot re-tokenize per chunk.
    Entry("p42_cdc_chunks", (s, dir) => {
      import graft.functions.{HashScheme => H}
      docs(s, dir)
        .withColumn("tk", toks)
        .withColumn("c", explode(expr(
          s"""flatten(flatten(transform(array(tk), tk2 ->
                transform(
                  array(filter(sequence(1, size(tk2)), i ->
                    ${H.h32Spark("element_at(tk2, i)")} % 16 = 0)),
                  bs -> transform(
                    filter(zip_with(
                        concat(array(1), transform(bs, b -> b + 1)),
                        concat(bs, array(size(tk2))),
                        (st, en) -> named_struct('st', st, 'en', en)),
                      ch -> ch.st <= ch.en),
                    (ch, k) -> named_struct(
                      'chunk_idx', cast(k + 1 as bigint),
                      'start_pos', cast(ch.st as bigint),
                      'n_tokens', cast(ch.en - ch.st + 1 as bigint),
                      'chunk_hash', ${H.h60Spark(
                        "concat_ws(' ', slice(tk2, ch.st, ch.en - ch.st + 1))")}
                    ))))))""")))
        .select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"),
          col("c.start_pos").as("start_pos"),
          col("c.n_tokens").as("n_tokens"),
          col("c.chunk_hash").as("chunk_hash"))
    }, Some(s"""
      WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
      b AS (SELECT doc_id, toks,
              list_filter(range(1, len(toks)+1), i ->
                ${graft.functions.HashScheme.h32Duck(
                  "toks[CAST(i AS INT)]")} % 16 = 0) AS bs
            FROM d),
      c AS (SELECT doc_id, toks,
              list_concat([1], list_transform(bs, b -> b + 1)) AS ss,
              list_concat(bs, [len(toks)::BIGINT]) AS es
            FROM b),
      u AS (SELECT doc_id, toks, i AS k,
              ss[CAST(i AS INT)] AS s, es[CAST(i AS INT)] AS e
            FROM c, UNNEST(range(1, len(ss)+1)) AS t(i)
            WHERE ss[CAST(i AS INT)] <= es[CAST(i AS INT)])
      SELECT doc_id,
             row_number() OVER (PARTITION BY doc_id ORDER BY k)
               AS chunk_idx,
             s AS start_pos, e - s + 1 AS n_tokens,
             ${graft.functions.HashScheme.h60Duck(
               "array_to_string(toks[CAST(s AS INT):CAST(e AS INT)], ' ')")}
               AS chunk_hash
      FROM u""")),

    // ---- p43: cross-modal consistency check — the QA join between
    // the lexical and semantic dedup views: for every strong-Jaccard
    // text pair (p03's >= 0.8 set), fetch both docs' embeddings and
    // flag pairs whose cosine disagrees with the text verdict. Catches
    // template documents (near-identical text, different meaning
    // payload) and embedding drift before a dedup decision destroys
    // data. Scale shape: the pair list is dedup output (small by
    // nature) and AQE broadcasts it into the full embedding table, so
    // the corpus-sized side streams map-side through two broadcast
    // equi-joins — no pair-driven shuffle of the embeddings.
    Entry("p43_crossmodal_check", (s, dir) => {
      val jac = round(col("common") /
        (col("na") + col("nb") - col("common")), 6)
      val pairs = shingleCandidates(docs(s, dir), P03DfCap)
        .select(col("doc_a"), col("doc_b"), jac.as("jaccard"))
        .filter(col("jaccard") >= 0.8)
      // UNHINTED (r13): the pair list is dedup OUTPUT — it grows
      // ~linearly with the corpus, and withA additionally carries one
      // full embedding per pair, so hard broadcasts here were the
      // p28-class driver OOM (pair-count × vector width on the
      // driver). AQE still broadcasts both at realistic near-dup
      // rates; an adversarial corpus degrades to shuffle equi-joins.
      val e = embs(s, dir).select(col("vec_id"), col("emb"))
      val withA = e.join(pairs, col("vec_id") === col("doc_a"))
        .select(col("doc_a"), col("doc_b"), col("jaccard"),
          col("emb").as("emb_a"))
      e.toDF("vec_b", "emb_b")
        .join(withA, col("vec_b") === col("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("jaccard"),
          round(VectorOps.cosine(col("emb_a"), col("emb_b")), 6)
            .as("cos_sim"))
        .withColumn("consistent", col("cos_sim") >= 0.5)
    }, Some(s"""$shinglePairsCte,
      strong AS (
        SELECT doc_a, doc_b,
               round(common/(ca.n + cb.n - common), 6) AS jaccard
        FROM pairs JOIN counts ca ON doc_a = ca.doc_id
                   JOIN counts cb ON doc_b = cb.doc_id
        WHERE round(common/(ca.n + cb.n - common), 6) >= 0.8
      ),
      e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
      SELECT s.doc_a, s.doc_b, s.jaccard,
             round(list_cosine_similarity(ea.emb, eb.emb), 6) AS cos_sim,
             round(list_cosine_similarity(ea.emb, eb.emb), 6)
               >= CAST(0.5 AS DOUBLE) AS consistent
      FROM strong s JOIN e ea ON s.doc_a = ea.vec_id
                    JOIN e eb ON s.doc_b = eb.vec_id""")),

    // ---- p44: duplicated-span coverage — the per-document signal
    // behind exact-substring dedup (Lee et al. 2021, "Deduplicating
    // Training Data Makes Language Models Better"): for every document,
    // the fraction of its positional 8-token spans whose span content
    // also occurs in at least one OTHER document. High-coverage docs
    // are near-copies or heavy boilerplate even when whole-doc hashes
    // (p01) and set-Jaccard (p03) miss them — span coverage sees
    // partial overlap with MANY different documents. Scale shape: the
    // positional span stream collapses to distinct (doc, span) rows
    // with a positional count in ONE map-side-combined aggregate, the
    // doc-frequency dim is one more count over those rows, and the
    // final join is on span hash with at most one row per (doc, span)
    // on the probe side — a hot boilerplate span costs df rows, never
    // df². Span identity is the 64-bit 8-gram hash (oracle uses string
    // 8-grams; identical modulo ~1e-9 collision odds, p03's contract).
    Entry("p44_dupspan", (s, dir) => {
      val spans = docs(s, dir)
        .select(col("doc_id"),
          explode(TextHashFunctions.ngram_hashes(toks, 8)).as("g"))
      // one row per (doc, span) + how many positions it covers there
      val perDoc = spans.groupBy("doc_id", "g")
        .agg(count(lit(1)).as("cnt"))
      // doc-frequency as a window over the span partitioning, NOT a
      // groupBy+join: the join form re-scans and re-tokenizes the
      // corpus for the dim side and (at test SF) broadcasts a dim that
      // is corpus-vocab-sized — unshippable at 100 TB. The window form
      // is one scan and three bounded shuffles: (doc,g) agg → g window
      // → doc agg.
      perDoc
        .withColumn("df", count(lit(1)).over(Window.partitionBy("g")))
        .groupBy("doc_id")
        .agg(sum(col("cnt")).as("total_spans"),
          sum(when(col("df") >= 2, col("cnt")).otherwise(0L))
            .as("dup_spans"))
        .select(col("doc_id"), col("total_spans"), col("dup_spans"),
          // unrounded: exact-integer inputs + one division = identical
          // IEEE doubles on both engines; round(6) would only add
          // .5e-6-boundary risk (dup/128-style dyadic rationals)
          (col("dup_spans").cast("double") / col("total_spans"))
            .as("dup_frac"))
    }, Some(s"""
      WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
      g AS (SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS g
            FROM d, UNNEST(CASE WHEN len(toks) >= 8
                                THEN range(1, len(toks)-6)
                                ELSE [] END) AS t(i)),
      pd AS (SELECT doc_id, g, count(*) AS cnt FROM g GROUP BY ALL),
      df AS (SELECT g, count(*) AS df FROM pd GROUP BY g)
      SELECT doc_id,
             CAST(sum(cnt) AS BIGINT) AS total_spans,
             CAST(sum(CASE WHEN df >= 2 THEN cnt ELSE 0 END) AS BIGINT)
               AS dup_spans,
             CAST(sum(CASE WHEN df >= 2 THEN cnt ELSE 0 END) AS DOUBLE)
               / CAST(sum(cnt) AS BIGINT) AS dup_frac
      FROM pd JOIN df USING (g)
      GROUP BY doc_id"""),
      // span excision joins contaminated spans against their
      // duplicates: span multiplicity is ~N² under replication
      tier = Tier.Bench(Sweep.Quadratic)),

    // ---- p45: DSIR-style importance weights (Xie et al. 2023, "Data
    // Selection for Language Models via Importance Resampling"): score
    // every document by how much more likely its tokens are under a
    // TARGET domain (here: source src0) than under the raw corpus,
    // using hashed unigram features — log w(d) = (1/n) Σ_t [ln
    // p_target(b(t)) − ln p_raw(b(t))] over 4096 md5-hash buckets with
    // Laplace smoothing. The resampling step is then p21's
    // hash-threshold sampler with these weights as rates. Determinism:
    // the two smoothed log-probs fold into ONE ln of an integer-exact
    // rational per bucket, fixed to integer micro-units inside the
    // O(4096)-row feature table (p41's discipline) — the per-doc score
    // is an order-independent exact integer sum. Scale shape: one
    // bucket-keyed count aggregate (map-side combined) builds the
    // feature table from the same token stream it scores, the KB-scale
    // table broadcasts back over the postings, and the per-doc
    // aggregate is the only corpus shuffle.
    Entry("p45_dsir_weight", (s, dir) => {
      import graft.functions.{HashScheme => H}
      val tok = docs(s, dir)
        .select(col("doc_id"), col("source"), explode(toks).as("t"))
        .select(col("doc_id"), col("source"),
          expr(H.h32Spark("t") + " % 4096").as("b"))
      // persisted: the O(4096)-row bucket table feeds BOTH the totals
      // and the feature table — without it Spark recomputes the whole
      // corpus scan + tokenize + md5 subtree for each (3 corpus scans
      // instead of the 2 a train-then-score pass needs)
      val agg = tok.groupBy("b").agg(
        count(lit(1)).as("cr"),
        sum(when(col("source") === "src0", 1L).otherwise(0L)).as("ct"))
        .persistTracked()
      val tot = agg.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"))
      // 1.0D double literals, NOT 1.0: a bare decimal literal would keep
      // the whole ratio in Spark decimal arithmetic, whose division
      // hits the precision-38 cap with BIGINT operands and silently
      // rounds the ratio to scale 6 BEFORE ln — DuckDB promotes the
      // same expression to DOUBLE, so the li tables would diverge
      val lm = agg.crossJoin(broadcast(tot))
        .withColumn("li", expr(
          """cast(round(ln(((ct + 1.0D) * (nr + 4096)) /
             ((cr + 1.0D) * (nt + 4096))) * 1e6) as bigint)"""))
        .select("b", "li")
      // emitted UNROUNDED: sli is an exact integer on both engines and
      // double(sli)/1e6/n is the identical IEEE op sequence — whereas
      // round(6) would split engines whenever the exact rational lands
      // on a .5e-6 boundary (7 docs at sf0.01 do; a16/a20 precedent)
      tok.join(broadcast(lm), "b")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"), sum(col("li")).as("sli"))
        .select(col("doc_id"), col("n_toks"),
          (col("sli").cast("double") / 1e6 / col("n_toks"))
            .as("dsir_logw"))
    }, Some(s"""
      WITH d AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
      tok AS (SELECT doc_id, source,
                ${graft.functions.HashScheme.h32Duck("t.t")} % 4096 AS b
              FROM d, UNNEST(toks) AS t(t)),
      agg AS (SELECT b, count(*) AS cr,
                sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ct
              FROM tok GROUP BY b),
      tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM agg),
      lm AS (SELECT b, CAST(round(ln(((ct + 1.0) * (nr + 4096)) /
                 ((cr + 1.0) * (nt + 4096))) * 1e6) AS BIGINT) AS li
             FROM agg, tot)
      SELECT doc_id, count(*) AS n_toks,
             CAST(sum(li) AS DOUBLE) / 1e6 / count(*) AS dsir_logw
      FROM tok JOIN lm USING (b)
      GROUP BY doc_id""")),

    // ---- p46: Zipf rank-frequency slope per language — the corpus-
    // health diagnostic: natural text follows freq ∝ rank^s with
    // s ≈ −1; a corpus slice whose fitted slope drifts far from −1 is
    // template-heavy (too flat) or degenerate (too steep). Fit is OLS
    // of ln(freq) on ln(rank) over the full vocabulary, rank-tied
    // tokens totally ordered by (count desc, token). Determinism: both
    // logs are per-VOCAB-ROW values fixed to integer micro-units, the
    // five regression sums are exact in DECIMAL(38,0)/HUGEINT (a22's
    // discipline), one double division at the end, emitted unrounded.
    // Scale shape: everything after the one corpus-keyed (lang, token)
    // count aggregate runs on vocab-sized data; the rank window
    // partitions by lang over that aggregate only.
    Entry("p46_zipf_slope", (s, dir) => {
      val tf = docs(s, dir)
        .select(col("lang"), explode(toks).as("t"))
        .groupBy("lang", "t").agg(count(lit(1)).as("cnt"))
      val wR = Window.partitionBy("lang")
        .orderBy(col("cnt").desc, col("t"))
      tf.withColumn("rk", row_number().over(wR))
        .select(col("lang"),
          Micro.of("ln(cast(rk as double))")
            .as("x6"),
          Micro.of("ln(cast(cnt as double))")
            .as("y6"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_terms"),
          sum(dec(col("x6"))).as("sx"),
          sum(dec(col("y6"))).as("sy"),
          sum(dec(col("x6") * col("x6"))).as("sxx"),
          sum(dec(col("x6") * col("y6"))).as("sxy"))
        .select(col("lang"), col("n_terms"),
          // unrounded: both operands are exact 128-bit integers whose
          // double conversions are correctly rounded in both engines,
          // so the single division is bit-identical
          ((col("n_terms") * col("sxy") - col("sx") * col("sy"))
            .cast("double") /
            (col("n_terms") * col("sxx") - col("sx") * col("sx"))
              .cast("double")).as("zipf_slope"))
    }, Some(s"""
      WITH d AS (SELECT lang, $toksSql AS toks FROM documents),
      tf AS (SELECT lang, t.t AS t, count(*) AS cnt
             FROM d, UNNEST(toks) AS t(t) GROUP BY ALL),
      r AS (SELECT lang, cnt,
              row_number() OVER (PARTITION BY lang
                                 ORDER BY cnt DESC, t) AS rk
            FROM tf),
      f AS (SELECT lang,
              ${Micro.sql("ln(CAST(rk AS DOUBLE))")} AS x6,
              ${Micro.sql("ln(CAST(cnt AS DOUBLE))")} AS y6
            FROM r)
      SELECT lang, count(*) AS n_terms,
             CAST(count(*) * sum(CAST(x6 AS HUGEINT) * y6)
                  - sum(CAST(x6 AS HUGEINT))
                    * sum(CAST(y6 AS HUGEINT)) AS DOUBLE)
               / CAST(count(*) * sum(CAST(x6 AS HUGEINT) * x6)
                      - sum(CAST(x6 AS HUGEINT))
                        * sum(CAST(x6 AS HUGEINT)) AS DOUBLE)
               AS zipf_slope
      FROM f GROUP BY lang""")),

    // ---- p47: Count-Min sketch token frequencies — the fixed-memory
    // frequency estimator (Cormode & Muthukrishnan 2005) that replaces
    // the vocab-sized exact count table when the vocabulary itself
    // doesn't fit: d=4 rows × w=1021 counters, bucket_r(t) =
    // (h1(t) + r·h2(t)) mod w via Kirsch–Mitzenmacher double hashing
    // from one md5 (p34's Bloom discipline), estimate = min_r of the
    // probed counters. Output: the exact top-30 tokens with their true
    // and estimated counts — est ≥ true ALWAYS (one-sided error, pinned
    // in PipelineSpec) and E[est − true] ≤ 2N/w. Everything is integer
    // counts over deterministic hashes → hash-matchable. Scale shape:
    // ONE corpus-keyed token-count aggregate (map-side combined); the
    // ×4 probe explosion and the sketch build run on the vocab-sized
    // count table, the 4084-row sketch broadcasts back to the probes,
    // and the top-k is a total-ordered limit. At 100 TB the sketch
    // build streams the corpus once and the estimate side probes it
    // with zero additional corpus scans.
    Entry("p47_cms_topk", (s, dir) => {
      import graft.functions.{HashScheme => H}
      val w = 1021
      val tf = docs(s, dir)
        .select(explode(toks).as("t"))
        .groupBy("t").agg(count(lit(1)).as("cnt"))
        .withColumn("h1", expr(H.h32Spark("t")))
        .withColumn("h2", expr(H.h32bSpark("t")))
      // persisted: probes feed BOTH the sketch build and the estimate
      // join — without it the corpus token count recomputes twice
      val probes = tf
        .select(col("t"), col("cnt"), col("h1"), col("h2"),
          explode(sequence(lit(0), lit(3))).as("r"))
        .withColumn("b", expr(s"(h1 + r * h2) % $w"))
        .select("t", "cnt", "r", "b").persistTracked()
      val sketch = probes.groupBy("r", "b").agg(sum(col("cnt")).as("bsum"))
      probes.join(broadcast(sketch), Seq("r", "b"))
        .groupBy("t", "cnt").agg(min(col("bsum")).as("est_cnt"))
        .select(col("t").as("token"), col("cnt").as("true_cnt"),
          col("est_cnt"), (col("est_cnt") - col("cnt")).as("overcount"))
        .orderBy(col("true_cnt").desc, col("token")).limit(30)
    }, Some(s"""
      WITH d AS (SELECT $toksSql AS toks FROM documents),
      tok AS (SELECT t.t AS t FROM d, UNNEST(toks) AS t(t)),
      tf AS (SELECT t, count(*) AS cnt,
               ${graft.functions.HashScheme.h32Duck("t")} AS h1,
               ${graft.functions.HashScheme.h32bDuck("t")} AS h2
             FROM tok GROUP BY t),
      probes AS (SELECT t, cnt, rr.r AS r, (h1 + rr.r * h2) % 1021 AS b
                 FROM tf, range(0, 4) AS rr(r)),
      sk AS (SELECT r, b, CAST(sum(cnt) AS BIGINT) AS bsum
             FROM probes GROUP BY r, b),
      est AS (SELECT t, cnt, CAST(min(bsum) AS BIGINT) AS est_cnt
              FROM probes JOIN sk USING (r, b) GROUP BY t, cnt)
      SELECT t AS token, cnt AS true_cnt, est_cnt,
             est_cnt - cnt AS overcount
      FROM est ORDER BY true_cnt DESC, token LIMIT 30""")),

    // ---- p48: Johnson–Lindenstrauss signed random projection — the
    // dimensionality-reduction primitive under cheap pre-filters for
    // ANN and clustering: project d=64 → k=16 with a ±1 Rademacher
    // matrix derived from the shared md5 scheme (sign(i,j) = parity of
    // h32('jl:i:j')), so the matrix is REPRODUCIBLE on any engine, any
    // rerun, with no stored artifact. Exactness: embeddings micro-fix
    // to int64 and every projected coordinate is a signed integer SUM —
    // order-independent, overflow-safe (64·1e6·|x| ≪ 2^63). Scale
    // shape: the d×k sign matrix is a 1024-row dim table built from a
    // range and BROADCAST to the posting explode; partial aggregation
    // collapses each vector's contributions map-side, so the one
    // shuffle moves k rows per vector. Long-form output (vec_id, dim,
    // y6) keeps the schema stable under k changes.
    Entry("p48_jl_project", (s, dir) => {
      import graft.functions.{HashScheme => H}
      val signs = s.range(0, 64).select(col("id").cast("int").as("i"))
        .select(col("i"), explode(sequence(lit(0), lit(15))).as("j"))
        .withColumn("sgn", expr("case when " +
          H.h32Spark("concat('jl:', cast(i as string), ':', " +
            "cast(j as string))") + " % 2 = 0 then 1L else -1L end"))
      embs(s, dir)
        .select(col("vec_id"), posexplode(col("emb")).as(Seq("i", "x")))
        .select(col("vec_id"), col("i"),
          Micro.of("x").as("x6"))
        .join(broadcast(signs), "i")
        .groupBy("vec_id", "j")
        .agg(sum(col("sgn") * col("x6")).as("y6"))
        .select(col("vec_id"), col("j").cast("long").as("dim"),
          col("y6"), (col("y6") / lit(1e6)).as("y"))
    }, Some(s"""
      WITH dims AS (SELECT d.i AS i, r.j AS j,
              CASE WHEN (${graft.functions.HashScheme.h32Duck(
                "'jl:' || CAST(d.i AS VARCHAR) || ':' || " +
                  "CAST(r.j AS VARCHAR)")}) % 2 = 0
                   THEN 1 ELSE -1 END AS sgn
            FROM range(0, 64) d(i), range(0, 16) r(j)),
      posts AS (SELECT vec_id, r.i AS i,
                  ${Micro.sql("embedding[r.i + 1]")} AS x6
                FROM embeddings, range(0, 64) r(i))
      SELECT vec_id, CAST(j AS BIGINT) AS dim,
             CAST(sum(sgn * x6) AS BIGINT) AS y6,
             CAST(sum(sgn * x6) AS BIGINT) / 1e6 AS y
      FROM posts JOIN dims USING (i)
      GROUP BY vec_id, j""")),

    // ---- p49: inverted-index postings manifest for rare bigrams — the
    // retrieval-side building block (exact-phrase search, contamination
    // tracing, targeted doc lookup, infini-gram-style counting):
    // bigram → sorted posting list, for bigrams with df ≤ 5. The df cap
    // is load-bearing at 100 TB: it bounds every posting payload AND
    // excludes the hot keys that would otherwise make single reducers
    // build GB-size lists — head n-grams belong in p47's sketch / p32's
    // census, not in exact postings. Per-doc array_distinct before the
    // explode keeps set semantics without a distinct shuffle; one
    // bigram-keyed shuffle total. Postings ship as a ','-joined string
    // (driver-comparable scalar; integer→string formatting is
    // engine-identical).
    Entry("p49_inverted_index", (s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), toks.as("tk"))
        .filter(size(col("tk")) >= 2)
        .select(col("doc_id"), explode(array_distinct(expr(
          "transform(sequence(1, size(tk) - 1), i -> " +
            "concat(element_at(tk, i), ' ', element_at(tk, i + 1)))")))
          .as("bigram"))
        .groupBy("bigram")
        .agg(count(lit(1)).as("df"),
          sort_array(collect_list(col("doc_id"))).as("ps"))
        .filter(col("df") <= 5)
        .select(col("bigram"), col("df"),
          array_join(expr("transform(ps, x -> cast(x as string))"), ",")
            .as("postings"))
    }, Some(s"""
      WITH d AS (SELECT doc_id, $toksSql AS tk FROM documents
                 WHERE len($toksSql) >= 2),
      g AS (SELECT doc_id, list_distinct(list_transform(
              range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])) AS bg
            FROM d),
      tok AS (SELECT doc_id, t.t AS bigram FROM g, UNNEST(bg) AS t(t)),
      inv AS (SELECT bigram, count(*) AS df,
                list_sort(list(doc_id)) AS ps
              FROM tok GROUP BY bigram)
      SELECT bigram, df, array_to_string(ps, ',') AS postings
      FROM inv WHERE df <= 5""")),

    // ---- p50: deterministic shard manifest — the dataloader-facing
    // global shuffle: every doc gets a (shard, position) coordinate
    // from salted md5 hashes, so the training order is (a) statistically
    // shuffled, (b) identical on every engine and rerun, (c) a pure
    // function of doc identity — re-sharding after corpus growth moves
    // only the new docs' neighbors, never reorders survivors within a
    // shard. position = row_number over (hash, doc_id) WITHIN the
    // shard: the sort is per-shard (corpus_size/64 rows), never global
    // — the one shuffle is the shard partitioning itself, exactly what
    // a manifest writer needs to emit one file per shard at 100 TB.
    Entry("p50_shard_manifest", (s, dir) => {
      import graft.functions.{HashScheme => H}
      val wS = Window.partitionBy("shard")
        .orderBy(col("ord_hash"), col("doc_id"))
      docs(s, dir)
        .select(col("doc_id"),
          expr(H.h32Spark("concat(cast(doc_id as string), ':shard')") +
            " % 64").as("shard"),
          expr(H.h32Spark("concat(cast(doc_id as string), ':ord')"))
            .as("ord_hash"))
        .withColumn("pos", row_number().over(wS).cast("long"))
        .select("doc_id", "shard", "pos")
    }, Some(s"""
      WITH h AS (SELECT doc_id,
        ${graft.functions.HashScheme.h32Duck(
          "CAST(doc_id AS VARCHAR) || ':shard'")} % 64 AS shard,
        ${graft.functions.HashScheme.h32Duck(
          "CAST(doc_id AS VARCHAR) || ':ord'")} AS ord_hash
        FROM documents)
      SELECT doc_id, shard,
             CAST(row_number() OVER (PARTITION BY shard
               ORDER BY ord_hash, doc_id) AS BIGINT) AS pos
      FROM h""")),

    // ---- p51: quality-curriculum sampling buckets — the annealed-
    // sampling rate derivation (higher-quality quartiles sampled more):
    // per-language NTILE(4) over an integer micro-TTR score with a
    // doc_id tie-break (total order → deterministic quartiles on both
    // engines), then a per-bucket keep rate applied through the same
    // salted md5-threshold mechanism as p21 — so the kept set is
    // reproducible and independent of every other sampling decision in
    // the engine. Per-row signals + one lang-keyed window; the quartile
    // table never materializes driver-side.
    Entry("p51_curriculum", (s, dir) => {
      import graft.functions.{HashScheme => H}
      val wQ = Window.partitionBy("lang")
        .orderBy(col("score6").desc, col("doc_id"))
      docs(s, dir)
        .select(col("doc_id"), col("lang"), toks.as("tk"))
        .select(col("doc_id"), col("lang"), expr(
          "cast(round(1e6 * (cast(size(array_distinct(tk)) as double) " +
            "/ cast(size(tk) as double))) as bigint)").as("score6"))
        .withColumn("bucket", ntile(4).over(wQ).cast("long"))
        .withColumn("rate",
          expr("element_at(array(1000L, 700L, 400L, 100L), " +
            "cast(bucket as int))"))
        .withColumn("keep", expr(
          H.h32Spark("concat(cast(doc_id as string), ':cur')") +
            " % 1000") < col("rate"))
        .select("doc_id", "lang", "score6", "bucket", "rate", "keep")
    }, Some(s"""
      WITH d AS (SELECT doc_id, lang, $toksSql AS tk FROM documents),
      sc AS (SELECT doc_id, lang,
               CAST(round(1e6 * (CAST(len(list_distinct(tk)) AS DOUBLE)
                 / CAST(len(tk) AS DOUBLE))) AS BIGINT) AS score6
             FROM d),
      b AS (SELECT doc_id, lang, score6,
              CAST(ntile(4) OVER (PARTITION BY lang
                ORDER BY score6 DESC, doc_id) AS BIGINT) AS bucket
            FROM sc),
      r AS (SELECT *, ([1000, 700, 400, 100])[bucket] AS rate FROM b)
      SELECT doc_id, lang, score6, bucket, CAST(rate AS BIGINT) AS rate,
             ${graft.functions.HashScheme.h32Duck(
               "CAST(doc_id AS VARCHAR) || ':cur'")} % 1000 < rate AS keep
      FROM r""")),

    // ---- p52: PageRank centrality over the near-dup graph — which
    // documents sit at the CENTER of duplication clusters (template
    // sources, boilerplate originals) vs the periphery: 5 damped
    // power iterations over p04's LSH pair graph, in FIXED-POINT
    // integer arithmetic so the trajectory is bit-identical on any
    // engine and partitioning: ranks are int64 micro-units (init 1e6,
    // base 0.15e6), each contribution is the FLOOR of rank·85/(100·deg)
    // (positive operands → truncation == floor on both engines), and
    // the per-node fold is an order-independent integer sum. The
    // deliberate floor leakage is documented, deterministic, and
    // identical in the oracle's 5 unrolled CTEs. Scale shape: degree
    // join computed once; each iteration is one edge-keyed broadcast-or
    // -shuffle join + one dst-keyed partial-combined aggregate — the
    // standard distributed PageRank round — and ends in an eager
    // localCheckpoint (p23/p76/p79's rule: iterative DataFrame state
    // MUST cut lineage per round or the plan doubles every iteration).
    // The cut also lets the two persisted inputs release immediately
    // after the loop: the final ranks frame is checkpointed data, not
    // lineage over e/nodes.
    Entry("p52_pagerank", (s, dir) => {
      // lazy cut: the LOGICAL plan truncates immediately (the round-k+1
      // plan is a LogicalRDD over round k — no per-iteration plan
      // doubling), while materialization happens inside the caller's
      // one action cascade instead of 5 eager driver-blocking jobs
      def cut(df: DataFrame): DataFrame = df.localCheckpoint(eager = false)
      val d = docs(s, dir)
      // persisted (r14 opt, guide §2.4): the edge union reads the pair
      // list twice and the degree join reads the union twice more —
      // uncached, the LSH refine (band self-join + distinct + two
      // signature rejoins) ran FOUR times inside e's one
      // materialization (cold p52 measured 9.7-13.2 s at sf0.1; the
      // warm bench medians never saw it because e's cache absorbs it)
      val pairs = minhashLshPairs(d).select("doc_a", "doc_b")
        .persistTracked()
      val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      // persisted: 5 iterations re-read the degree-annotated edges
      val e = edges.join(deg, "src").persistTracked()
      // persisted: every iteration's left join re-derives the node
      // spine; uncached that is 5 extra corpus scans for one slim
      // column (at 100 TB, 5 redundant passes over the whole table)
      val nodes = d.select(col("doc_id")).persistTracked()
      var ranks = nodes.withColumn("rank", lit(1000000L))
      for (_ <- 1 to 5) {
        val contribs = e
          .join(ranks.withColumnRenamed("doc_id", "src"), "src")
          .select(col("dst"),
            expr("(rank * 85) div (100 * deg)").as("c"))
          .groupBy("dst").agg(sum(col("c")).as("cin"))
        ranks = cut(nodes
          .join(contribs.withColumnRenamed("dst", "doc_id"),
            Seq("doc_id"), "left")
          .select(col("doc_id"),
            (lit(150000L) + coalesce(col("cin"), lit(0L))).as("rank")))
      }
      // e/nodes are persistTracked: EntryCaches.releaseAll() drops them
      // after the caller's terminal action (unpersisting HERE would
      // evict them before the lazy checkpoints materialize)
      ranks.select(col("doc_id"), col("rank").as("rank_micro"),
        (col("rank") / lit(1e6)).as("rank"))
    }, Some {
      val iters = (1 to 5).map { i =>
        s"""r$i AS (SELECT n.doc_id,
             CAST(150000 + coalesce(c.cin, 0) AS BIGINT) AS rank
           FROM docs n LEFT JOIN (
             SELECT dst AS doc_id,
                    CAST(sum((rank * 85) // (100 * deg)) AS BIGINT) AS cin
             FROM e JOIN r${i - 1} ON e.src = r${i - 1}.doc_id
             GROUP BY dst) c USING (doc_id))"""
      }.mkString(",\n      ")
      s"""
      WITH $lshPairsOracleCtes,
      edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION ALL SELECT doc_b, doc_a FROM pairs),
      dg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
      e AS (SELECT src, dst, deg FROM edges JOIN dg USING (src)),
      r0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS rank FROM docs),
      $iters
      SELECT doc_id, rank AS rank_micro, rank / 1e6 AS rank FROM r5"""
    }, tier = Tier.Bench(Sweep.LinearX100, heavy = true)),

    // ---- p53: n-gram novelty vs the earlier corpus — the
    // memorization-analysis signal (Lee et al. 2022 §5): how much of
    // each doc's 3-gram content already appeared in ANY lower-doc_id
    // document. first_seen(gram) = min(doc_id) is ONE map-side-combined
    // aggregate over distinct (doc, gram) postings; the novelty
    // fraction is the postings join back against that dim — per hot
    // gram the dim row costs df rows, never df². novel_frac = share of
    // the doc's distinct grams it is the first bearer of; integer
    // counts, one rounded division.
    Entry("p53_novelty", (s, dir) => {
      // persisted (r15 sweep, guide §2.4): the first-seen aggregate
      // and the postings join read the SAME tokenize+hash+explode
      // subtree, but with a partial aggregate fused into one side the
      // two exchange subtrees differ — no ReusedExchange — so the
      // gram scan ran twice per materialization
      val posts = gram3Sets(docs(s, dir)).persistTracked()
      val firstSeen = posts.groupBy("shingle")
        .agg(min(col("doc_id")).as("first_doc"))
      posts.join(firstSeen, "shingle")
        .groupBy("doc_id")
        .agg(max(col("n")).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          round(col("n_novel").cast("double") /
            col("n_grams").cast("double"), 6).as("novel_frac"))
    }, Some(s"""
      WITH docs AS (SELECT doc_id, $toksSql AS toks FROM documents),
      $sh3OracleCte,
      counts3 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
                  FROM sh3 GROUP BY doc_id),
      fs AS (SELECT shingle, min(doc_id) AS first_doc
             FROM sh3 GROUP BY shingle)
      SELECT s.doc_id, max(c.n) AS n_grams,
             CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
               AS BIGINT) AS n_novel,
             round(CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1
               ELSE 0 END) AS DOUBLE) / CAST(max(c.n) AS DOUBLE), 6)
               AS novel_frac
      FROM sh3 s JOIN fs f USING (shingle)
                 JOIN counts3 c USING (doc_id)
      GROUP BY s.doc_id""")),

    // ---- p54: MinHash calibration report — how well the 64-perm
    // estimate tracks TRUE 5-gram Jaccard on the pairs the LSH actually
    // surfaces, binned by estimate (1/8-wide buckets). This is the
    // sketch-quality dashboard a curator checks before trusting p04's
    // threshold at scale. Scale shape: true overlap is computed ONLY
    // for surviving candidate pairs — postings join THROUGH the pair
    // list (cost ~ |pairs| x shingles/doc), never the df² all-pairs
    // blowup; the per-doc count dim rides on the postings. Exactness:
    // est6 = round(est*64) * 15625 recovers the exact signature-match
    // count in micro-units (1e6/64 = 15625 integer); true6 is one
    // rounded division of exact ints; bucket means are integer sums
    // with ONE final division each, round(6). Shingle identity is the
    // 64-bit n-gram hash vs the oracle's strings (p03's disclosed
    // ~1e-9 collision caveat).
    Entry("p54_minhash_calibration", (s, dir) => {
      val d = docs(s, dir)
      // persisted: FOUR consumers read the pair list (both unionAll
      // arms of the inPairs prune, the common-shingle join, the final
      // join) — without the persist each one re-runs the LSH candidate
      // self-join + signature rejoin (the prune was a net loss at test
      // scale, 2.18 -> 3.16 s in r11's budget table)
      val pairs = minhashLshPairs(d)
        .withColumn("est64", expr("cast(round(est_jaccard * 64) as bigint)"))
        .persistTracked()
      // truth shingles only for docs the LSH actually surfaced (p87's
      // semi-join prune — the calibration never needs the rest of the
      // corpus shingled); persisted: postings feed the pair-restricted
      // intersection join twice (doc_a side, doc_b side) and the
      // counts dim once
      val inPairs = pairs.select(col("doc_a").as("doc_id"))
        .unionAll(pairs.select(col("doc_b").as("doc_id"))).distinct()
      val sh = shingleSets(d.join(inPairs, Seq("doc_id"), "left_semi"))
        .persistTracked()
      val cnts = sh.select(col("doc_id"), col("n")).distinct()
      val posts = sh.select(col("doc_id"), col("shingle"))
      // zero-common pairs (possible in principle at est >= 0.5) keep
      // their denominator via the separate counts dim + left join
      val common = pairs.select("doc_a", "doc_b")
        .join(posts.toDF("doc_a", "shingle"), "doc_a")
        .join(posts.toDF("doc_b", "shingle"), Seq("doc_b", "shingle"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("common"))
      pairs
        .join(common, Seq("doc_a", "doc_b"), "left")
        .join(cnts.toDF("doc_a", "na"), "doc_a")
        .join(cnts.toDF("doc_b", "nb"), "doc_b")
        .select(col("est64"),
          (col("est64") * 15625L).as("est6"),
          expr("cast(round(1e6 * cast(coalesce(common, 0) as double) / " +
            "cast(na + nb - coalesce(common, 0) as double)) as bigint)")
            .as("true6"))
        .groupBy(expr("est64 div 8").as("bucket"))
        .agg(count(lit(1)).as("n_pairs"),
          round(sum(col("est6")).cast("double") / count(lit(1)) / 1e6, 6)
            .as("mean_est"),
          round(sum(col("true6")).cast("double") / count(lit(1)) / 1e6, 6)
            .as("mean_true"),
          round(sum(abs(col("est6") - col("true6"))).cast("double")
            / count(lit(1)) / 1e6, 6).as("mean_abs_gap"))
    }, Some(s"""
      WITH $lshPairsOracleCtes,
      -- truth shingles only for docs the LSH actually surfaced — the
      -- same pair-restriction the Spark side gets from its joins
      sh5 AS (SELECT DISTINCT doc_id,
                array_to_string(toks[i:i+4], ' ') AS shingle
              FROM docs, UNNEST(CASE WHEN len(toks) >= 5
                THEN range(1, len(toks)-3) ELSE [] END) AS t(i)
              WHERE doc_id IN (SELECT doc_a FROM pairs
                               UNION SELECT doc_b FROM pairs)),
      cnt5 AS (SELECT doc_id, count(*) AS n FROM sh5 GROUP BY doc_id),
      com AS (SELECT p.doc_a, p.doc_b, count(sb.shingle) AS common
              FROM pairs p
              JOIN sh5 sa ON sa.doc_id = p.doc_a
              LEFT JOIN sh5 sb ON sb.doc_id = p.doc_b
                              AND sb.shingle = sa.shingle
              GROUP BY p.doc_a, p.doc_b),
      per AS (SELECT CAST(round(p.est_jaccard * 64) AS BIGINT) AS est64,
                CAST(round(p.est_jaccard * 64) AS BIGINT) * 15625 AS est6,
                CAST(round(1e6 * CAST(c.common AS DOUBLE) /
                  CAST(ca.n + cb.n - c.common AS DOUBLE)) AS BIGINT) AS true6
              FROM pairs p
              JOIN com c USING (doc_a, doc_b)
              JOIN cnt5 ca ON p.doc_a = ca.doc_id
              JOIN cnt5 cb ON p.doc_b = cb.doc_id)
      SELECT est64 // 8 AS bucket,
             count(*) AS n_pairs,
             round(CAST(sum(est6) AS DOUBLE) / count(*) / 1e6, 6) AS mean_est,
             round(CAST(sum(true6) AS DOUBLE) / count(*) / 1e6, 6) AS mean_true,
             round(CAST(sum(abs(est6 - true6)) AS DOUBLE) / count(*) / 1e6, 6)
               AS mean_abs_gap
      FROM per GROUP BY est64 // 8"""),
      tier = Tier.LshPairConsumer),

    // ---- p55: k-means refinement (3 Lloyd iterations) — the canonical
    // iterative ML workload over the embedding corpus, upgrading p15's
    // FIXED seed centroids into data-fitted cells (better IVF lists,
    // better p35 semdedup buckets). Determinism is the hard part and is
    // engineered: assignment distances are exact int64 sums of squared
    // micro-diffs with a total (d2, cid) tie-break; each centroid
    // update is an exact 128-bit per-dimension sum with ONE rounded
    // division fixing the mean back to integer micro-units — so the
    // whole trajectory is bit-identical on any engine and partitioning
    // (the oracle unrolls the same 3 iterations). Emptied cells keep
    // their previous centroid (left-join coalesce), so k never decays.
    // Scale shape per iteration: the k×d centroid table BROADCASTS to
    // the assignment (corpus never shuffles for it); the update is one
    // (cell, dim)-keyed map-side-combined aggregate — the textbook
    // distributed-k-means round; lineage would checkpoint per round at
    // 100 TB like p23/p52.
    Entry("p55_kmeans_refine", (s, dir) => {
      val iters = 3
      // persisted: the assignment join re-reads the micro-fixed corpus
      // every iteration plus the final report
      val e = embs(s, dir)
        .select(col("vec_id"),
          Micro.vec("emb")
            .as("ei"))
        .persistTracked()
      val d2 = graft.functions.SeriesKernelFunctions.int_sq_l2(col("ei"), col("ci"))
      val wA = Window.partitionBy("vec_id").orderBy(col("d2"), col("cid"))
      def assign(cents: DataFrame): DataFrame =
        e.join(broadcast(cents))
          .withColumn("d2", d2)
          .withColumn("rk", row_number().over(wA))
          .filter(col("rk") === 1)
          .select(col("vec_id"), col("ei"), col("cid"), col("d2"))
      var cents = ivfSeedCents(e, "ei")
      for (_ <- 1 to iters) {
        val upd = assign(cents)
          .select(col("cid"), posexplode(col("ei")).as(Seq("dim", "x")))
          .groupBy("cid", "dim")
          .agg(sum(col("x").cast("decimal(38,0)")).as("sx"),
            count(lit(1)).as("nx"))
          .select(col("cid"), col("dim"),
            expr("cast(round(cast(sx as double) / nx) as bigint)").as("cv"))
          .groupBy("cid")
          .agg(expr("transform(array_sort(collect_list(struct(dim, cv))), " +
            "p -> p.cv)").as("ci_new"))
        // lazy lineage cut per Lloyd round (p52's cascade pattern): the
        // centroid table is k=20 rows, but WITHOUT the cut each round's
        // plan nests the previous round's assignment+update subtree, and
        // the final action replans/reexecutes the whole trajectory —
        // measured 3.2 -> 1.45 s at sf0.1 (r11 A/B). Values unchanged:
        // the checkpoint only materializes what the next broadcast
        // would compute anyway.
        cents = cents.join(upd, Seq("cid"), "left")
          .select(col("cid"), coalesce(col("ci_new"), col("ci")).as("ci"))
          .localCheckpoint(false)
      }
      assign(cents)
        .withColumn("cell_size",
          count(lit(1)).over(Window.partitionBy("cid")))
        .select(col("vec_id"), col("cid").as("cell"), col("d2"),
          col("cell_size"))
    }, Some {
      val iter = (1 to 3).map { i =>
        s"""a$i AS (SELECT vec_id, ei, cid FROM (
             SELECT e.vec_id, e.ei, c.cid,
                    row_number() OVER (PARTITION BY e.vec_id ORDER BY
                      list_sum(list_transform(range(1, len(e.ei)+1),
                        j -> (e.ei[j] - c.ci[j]) * (e.ei[j] - c.ci[j]))),
                      c.cid) AS rk
             FROM e, c${i - 1} c) WHERE rk = 1),
           u$i AS (SELECT cid, list(cv ORDER BY dim) AS ci FROM (
             SELECT cid, dim,
                    CAST(round(CAST(sum(ei[dim]) AS DOUBLE) / count(*))
                      AS BIGINT) AS cv
             FROM a$i, UNNEST(range(1, len(ei)+1)) AS t(dim)
             GROUP BY cid, dim) GROUP BY cid),
           c$i AS (SELECT c.cid, coalesce(u.ci, c.ci) AS ci
                   FROM c${i - 1} c LEFT JOIN u$i u USING (cid))"""
      }.mkString(",\n      ")
      s"""
      WITH e AS (SELECT vec_id,
                   ${Micro.vecSql("embedding::DOUBLE[]")} AS ei
                 FROM embeddings),
      c0 AS (${ivfSeedDuck("e", "ei")}),
      $iter,
      fin AS (SELECT vec_id, cid, d2 FROM (
        SELECT e.vec_id, c.cid,
               CAST(list_sum(list_transform(range(1, len(e.ei)+1),
                 j -> (e.ei[j] - c.ci[j]) * (e.ei[j] - c.ci[j])))
                 AS BIGINT) AS d2,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 list_sum(list_transform(range(1, len(e.ei)+1),
                   j -> (e.ei[j] - c.ci[j]) * (e.ei[j] - c.ci[j]))),
                 c.cid) AS rk
        FROM e, c3 c) WHERE rk = 1)
      SELECT vec_id, cid AS cell, d2,
             count(*) OVER (PARTITION BY cid) AS cell_size
      FROM fin"""
    }),

    // ---- p56: fair survivor selection — p02 keeps the FIRST copy of
    // each exact-dup group, which biases the kept corpus toward early
    // crawl dates (and whatever correlates with them); here the
    // survivor is the member with the smallest salted md5 hash, an
    // unbiased pseudo-random choice that is still fully reproducible
    // (same doc wins on any engine, any rerun, any partitioning). The
    // ':fair' salt decouples this draw from every other doc_id hash in
    // the engine. One content-hash shuffle; the rank window rides it.
    Entry("p56_dedup_fair_survivor", (s, dir) => {
      import graft.functions.{HashScheme => H}
      val w = Window.partitionBy("content_hash")
        .orderBy(col("draw"), col("doc_id"))
      docs(s, dir)
        .select(col("doc_id"), md5(norm).as("content_hash"),
          expr(H.h32Spark("concat(cast(doc_id as string), ':fair')"))
            .as("draw"))
        .withColumn("n_copies",
          count(lit(1)).over(Window.partitionBy("content_hash")))
        .withColumn("keep", row_number().over(w) === 1)
        .select(col("doc_id"), col("content_hash"), col("n_copies"),
          col("draw"), col("keep"))
    }, Some(s"""
      WITH d AS (SELECT doc_id, md5($normSql) AS content_hash,
                   ${graft.functions.HashScheme.h32Duck(
                     "CAST(doc_id AS VARCHAR) || ':fair'")} AS draw
                 FROM documents)
      SELECT doc_id, content_hash,
             count(*) OVER (PARTITION BY content_hash) AS n_copies,
             draw,
             row_number() OVER (PARTITION BY content_hash
               ORDER BY draw, doc_id) = 1 AS keep
      FROM d""")),

    // ---- p57: per-label embedding dispersion — the semantic-diversity
    // health signal for a training mix: mean pairwise dot product
    // inside each label cohort, computed WITHOUT the O(n²) pair join
    // via the Gram identity Σ_{i≠j} v_i·v_j = ‖Σv‖² − Σ‖v‖². Per label
    // the whole statistic is two map-side-combined aggregates over the
    // (label, dim) explode — O(n·d) rows, one shuffle on (label, dim)
    // and one on label — so it scales to any cohort size where the
    // naive pairwise version (the p06 shape) is a non-starter. All
    // arithmetic is exact: micro-fixed int64 coordinates, 128-bit
    // Σv per dim and Σ‖v‖², the two squares exact in DECIMAL(38)/
    // HUGEINT, and integer HALF_UP rounding to micro-units (the +K·den
    // shift keeps the floor-div rounding correct for the possibly
    // NEGATIVE pairwise sum; K = 8e6 bounds |mean_pair_dot| ≤ 8).
    // A tight cohort reads mean_pair_dot ≈ mean_sq_norm; a diverse one
    // reads ≈ 0 — the gap is the dispersion a curator balances.
    Entry("p57_label_dispersion", (s, dir) => {
      embs(s, dir)
        .select(col("label"), posexplode(col("emb")).as(Seq("dim", "x")))
        .withColumn("x6", Micro.of("x"))
        .groupBy("label", "dim")
        .agg(sum(col("x6")).as("s6"),
          sum(dec(col("x6")) * col("x6")).as("q"),
          count(lit(1)).as("nv"))
        .groupBy("label")
        .agg(max(col("nv")).as("n_vecs"),
          sum(dec(col("s6")) * col("s6")).as("gram"),
          sum(col("q")).as("qq"))
        .filter(col("n_vecs") >= 2)
        .withColumn("den_pd",
          dec(lit(1000000L)) * col("n_vecs") * (col("n_vecs") - 1))
        .withColumn("den_n", dec(lit(1000000L)) * col("n_vecs"))
        .select(col("label"), col("n_vecs"),
          ((expr("(gram - qq + 8000000 * den_pd + den_pd div 2) div den_pd")
            .cast("long") - lit(8000000L)) / 1e6).as("mean_pair_dot"),
          (expr("(qq + den_n div 2) div den_n").cast("long") / 1e6)
            .as("mean_sq_norm"))
    }, Some(s"""
      WITH e AS (SELECT label, embedding::DOUBLE[] AS emb FROM embeddings),
      x AS (SELECT label, i AS dim,
              ${Micro.sql("emb[i]")} AS x6
            FROM e, UNNEST(range(1, len(emb) + 1)) t(i)),
      pd AS (SELECT label, dim,
              CAST(sum(x6) AS BIGINT) AS s6,
              sum(CAST(x6 AS HUGEINT) * x6) AS q,
              count(*) AS nv
            FROM x GROUP BY 1, 2),
      l AS (SELECT label, max(nv) AS n_vecs,
              sum(CAST(s6 AS HUGEINT) * s6) AS gram,
              sum(q) AS qq
            FROM pd GROUP BY 1),
      r AS (SELECT label, n_vecs, gram, qq,
              1000000::HUGEINT * n_vecs * (n_vecs - 1) AS den_pd,
              1000000::HUGEINT * n_vecs AS den_n
            FROM l WHERE n_vecs >= 2)
      SELECT label, n_vecs,
        (CAST((gram - qq + 8000000 * den_pd + den_pd // 2) // den_pd
           AS BIGINT) - 8000000) / 1e6 AS mean_pair_dot,
        CAST((qq + den_n // 2) // den_n AS BIGINT) / 1e6 AS mean_sq_norm
      FROM r""")),

    // ---- p58: BM25 query-by-document retrieval — the lexical
    // retrieval scorer (Robertson k1=1.2, b=0.75) that complements the
    // embedding ANN family (p07/p08/p15): each sample doc (doc_id %100
    // = 0) retrieves its top-5 corpus docs by BM25 over their shared
    // terms. 100 TB shape: candidate generation is a BROADCAST join of
    // the postings against the (small) query-term dim — each query
    // term costs df rows, never df² (the p44/p53 bound); a production
    // corpus adds stop-term pruning (the p49 df cap) to bound the
    // hottest terms, but THIS corpus is a 31-token synthetic vocab
    // where every term has df ≈ 0.8·N, so any useful cap would empty
    // retrieval — the scale lever is documented, not exercised. The
    // only corpus-wide shuffles are the vocab-sized df aggregate
    // (map-side combined) and the final (query, doc) score aggregate.
    // idf is Lucene's ln(1 + (N−df+0.5)/(df+0.5)) = ln((N+1)/(df+0.5))
    // — strictly positive for ANY df ≤ N (classic Robertson idf goes
    // negative past df = N/2, which this corpus's hot terms all do),
    // keeping the integer rounding idiom one-sided.
    // Exactness: with avgdl = A/N left as the RATIONAL A/N, the BM25
    // term weight tf·(k1+1)/(tf + k1(1−b+b·dl/avgdl)) multiplies out
    // to 22·tf·A / (10·tf·A + 3·A + 9·dl·N) — exact integers; the only
    // libm call is the idf ln, fixed to micro-units in the query-term
    // dim (p41's documented pattern), and each term's contribution is
    // idf6·tf_norm via one integer HALF_UP division, so the score sum
    // is pure int64 and partition-order independent.
    Entry("p58_bm25_topk", (s, dir) => {
      val w = Window.partitionBy("query_id")
        .orderBy(col("score6").desc, col("doc_id"))
      bm25Scores(s, dir)
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .select(col("query_id"), col("doc_id"), col("n_terms"),
          (col("score6") / 1e6).as("bm25"), col("rk"))
    }, Some(s"""
      WITH $bm25Cte
      SELECT query_id, doc_id, n_terms, score6 / 1e6 AS bm25, rk FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY score6 DESC, doc_id) AS BIGINT) AS rk
        FROM sc) WHERE rk <= 5"""),
      // retrieval with a fixed-corpus-fraction query set (doc_id % 100):
      // queries AND postings both grow ×N, so the (query, doc) score
      // volume is ~N² BY DECLARATION (the p07/p59 rationale; a real
      // deployment's query set does not grow with the corpus)
      tier = Tier.Swept(Sweep.QuadraticNoX100(
        "declared ~N^2-work baseline (query set is a fixed corpus fraction); " +
        "x10 measured 36 s/run, so x100 projects >= 20 min/run x3 runs — the " +
        "bounded scale path p99 carries the x100 point"))),

    // ---- p59: product-quantization ANN (ADC) — the memory-compression
    // end of the ANN family: p26 shrinks vectors 4× (int8), PQ shrinks
    // them to M=4 CODES (one codebook id per 16-dim subspace) — the
    // 4-byte-per-vector regime that makes billion-scale serving fit in
    // RAM. Codebook = the subvectors of a FIXED set of 16 seed rows
    // (vec_id % 31 = 0 below PqSeedBound — constant K at ANY corpus
    // size, the property that keeps the encode join linear in the
    // collection rather than corpus × corpus-growing-K); encoding
    // assigns each
    // subvector its nearest centroid by EXACT integer squared distance
    // with (d2, cid) tie-break — one map-side-combined (vec, subspace)
    // aggregate over a broadcast centroid join, the same engineered
    // determinism as p55's Lloyd assignment. Query scoring is classic
    // asymmetric distance: the per-query lookup table LUT[q, m, cid] =
    // <q_m, c_cid,m> (exact integer micro² dots, queries × M × K rows)
    // BROADCASTS onto the code table, so the corpus side touches only
    // its M codes per vector — never the raw embedding — and the
    // (query, vec) sum + top-5 rank ride one aggregate. approx_dot is
    // the exact integer LUT sum scaled back to unit² (÷1e12).
    Entry("p59_pq_topk", (s, dir) => {
      val e6 = embs(s, dir)
        .select(col("vec_id"),
          Micro.vec("emb")
            .as("v6"))
      val subs = e6.select(col("vec_id"),
          posexplode(expr(s"transform(sequence(0, ${PqM - 1}), " +
            s"m -> slice(v6, m * $PqSub + 1, $PqSub))"))
            .as(Seq("m", "sub")))
        .select(col("vec_id"), col("m").cast("long").as("m"), col("sub"))
        .persistTracked() // read 3×: centroid dim, encode probe, query LUT
      val cents = subs
        .filter(col("vec_id") % 31 === 0 && col("vec_id") < PqSeedBound)
        .select(col("vec_id").as("cid"), col("m"), col("sub").as("csub"))
      val codes = subs.join(broadcast(cents), "m")
        .withColumn("d2", graft.functions.SeriesKernelFunctions.int_sq_l2(col("sub"), col("csub")))
        .groupBy("vec_id", "m")
        .agg(min(struct(col("d2"), col("cid"))).as("best"))
        .select(col("vec_id"), col("m"), col("best.cid").as("code"))
      val lut = subs.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("m"), col("sub"))
        .join(broadcast(cents), "m")
        .select(col("query_id"), col("m"), col("cid"),
          graft.functions.SeriesKernelFunctions.int_dot(col("sub"), col("csub")).as("dot12"))
        // persisted for exact STATS, not reuse: the LUT subtree is
        // map-side (no shuffle stage), so unhinted AQE never learns
        // its true |Q|·M·K size and leaves the candidate join as a
        // corpus-side sort-merge; exact cached stats make the planner
        // broadcast the genuinely small side, and an adversarially
        // large query set still degrades to a shuffle (no hard hint).
        .persistTracked()
      val w = Window.partitionBy("query_id")
        .orderBy(col("adot12").desc, col("neighbor_id"))
      // lut is UNHINTED (r13): |queries| × M × K rows where the query
      // set is a corpus fraction here — a hard broadcast grows with
      // the corpus (p28 class). AQE broadcasts it at bounded
      // query-batch sizes; the codebook hints above stay (fixed k·M).
      codes.join(lut,
          codes("m") === lut("m") && codes("code") === lut("cid"))
        .filter(col("vec_id") =!= col("query_id"))
        .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
        .agg(sum(col("dot12")).as("adot12"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .select(col("query_id"), col("neighbor_id"), col("adot12"),
          (col("adot12") / 1e12).as("approx_dot"), col("rk"))
    }, Some(s"""
      WITH e AS (SELECT vec_id,
                   ${Micro.vecSql("embedding::DOUBLE[]")} AS v6
                 FROM embeddings),
      subs AS (SELECT vec_id, CAST(m AS BIGINT) AS m,
                 v6[m * $PqSub + 1 : m * $PqSub + $PqSub] AS sub
               FROM e, UNNEST(range(0, $PqM)) t(m)),
      cents AS (SELECT vec_id AS cid, m, sub AS csub
                FROM subs WHERE vec_id % 31 = 0 AND vec_id < $PqSeedBound),
      codes AS (SELECT vec_id, m, cid AS code FROM (
                  SELECT s.vec_id, s.m, c.cid,
                         row_number() OVER (PARTITION BY s.vec_id, s.m
                           ORDER BY CAST(list_sum(list_transform(
                             range(1, $PqSub + 1), j ->
                               (s.sub[j] - c.csub[j])
                               * (s.sub[j] - c.csub[j]))) AS BIGINT),
                             c.cid) AS rn
                  FROM subs s JOIN cents c USING (m))
                WHERE rn = 1),
      lut AS (SELECT s.vec_id AS query_id, s.m, c.cid,
                CAST(list_sum(list_transform(range(1, $PqSub + 1),
                  j -> s.sub[j] * c.csub[j])) AS BIGINT) AS dot12
              FROM subs s JOIN cents c USING (m)
              WHERE s.vec_id % 50 = 0),
      sc AS (SELECT l.query_id, co.vec_id AS neighbor_id,
               CAST(sum(l.dot12) AS BIGINT) AS adot12
             FROM codes co JOIN lut l
               ON co.m = l.m AND co.code = l.cid
             WHERE co.vec_id <> l.query_id
             GROUP BY 1, 2)
      SELECT query_id, neighbor_id, adot12, adot12 / 1e12 AS approx_dot,
             rk
      FROM (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY adot12 DESC, neighbor_id) AS BIGINT) AS rk
            FROM sc) WHERE rk <= 5"""),
      // the p07-class DECLARED brute-force baseline: ~N² work by
      // declaration, its scale path p63 swept under the linear cap
      tier = Tier.Bench(Sweep.QuadraticNoX100(
        "declared brute PQ baseline; x30 measured 105 s/run, x100 " +
        "projects ~11+ min/run — the serving path p63 times x100 under " +
        "the LINEAR cap"))),

    // ---- p60: hybrid retrieval via reciprocal-rank fusion — the
    // production RAG pattern: fuse p58's LEXICAL (BM25) ranking with
    // the DENSE (embedding cosine) ranking of the same queries
    // (doc_id ≡ vec_id in this corpus) by RRF: score = Σ_lists
    // 1/(60 + rank) over each list's top-10, the rank-only fusion that
    // needs no score calibration between the two signals (Cormack et
    // al.'s k=60). Rank-only also makes exactness trivial: ranks are
    // deterministic integers (each list's established tie-break), and
    // 1/(60+r) is fixed to micro-units by INTEGER floor division —
    // identical on both engines by construction. 100 TB shape: both
    // per-query top-10 lists are WindowGroupLimit-bounded and tiny;
    // the fusion join touches ≤ 20 rows per query.
    Entry("p60_hybrid_rrf", (s, dir) =>
      (rrfFuse _).tupled(p60Arms(s, dir)),
      Some(s"""
      WITH $bm25Cte,
      ${lexTop10Sql("sc")},
      e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      dn AS (SELECT a.vec_id AS query_id, b.vec_id AS doc_id,
               round(list_cosine_similarity(a.emb, b.emb), 6) AS cs
             FROM e a JOIN e b ON b.vec_id <> a.vec_id
             WHERE a.vec_id % 100 = 0),
      dense AS (SELECT query_id, doc_id, rd FROM (
                  SELECT query_id, doc_id,
                         CAST(row_number() OVER (PARTITION BY query_id
                           ORDER BY cs DESC, doc_id) AS BIGINT) AS rd
                  FROM dn) WHERE rd <= 10),
      ${rrfFuseSql("dense")}"""),
      // fuses p58's arms: the same ~N² score volume by declaration
      tier = Tier.Swept(Sweep.QuadraticNoX100(
        "declared ~N^2-work baseline fusing p58's arms; x10 measured 49 " +
        "s/run, x100 projects >= 25 min/run — p99 is its x100-swept scale " +
        "twin"))),

    // ---- p61: incremental dedup against a prior manifest — the mode
    // production dedup actually runs in at 100 TB: yesterday's corpus
    // is already deduped into a (content_hash → canonical doc) MANIFEST
    // (an O(distinct) aggregate, stored); today's arriving batch is
    // hash-joined against that manifest and windowed against ITSELF —
    // the historical corpus is never re-paired. Here the prior split
    // (doc_id % 7 ≠ 0) stands in for the stored manifest so the query
    // is self-contained. Verdicts: 'dup_prior' (hash exists in the
    // manifest → canonical is the prior min id; ALL batch copies point
    // there), 'dup_batch' (first batch copy of a new hash is 'new',
    // later copies point at it), 'new'. The manifest aggregate, the
    // batch window, and the join all key on content_hash, so the merge
    // reuses one partitioning — two exchanges total.
    Entry("p61_dedup_incremental", (s, dir) => {
      val hash = md5(norm)
      val isBatch = col("doc_id") % 7 === 0
      val manifest = docs(s, dir).filter(!isBatch)
        .select(hash.as("content_hash"), col("doc_id"))
        .groupBy("content_hash").agg(min("doc_id").as("prior_id"))
      val wB = Window.partitionBy("content_hash").orderBy("doc_id")
      docs(s, dir).filter(isBatch)
        .select(col("doc_id"), hash.as("content_hash"))
        .withColumn("batch_first",
          min(col("doc_id")).over(Window.partitionBy("content_hash")))
        .join(manifest, Seq("content_hash"), "left")
        .select(col("doc_id"), col("content_hash"),
          when(col("prior_id").isNotNull, "dup_prior")
            .when(col("doc_id") =!= col("batch_first"), "dup_batch")
            .otherwise("new").as("status"),
          coalesce(col("prior_id"),
            when(col("doc_id") =!= col("batch_first"), col("batch_first"))
              .otherwise(col("doc_id"))).as("canonical_id"))
    }, Some(s"""
      WITH d AS (SELECT doc_id, md5($normSql) AS content_hash
                 FROM documents),
      manifest AS (SELECT content_hash, min(doc_id) AS prior_id
                   FROM d WHERE doc_id % 7 <> 0 GROUP BY content_hash),
      batch AS (SELECT doc_id, content_hash,
                  min(doc_id) OVER (PARTITION BY content_hash)
                    AS batch_first
                FROM d WHERE doc_id % 7 = 0)
      SELECT b.doc_id, b.content_hash,
             CASE WHEN m.prior_id IS NOT NULL THEN 'dup_prior'
                  WHEN b.doc_id <> b.batch_first THEN 'dup_batch'
                  ELSE 'new' END AS status,
             coalesce(m.prior_id,
               CASE WHEN b.doc_id <> b.batch_first THEN b.batch_first
                    ELSE b.doc_id END) AS canonical_id
      FROM batch b LEFT JOIN manifest m USING (content_hash)""")),

    // ---- p62: content-group label consistency — the metadata-QA twin
    // of exact dedup: identical content carrying DIFFERENT lang tags is
    // a labeling bug (and silently skews every per-language op — p21,
    // p32, p39, p41 — that trusts the tags), so every content group is
    // audited for tag agreement: copy count, distinct-lang count, the
    // SORTED lang list (deterministic join — collect_set order is
    // not), and the cross_lingual flag curators alert on. Audits ALL
    // groups (singletons included) so the report is the corpus's full
    // label-consistency surface; in this corpus no group is
    // cross-lingual — the spec pins the flag's firing on a synthetic
    // frame with an injected mislabeled duplicate. One content-hash
    // shuffle.
    Entry("p62_dup_lang_consistency",
      (s, dir) => dupLangAudit(docs(s, dir)),
      Some(s"""
      WITH d AS (SELECT md5($normSql) AS content_hash, doc_id, lang
                 FROM documents),
      g AS (SELECT content_hash, count(*) AS n_copies,
              min(doc_id) AS first_doc,
              CAST(len(list_distinct(list(lang))) AS BIGINT) AS n_langs,
              array_to_string(list_sort(list_distinct(list(lang))), ',')
                AS langs
            FROM d GROUP BY content_hash)
      SELECT content_hash, n_copies, first_doc, n_langs, langs,
             n_langs > 1 AS cross_lingual
      FROM g""")),

    // ---- p63: IVF-PQ with residual encoding + asymmetric distance —
    // the FAISS-default billion-scale serving shape, composing p15's
    // coarse cells with p59's PQ codes: each vector is (cell id +
    // M=4 codes of its RESIDUAL v − c_cell), and a query scores
    // candidates as <q, c + r̂> = <q, c_cell> (one scalar per probed
    // cell) + Σ_m LUT[m, code_m] (LUT = <q_m, codebook>, K·M entries
    // per query, cell-independent for inner product). The corpus side
    // of search touches ONLY vectors in the nprobe=2 probed cells and
    // only their codes — never a raw embedding — which is the whole
    // point: IVF bounds the candidates, PQ bounds the bytes. PQ is
    // trained on residuals (the standard choice — residuals are
    // near-zero-centered so a small codebook covers them) pooled
    // across cells from the p59 seed rows. Exactness: micro-fixed
    // int64 coordinates end to end — coarse assignment by exact
    // integer d2 with (d2, ccid) tie-break (p55's engineered
    // determinism), residuals exact integer differences, code
    // assignment exact (d2, cid)-min, LUT and centroid dots exact
    // integer products, adot12 a pure int64 sum. 100 TB shape: the
    // coarse centroid table and the K·M codebook broadcast; encode is
    // one map-side-combined (vec, subspace) aggregate; search joins
    // the code table on its cell key against the tiny probe list,
    // with the LUT broadcast — the only corpus-wide shuffle is the
    // (query, neighbor) score aggregate over probed-cell candidates.
    Entry("p63_sim_ivfpq", (s, dir) => ivfPqTopK(s, dir, qMod = 50, k = 5),
      Some(s"""
      WITH ${ivfPqOracleCtes(50)}
      SELECT query_id, neighbor_id, adot12, adot12 / 1e12 AS approx_dot,
             rk
      FROM (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY adot12 DESC, neighbor_id) AS BIGINT) AS rk
            FROM annsc) WHERE rk <= 5"""),
      tier = Tier.Bench(Sweep.LinearX100, heavy = true)),

    // ---- p64: PII scrub — the redaction pass every training-data
    // pipeline runs before anything else: detect + replace emails,
    // IPv4 addresses, and NANP-style 555 phone numbers, reporting
    // per-doc counts and the redacted content hash. This corpus
    // contains no digits at all, so (the p62 pattern) a deterministic
    // PII payload derived from doc_id is injected into the scanned
    // body on BOTH engines — the extraction, counting, and
    // replacement logic is then genuinely exercised and
    // oracle-checked on ~26% of rows rather than vacuously passing on
    // zeros. Patterns are restricted to the Java-regex ∩ RE2 common
    // subset (char classes, bounded repeats, \\b — no backrefs, no
    // lookaround) so both engines compile identical automata; with
    // greedy quantifiers and no alternation the Java NFA's
    // leftmost-first match equals RE2's leftmost-longest. Redaction
    // order (email → ip → phone) is fixed and the md5 of the redacted
    // body makes any divergence hash-visible. Per-row and
    // shuffle-free — the 100 TB cost is exactly one scan.
    Entry("p64_pii_scrub", (s, dir) => {
      val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val ipv4 = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
      val phone = "\\b555-[0-9]{4}\\b"
      docs(s, dir)
        .select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 7 === 0,
              concat(lit(" contact user"), col("doc_id").cast("string"),
                lit("@example.com now"))).otherwise(lit("")),
            when(col("doc_id") % 11 === 0,
              concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
                lit("."), (col("doc_id") % 200).cast("string"),
                lit(".7"))).otherwise(lit("")),
            when(col("doc_id") % 13 === 0,
              concat(lit(" call 555-"),
                lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
              .otherwise(lit(""))).as("body"))
        .select(col("doc_id"),
          // functions API, not expr(): Spark SQL string literals
          // reprocess backslash escapes, which would corrupt \b / \.
          size(regexp_extract_all(col("body"), lit(email), lit(0)))
            .cast("long").as("n_email"),
          size(regexp_extract_all(col("body"), lit(ipv4), lit(0)))
            .cast("long").as("n_ip"),
          size(regexp_extract_all(col("body"), lit(phone), lit(0)))
            .cast("long").as("n_phone"),
          md5(regexp_replace(
            regexp_replace(
              regexp_replace(col("body"), email, "<EMAIL>"),
              ipv4, "<IP>"),
            phone, "<PHONE>")).as("red_md5"),
          length(regexp_replace(
            regexp_replace(
              regexp_replace(col("body"), email, "<EMAIL>"),
              ipv4, "<IP>"),
            phone, "<PHONE>")).cast("long").as("red_len"))
    }, Some("""
      WITH b AS (SELECT doc_id, text
          || CASE WHEN doc_id % 7 = 0 THEN ' contact user'
               || CAST(doc_id AS VARCHAR) || '@example.com now'
               ELSE '' END
          || CASE WHEN doc_id % 11 = 0 THEN ' from 10.'
               || CAST(doc_id % 256 AS VARCHAR) || '.'
               || CAST(doc_id % 200 AS VARCHAR) || '.7'
               ELSE '' END
          || CASE WHEN doc_id % 13 = 0 THEN ' call 555-'
               || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               ELSE '' END AS body
        FROM documents),
      pat AS (SELECT '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}' AS email,
                     '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b' AS ipv4,
                     '\b555-[0-9]{4}\b' AS phone),
      red AS (SELECT doc_id,
                CAST(len(regexp_extract_all(body, email)) AS BIGINT)
                  AS n_email,
                CAST(len(regexp_extract_all(body, ipv4)) AS BIGINT)
                  AS n_ip,
                CAST(len(regexp_extract_all(body, phone)) AS BIGINT)
                  AS n_phone,
                regexp_replace(regexp_replace(regexp_replace(body,
                  email, '<EMAIL>', 'g'), ipv4, '<IP>', 'g'),
                  phone, '<PHONE>', 'g') AS redacted
              FROM b, pat)
      SELECT doc_id, n_email, n_ip, n_phone,
             md5(redacted) AS red_md5,
             CAST(length(redacted) AS BIGINT) AS red_len
      FROM red"""))
  ) ++ Seq(dedupSavingsEntry, splitLeakfreeEntry, leakageAuditEntry,
    mixtureBudgetEntry, annRecallEntry, chunkDupCensusEntry,
    splitContaminationEntry, datasetCardEntry, docLenQuantilesEntry,
    decontamExciseEntry, neardupFirstClaimEntry, coresetKcenterEntry,
    sourceOverlapEntry, hardNegativesEntry, bpeMergesEntry,
    bpeApplyEntry, contamSemanticEntry, distinctHllEntry,
    sourceDivergenceEntry, splitParityEntry, vocabCoverageEntry,
    vocabGrowthEntry, longestRunEntry, sampleExactKEntry,
    dupFlowEntry, curationDecisionEntry, curationWaterfallEntry,
    splitEmbParityEntry, mmNearDupEntry, epochScheduleEntry,
    dupLossMaskEntry, packEfficiencyEntry, lshCapAuditEntry,
    winnowContainmentEntry, hybridRrfAnnEntry, ivfPqRecallEntry,
    imagePhashEntry)

  /** p65: dedup-savings report — the curator dashboard that decides
    * WHERE to set the near-dup threshold before committing to a dedup
    * run: for each candidate threshold on p04's estimated Jaccard,
    * how many pairs fire, how many documents the greedy
    * drop-the-higher-id policy would remove, and what fraction of the
    * corpus's token mass that recovers. Built ON the shared
    * `minhashLshPairs` generator (definitionally the p04/p23/p52/p54
    * pair set), so the report describes exactly the dedup the engine
    * would execute. Exactness: est_jaccard values are k/64 rationals
    * rounded to 6 decimals — exact binary doubles — so the threshold
    * comparisons are deterministic on both engines; the token
    * fraction is one integer HALF_UP micro-division. 100 TB shape:
    * thresholds multiply only the PAIR table (LSH-bounded, tiny
    * relative to the corpus) by a constant 3; the token dim join is
    * doc-keyed; the rollup output is O(thresholds).
    */
  private[queries] def dedupSavingsEntry: Entry =
    Entry("p65_dedup_savings", (s, dir) => {
      val d = docs(s, dir)
      val tk = d.select(col("doc_id"), size(toks).cast("long").as("n_toks"))
      val tot = tk.agg(sum(col("n_toks")).as("tot_toks"))
      val thrDf = s.range(1).select(
        explode(array(lit(0.5), lit(0.7), lit(0.9))).as("thr"))
      // persisted (r14 opt, guide §2.4): np and rm both read the
      // thresholded pair explode — uncached, the LSH refine ran twice
      val pt = minhashLshPairs(d)
        .withColumn("thr", explode(array(lit(0.5), lit(0.7), lit(0.9))))
        .filter(col("est_jaccard") >= col("thr"))
        .persistTracked()
      val np = pt.groupBy("thr").agg(count(lit(1)).as("n_pairs"))
      val rm = pt.select("thr", "doc_b").distinct()
        .join(tk, col("doc_b") === col("doc_id"))
        .groupBy("thr").agg(count(lit(1)).as("n_removable"),
          sum(col("n_toks")).as("toks_removable"))
      thrDf
        .join(np, Seq("thr"), "left")
        .join(rm, Seq("thr"), "left")
        .crossJoin(broadcast(tot))
        .select(col("thr"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_removable"), lit(0L)).as("n_removable"),
          coalesce(col("toks_removable"), lit(0L)).as("toks_removable"),
          (expr("(coalesce(toks_removable, 0L) * 1000000 " +
            "+ tot_toks div 2) div tot_toks").cast("long") / 1e6)
            .as("frac_toks"))
    }, Some(s"""
      WITH $lshPairsOracleCtes,
      tk AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_toks
             FROM documents),
      tot AS (SELECT CAST(sum(n_toks) AS BIGINT) AS tot_toks FROM tk),
      thr AS (SELECT CAST(thr AS DOUBLE) AS thr
              FROM UNNEST([0.5, 0.7, 0.9]) t(thr)),
      pt AS (SELECT t.thr, p.doc_a, p.doc_b FROM pairs p
             JOIN thr t ON p.est_jaccard >= t.thr),
      np AS (SELECT thr, count(*) AS n_pairs FROM pt GROUP BY thr),
      rm AS (SELECT pt.thr, count(*) AS n_removable,
               CAST(sum(k.n_toks) AS BIGINT) AS toks_removable
             FROM (SELECT DISTINCT thr, doc_b FROM pt) pt
             JOIN tk k ON pt.doc_b = k.doc_id
             GROUP BY pt.thr)
      SELECT t.thr,
             coalesce(np.n_pairs, 0) AS n_pairs,
             coalesce(rm.n_removable, 0) AS n_removable,
             coalesce(rm.toks_removable, 0) AS toks_removable,
             CAST((coalesce(rm.toks_removable, 0) * 1000000
               + tot_toks // 2) // tot_toks AS BIGINT) / 1e6 AS frac_toks
      FROM thr t
      LEFT JOIN np USING (thr)
      LEFT JOIN rm USING (thr)
      CROSS JOIN tot"""))

  /** p66: leakage-free train/val/test split — p31's salted-hash split
    * re-keyed by the NEAR-DUP CLUSTER id (p23's connected component)
    * instead of the document id, so near-duplicate copies of the same
    * content can never straddle the train/test boundary — the
    * eval-contamination channel a per-document split leaves wide open
    * (a test doc's near-twin in train is memorization, not
    * generalization). Singleton docs keep cluster_id = doc_id, so
    * their assignment is IDENTICAL to p31's; `rehomed` flags the docs
    * whose per-document split would have differed — exactly the
    * leakage this op removes, made visible for audit. 100 TB shape:
    * p23's O(log n) component rounds, then one broadcast-back label
    * join and per-row hashing — the split itself adds nothing to the
    * component cost.
    */
  private[queries] def splitLeakfreeEntry: Entry =
    Entry("p66_split_leakfree", (s, dir) => {
      clusterManifest(docs(s, dir))
        .withColumn("bucket", splitBucket("cluster_id"))
        .withColumn("dbucket", splitBucket("doc_id"))
        .select(col("doc_id"), col("cluster_id"), col("bucket"),
          splitOf(col("bucket")).as("split"),
          (splitOf(col("dbucket")) =!= splitOf(col("bucket")))
            .as("rehomed"))
    }, Some(s"""
      WITH RECURSIVE $lshManifestOracleCtes,
      b AS (SELECT doc_id, cluster_id,
              ${splitBucketSql("cluster_id")} AS bucket,
              ${splitBucketSql("doc_id")} AS dbucket
            FROM manifest)
      SELECT doc_id, cluster_id, bucket,
             ${splitCaseSql("bucket")} AS split,
             ${splitCaseSql("dbucket")} <> ${splitCaseSql("bucket")} AS rehomed
      FROM b"""),
      tier = Tier.LshPairConsumer)

  /** p67: train/test leakage audit — the evaluation-side proof that
    * p66's cluster-keyed split is worth its extra join: over the SAME
    * LSH near-dup pair set both splits would consume, count the pairs
    * whose endpoints land in different splits ("straddles" — each one
    * is a memorization channel from train into eval) under (a) p31's
    * per-document rule and (b) p66's cluster-keyed rule. (b) is ZERO by
    * construction — every LSH pair lies inside one connected component,
    * and a component has one split — and the oracle proves that
    * invariant independently on DuckDB's recursive closure rather than
    * trusting the Spark implementation. Leak fraction is the exact
    * HALF_UP micro-division used everywhere else. 100 TB shape: the
    * pair table (LSH-bounded) joins the component labels twice on the
    * pair endpoints — label table is O(docs in pairs), far below the
    * corpus; the splits are per-row hashes, no extra pass over the
    * corpus at all.
    */
  /** The p31/p66 split rule over any id-typed column — shared by p67's
    * audit and p71's per-split contamination so every consumer applies
    * the definitionally identical assignment.
    */
  private def splitBucket(c: String): Column =
    expr(graft.functions.HashScheme
      .h32Spark(s"concat(cast($c as string), ':split')") + " % 100")
  private def splitOf(bucket: Column): Column =
    when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
  private def splitCol(c: String): Column = splitOf(splitBucket(c))
  private def splitBucketSql(c: String): String = graft.functions.HashScheme
    .h32Duck(s"CAST($c AS VARCHAR) || ':split'") + " % 100"
  private def splitCaseSql(b: String): String =
    s"CASE WHEN $b < 90 THEN 'train' WHEN $b < 95 THEN 'val' " +
      s"ELSE 'test' END"
  private def splitSql(c: String): String =
    splitCaseSql(s"(${splitBucketSql(c)})")

  private[queries] def leakageAuditEntry: Entry = {
    Entry("p67_leakage_audit", (s, dir) => {
      val d = docs(s, dir)
      // persisted: the pair list is read TWICE — once as the component
      // edge input (checkpointed inside connectedComponents) and once
      // directly as the audited pair set below; without the persist the
      // whole LSH pass runs twice
      val (pairs, labels) = lshComponents(d)
      pairs
        .join(labels.withColumnRenamed("node", "doc_a")
          .withColumnRenamed("label", "ca"), Seq("doc_a"))
        .join(labels.withColumnRenamed("node", "doc_b")
          .withColumnRenamed("label", "cb"), Seq("doc_b"))
        .select(
          (splitCol("doc_a") =!= splitCol("doc_b")).cast("long").as("sd"),
          (splitCol("ca") =!= splitCol("cb")).cast("long").as("sc"))
        .agg(count(lit(1)).as("n_pairs"),
          coalesce(sum(col("sd")), lit(0L)).as("n_straddle_doc"),
          coalesce(sum(col("sc")), lit(0L)).as("n_straddle_cluster"))
        .select(col("n_pairs"), col("n_straddle_doc"),
          col("n_straddle_cluster"),
          when(col("n_pairs") > 0,
            expr("cast((n_straddle_doc * 1000000 + n_pairs div 2) " +
              "div n_pairs as bigint)") / lit(1e6))
            .otherwise(lit(0.0)).as("leak_frac_doc"))
    }, Some(s"""
      WITH RECURSIVE $lshLabelsOracleCtes,
      j AS (SELECT p.doc_a, p.doc_b, la.cluster_id AS ca,
                   lb.cluster_id AS cb
            FROM pairs p JOIN labels la ON p.doc_a = la.doc_id
                         JOIN labels lb ON p.doc_b = lb.doc_id),
      f AS (SELECT
              CASE WHEN ${splitSql("doc_a")} <> ${splitSql("doc_b")}
                THEN 1 ELSE 0 END AS sd,
              CASE WHEN ${splitSql("ca")} <> ${splitSql("cb")}
                THEN 1 ELSE 0 END AS sc
            FROM j),
      agg AS (SELECT count(*) AS n_pairs,
                CAST(coalesce(sum(sd), 0) AS BIGINT) AS n_straddle_doc,
                CAST(coalesce(sum(sc), 0) AS BIGINT)
                  AS n_straddle_cluster
              FROM f)
      SELECT CAST(n_pairs AS BIGINT) AS n_pairs, n_straddle_doc,
             n_straddle_cluster,
             CASE WHEN n_pairs > 0 THEN
               CAST((n_straddle_doc * 1000000 + n_pairs // 2)
                 // n_pairs AS BIGINT) / 1e6
             ELSE 0.0 END AS leak_frac_doc
      FROM agg"""),
      tier = Tier.LshPairConsumer)
  }

  /** p68: token-budget mixture allocation by water-filling — the
    * curator op that turns "sample 90% of the corpus, balanced across
    * sources" into per-source quotas: each round splits the remaining
    * budget equally over unsaturated sources (integer division —
    * deterministic), sources whose whole token mass fits inside their
    * quota saturate (take everything, exit), and their unused budget
    * redistributes next round; 3 rounds unrolled (fixed-point for any
    * realistic source skew — the spec pins that round 3 changes
    * nothing here), leftover emitted as `slack`. EVERY quantity is an
    * exact integer (token counts, integer-div quotas, HALF_UP micro
    * rates) so the oracle is bit-for-bit. 100 TB shape: one map-side-
    * combined (source) aggregate over the corpus; all redistribution
    * math runs on the O(sources) dim via broadcast cross joins — the
    * corpus is scanned exactly once.
    */
  private[queries] def mixtureBudgetEntry: Entry =
    Entry("p68_mixture_budget", (s, dir) => {
      val tk = docs(s, dir)
        .select(col("source"), size(toks).cast("long").as("nt"))
        .groupBy("source").agg(sum(col("nt")).as("t"))
        // persisted: the round chain references this rollup from every
        // crossJoin side — uncached, Catalyst re-derives it 16 times
        // (16 corpus scans at scale; the ScalePropertiesSpec pin
        // counts them)
        .persistTracked()
      val tot = tk.agg(sum(col("t")).as("tt"), count(lit(1)).as("ns"))
        .select(col("tt"), col("ns"), expr("(tt * 9L) div 10L").as("b1"))
      val r1 = tk.crossJoin(broadcast(tot))
        .withColumn("q1", expr("b1 div ns"))
        .withColumn("sat1", col("t") <= col("q1"))
      val a1 = r1.agg(
        coalesce(sum(when(col("sat1"), col("t"))), lit(0L)).as("used1"),
        coalesce(sum(when(col("sat1"), 1L)), lit(0L)).as("k1"))
      val r2 = r1.crossJoin(broadcast(a1))
        .withColumn("b2", col("b1") - col("used1"))
        .withColumn("u2", col("ns") - col("k1"))
        .withColumn("q2",
          when(col("u2") > 0, expr("b2 div u2")).otherwise(lit(0L)))
        .withColumn("sat2", !col("sat1") && col("t") <= col("q2"))
      val a2 = r2.agg(
        coalesce(sum(when(col("sat2"), col("t"))), lit(0L)).as("used2"),
        coalesce(sum(when(col("sat2"), 1L)), lit(0L)).as("k2"))
      val r3 = r2.crossJoin(broadcast(a2))
        .withColumn("b3", col("b2") - col("used2"))
        .withColumn("u3", col("u2") - col("k2"))
        .withColumn("q3",
          when(col("u3") > 0, expr("b3 div u3")).otherwise(lit(0L)))
        .withColumn("sat3", !col("sat1") && !col("sat2") &&
          col("t") <= col("q3"))
      val a3 = r3.agg(
        coalesce(sum(when(col("sat3"), col("t"))), lit(0L)).as("used3"),
        coalesce(sum(when(col("sat3"), 1L)), lit(0L)).as("k3"))
      r3.crossJoin(broadcast(a3))
        .withColumn("b4", col("b3") - col("used3"))
        .withColumn("u4", col("u3") - col("k3"))
        .withColumn("q4",
          when(col("u4") > 0, expr("b4 div u4")).otherwise(lit(0L)))
        .select(col("source"), col("t").as("t_toks"),
          when(col("sat1") || col("sat2") || col("sat3"), col("t"))
            .otherwise(col("q4")).as("alloc"),
          when(col("sat1"), 1L).when(col("sat2"), 2L)
            .when(col("sat3"), 3L).otherwise(0L).as("sat_round"),
          (col("b4") - col("u4") * col("q4")).as("slack"))
        .withColumn("rate", when(col("t_toks") > 0,
          expr("cast((alloc * 1000000L + t_toks div 2) div t_toks " +
            "as bigint)") / lit(1e6)).otherwise(lit(0.0)))
    }, Some(s"""
      WITH tk AS (SELECT source,
                    CAST(sum(len($toksSql)) AS BIGINT) AS t
                  FROM documents GROUP BY 1),
      tot AS (SELECT CAST(sum(t) AS BIGINT) AS tt,
                     count(*) AS ns,
                     (CAST(sum(t) AS BIGINT) * 9) // 10 AS b1
              FROM tk),
      r1 AS (SELECT tk.*, tot.ns, tot.b1, tot.b1 // tot.ns AS q1,
                    tk.t <= tot.b1 // tot.ns AS sat1
             FROM tk CROSS JOIN tot),
      a1 AS (SELECT CAST(coalesce(sum(CASE WHEN sat1 THEN t END), 0)
                      AS BIGINT) AS used1,
                    CAST(coalesce(sum(CASE WHEN sat1 THEN 1 END), 0)
                      AS BIGINT) AS k1
             FROM r1),
      r2 AS (SELECT r1.*, b1 - used1 AS b2, ns - k1 AS u2,
                    CASE WHEN ns - k1 > 0
                      THEN (b1 - used1) // (ns - k1) ELSE 0 END AS q2
             FROM r1 CROSS JOIN a1),
      r2f AS (SELECT r2.*, NOT sat1 AND t <= q2 AS sat2 FROM r2),
      a2 AS (SELECT CAST(coalesce(sum(CASE WHEN sat2 THEN t END), 0)
                      AS BIGINT) AS used2,
                    CAST(coalesce(sum(CASE WHEN sat2 THEN 1 END), 0)
                      AS BIGINT) AS k2
             FROM r2f),
      r3 AS (SELECT r2f.*, b2 - used2 AS b3, u2 - k2 AS u3,
                    CASE WHEN u2 - k2 > 0
                      THEN (b2 - used2) // (u2 - k2) ELSE 0 END AS q3
             FROM r2f CROSS JOIN a2),
      r3f AS (SELECT r3.*, NOT sat1 AND NOT sat2 AND t <= q3 AS sat3
              FROM r3),
      a3 AS (SELECT CAST(coalesce(sum(CASE WHEN sat3 THEN t END), 0)
                      AS BIGINT) AS used3,
                    CAST(coalesce(sum(CASE WHEN sat3 THEN 1 END), 0)
                      AS BIGINT) AS k3
             FROM r3f),
      fin AS (SELECT r3f.*, b3 - used3 AS b4, u3 - k3 AS u4,
                     CASE WHEN u3 - k3 > 0
                       THEN (b3 - used3) // (u3 - k3) ELSE 0 END AS q4
              FROM r3f CROSS JOIN a3)
      SELECT source, t AS t_toks,
             CAST(CASE WHEN sat1 OR sat2 OR sat3 THEN t ELSE q4 END
               AS BIGINT) AS alloc,
             CAST(CASE WHEN sat1 THEN 1 WHEN sat2 THEN 2
                  WHEN sat3 THEN 3 ELSE 0 END AS BIGINT) AS sat_round,
             CAST(b4 - u4 * q4 AS BIGINT) AS slack,
             CASE WHEN t > 0 THEN
               CAST((CAST(CASE WHEN sat1 OR sat2 OR sat3 THEN t
                 ELSE q4 END AS BIGINT) * 1000000 + t // 2) // t
                 AS BIGINT) / 1e6
             ELSE 0.0 END AS rate
      FROM fin"""))

  /** p69: ANN recall report — the index-quality eval every serving
    * team runs before trusting an approximate index: per query vector,
    * recall@5 of the IVF index (p15, nprobe=2) against the exact
    * brute-force top-5 (p07), as an exact HALF_UP micro-fraction. Both
    * retrieval lists come from the CATALOG ENTRIES THEMSELVES (the run
    * lambdas compose Catalog.queries at execution time), so the report
    * evaluates exactly the artifacts the driver oracles — no shadow
    * reimplementation to drift. The oracle rebuilds both sides from
    * the shared ivf_topk CTE chain plus p07's exact chain over the
    * same `e`. 100 TB shape: the report itself is a (query, neighbor)
    * equi-join of two k·Q-row top-k tables — negligible next to the
    * retrievals it audits; the retrievals keep their own documented
    * shapes.
    */
  /** Per-query recall of the `found` neighbor lists against `exact`
    * (both on query_id, neighbor_id): n_exact, n_hits and recall, the
    * HALF_UP micro ratio.
    */
  private def recallReport(exact: DataFrame, found: DataFrame): DataFrame =
    exact.join(found.select(col("query_id"), col("neighbor_id"),
        lit(1L).as("hit")), Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hits"))
      .select(col("query_id"), col("n_exact"), col("n_hits"),
        (expr("cast((n_hits * 1000000L + n_exact div 2) div n_exact " +
          "as bigint)") / lit(1e6)).as("recall"))

  private[queries] def annRecallEntry: Entry =
    Entry("p69_ann_recall", (s, dir) => {
      val exact = Catalog.queries("p07_sim_topk")(s, dir)
        .select(col("query_id"), col("neighbor_id"))
      recallReport(exact, Catalog.queries("p15_sim_ivf")(s, dir))
    }, Some(s"""
      WITH ${ivfOracleCtes(2)},
      ex_sims AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               round(list_cosine_similarity(q.emb, n.emb), 6) AS cos_sim
             FROM e q JOIN e n ON q.vec_id != n.vec_id
             WHERE q.vec_id % 50 = 0),
      ex AS (SELECT query_id, neighbor_id FROM (
               SELECT *, $cosRankSql AS rk
               FROM ex_sims) WHERE rk <= 5),
      m AS (SELECT ex.query_id, count(*) AS n_exact,
              CAST(sum(CASE WHEN iv.neighbor_id IS NOT NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
            FROM ex LEFT JOIN ivf_topk iv
              USING (query_id, neighbor_id)
            GROUP BY 1)
      SELECT query_id, CAST(n_exact AS BIGINT) AS n_exact, n_hits,
             CAST((n_hits * 1000000 + n_exact // 2) // n_exact
               AS BIGINT) / 1e6 AS recall
      FROM m"""))

  /** p70: chunk-level duplication census — duplication measured at the
    * TRAINING-UNIT granularity (p29's 32-token chunks), not the
    * document: a chunk whose content hash appears in more than one
    * document is memorization surface even when neither document is a
    * near-dup of the other (quotes, boilerplate, shared passages —
    * exactly what doc-level dedup cannot see). Per source: chunk
    * instances, instances whose hash spans >1 doc, and the HALF_UP
    * micro duplication fraction. The chunk list comes from the p29
    * CATALOG ENTRY at run time (the p69 pattern — no shadow chunking
    * to drift) and the oracle shares p29's chunk CTE chain verbatim.
    * 100 TB shape: the hash-df groupBy and its join back are the
    * standard exact-dedup shuffles over the chunk table (~tokens/24
    * rows); the source rollup rides the doc join.
    */
  private[queries] def chunkDupCensusEntry: Entry =
    Entry("p70_chunk_dup_census", (s, dir) => {
      // persisted (r15 sweep, guide §2.4): the whole p29 chunking
      // chain (tokenize + stride windows + hashing) feeds both the
      // per-hash dim aggregate and the census join; the partial
      // aggregate fused into the dim side breaks exchange reuse, so
      // the chain ran twice per materialization
      val chunks = Catalog.queries("p29_chunk_stride")(s, dir)
        .select(col("doc_id"), col("chunk_hash"))
        .persistTracked()
      val dfh = chunks.groupBy(col("chunk_hash"))
        .agg(countDistinct(col("doc_id")).as("nd"))
      chunks.join(dfh, Seq("chunk_hash"))
        .join(docs(s, dir).select(col("doc_id"), col("source")),
          Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_chunks"),
          coalesce(sum(when(col("nd") > 1, 1L).otherwise(0L)), lit(0L))
            .as("n_dup"))
        .select(col("source"), col("n_chunks"), col("n_dup"),
          (expr("cast((n_dup * 1000000L + n_chunks div 2) div n_chunks " +
            "as bigint)") / lit(1e6)).as("dup_frac"))
    }, Some(s"""
      WITH $chunkOracleCtes,
      dfh AS (SELECT chunk_hash, count(DISTINCT doc_id) AS nd
              FROM chunks GROUP BY 1),
      agg AS (SELECT d.source, count(*) AS n_chunks,
                CAST(sum(CASE WHEN f.nd > 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_dup
              FROM chunks c
              JOIN dfh f USING (chunk_hash)
              JOIN documents d USING (doc_id)
              GROUP BY 1)
      SELECT source, CAST(n_chunks AS BIGINT) AS n_chunks, n_dup,
             CAST((n_dup * 1000000 + n_chunks // 2) // n_chunks
               AS BIGINT) / 1e6 AS dup_frac
      FROM agg"""))

  /** p71: per-split benchmark contamination — the release-gate rollup
    * of p24: which TRAIN/VAL/TEST fraction shares 3-gram shingles with
    * the held-out benchmark, under p66's cluster-keyed split. p24
    * scores documents; p71 answers the question a release review
    * actually asks ("is the eval split contaminated, and is train
    * dirtier than test?"). Contaminated docs come from the p24 CATALOG
    * ENTRY at run time; splits re-derive per-row from the shared split
    * rule keyed by the p66 cluster id. Counts integer, fraction
    * HALF_UP micro. 100 TB shape: p24's broadcast-bench join + p66's
    * component labels are the heavy parts and keep their shapes; the
    * rollup adds one 3-key groupBy.
    */
  private[queries] def splitContaminationEntry: Entry =
    Entry("p71_split_contamination", (s, dir) => {
      val contam = Catalog.queries("p24_contamination")(s, dir)
        .select(col("doc_id"), lit(1L).as("hit"))
      val splits = Catalog.queries("p66_split_leakfree")(s, dir)
        .select(col("doc_id"), col("split"))
      splits.filter(col("doc_id") % 100 =!= 0) // the universe p24 scores
        .join(contam, Seq("doc_id"), "left")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("hit")), lit(0L)).as("n_contam"))
        .select(col("split"), col("n_docs"), col("n_contam"),
          (expr("cast((n_contam * 1000000L + n_docs div 2) div n_docs " +
            "as bigint)") / lit(1e6)).as("contam_frac"))
    }, Some(s"""
      WITH RECURSIVE $lshManifestOracleCtes,
      spl AS (SELECT doc_id, ${splitSql("cluster_id")} AS split
              FROM manifest),
      $sh3OracleCte,
      bench AS (SELECT shingle FROM sh3 WHERE doc_id % 100 = 0
                GROUP BY shingle),
      hits AS (SELECT DISTINCT s.doc_id FROM sh3 s
               JOIN bench b USING (shingle) WHERE s.doc_id % 100 != 0),
      agg AS (SELECT spl.split, count(*) AS n_docs,
                CAST(sum(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0
                  END) AS BIGINT) AS n_contam
              FROM spl LEFT JOIN hits h USING (doc_id)
              WHERE spl.doc_id % 100 != 0
              GROUP BY 1)
      SELECT split, CAST(n_docs AS BIGINT) AS n_docs, n_contam,
             CAST((n_contam * 1000000 + n_docs // 2) // n_docs
               AS BIGINT) / 1e6 AS contam_frac
      FROM agg"""),
      tier = Tier.LshPairConsumer)

  /** p72: the dataset card — the single-row datasheet a corpus release
    * ships (Gebru et al., "Datasheets for Datasets", public): corpus
    * size in docs/tokens, source and language coverage, exact-dup
    * fraction (p01's norm-hash rule), the p31 split sizes, and the
    * held-out benchmark count. Every number is an exact integer or a
    * HALF_UP micro-fraction, assembled from per-row expressions and
    * two small aggregates — the whole card is TWO corpus scans (doc
    * stats + the dup-hash df) and a handful of one-row broadcasts.
    */
  private[queries] def datasetCardEntry: Entry =
    Entry("p72_dataset_card", (s, dir) => {
      val d = docs(s, dir)
      val dup = d.groupBy(md5(norm).as("h"))
        .agg(count(lit(1)).as("nc"))
        .agg(coalesce(sum(when(col("nc") > 1, col("nc"))), lit(0L))
          .as("n_dup_docs"))
      val base = d.select(
        col("doc_id"), col("lang"), col("source"),
        size(toks).cast("long").as("nt"),
        splitCol("doc_id").as("split"),
        (col("doc_id") % 100 === 0).cast("long").as("is_bench"))
      base.agg(
          count(lit(1)).as("n_docs"),
          sum(col("nt")).as("n_tokens"),
          countDistinct(col("source")).as("n_sources"),
          countDistinct(col("lang")).as("n_langs"),
          sum(when(col("split") === "train", 1L).otherwise(0L))
            .as("n_train"),
          sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"),
          sum(when(col("split") === "test", 1L).otherwise(0L))
            .as("n_test"),
          sum(col("is_bench")).as("n_bench"))
        .crossJoin(broadcast(dup))
        .select(col("n_docs"), col("n_tokens"), col("n_sources"),
          col("n_langs"), col("n_train"), col("n_val"), col("n_test"),
          col("n_bench"), col("n_dup_docs"),
          (expr("cast((n_dup_docs * 1000000L + n_docs div 2) div " +
            "n_docs as bigint)") / lit(1e6)).as("dup_frac"))
    }, Some(s"""
      WITH dup AS (SELECT CAST(coalesce(sum(CASE WHEN nc > 1 THEN nc
                     END), 0) AS BIGINT) AS n_dup_docs
                   FROM (SELECT md5($normSql) AS h, count(*) AS nc
                         FROM documents GROUP BY 1)),
      base AS (SELECT doc_id, lang, source,
                 CAST(len($toksSql) AS BIGINT) AS nt,
                 ${splitSql("doc_id")} AS split,
                 CASE WHEN doc_id % 100 = 0 THEN 1 ELSE 0 END AS is_bench
               FROM documents),
      agg AS (SELECT count(*) AS n_docs,
                CAST(sum(nt) AS BIGINT) AS n_tokens,
                count(DISTINCT source) AS n_sources,
                count(DISTINCT lang) AS n_langs,
                CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_train,
                CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_val,
                CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_test,
                CAST(sum(is_bench) AS BIGINT) AS n_bench
              FROM base)
      SELECT CAST(n_docs AS BIGINT) AS n_docs, n_tokens,
             CAST(n_sources AS BIGINT) AS n_sources,
             CAST(n_langs AS BIGINT) AS n_langs,
             n_train, n_val, n_test, n_bench, d.n_dup_docs,
             CAST((d.n_dup_docs * 1000000 + n_docs // 2) // n_docs
               AS BIGINT) / 1e6 AS dup_frac
      FROM agg CROSS JOIN dup d"""))

  /** p73: document-length quantiles per source via the a42 log2
    * sketch — the "what context length fits this corpus" stat behind
    * p20's packing budget and p29's chunk size, computed the bounded
    * way: token counts bin by bit-length (integer log2, no libm),
    * the (source, bucket) count table is ≤64 rows per source at ANY
    * corpus size and count-mergeable, and p50/p95 doc lengths come
    * from a42's exact rank rule with the [2^(b−1), 2^b − 1] bracket
    * (here in TOKEN units, not micro). ONE map-side-combined shuffle;
    * extraction over sketch rows only.
    */
  private[queries] def docLenQuantilesEntry: Entry = {
    import org.apache.spark.sql.expressions.Window
    val qs = Seq(50, 95)
    Entry("p73_doclen_quantiles", (s, dir) => {
      val sketch = docs(s, dir)
        .select(col("source"), size(toks).cast("long").as("nt"))
        .withColumn("bkt", when(col("nt") <= 0L, lit(0))
          .otherwise(length(bin(col("nt")))))
        .groupBy(col("source"), col("bkt"))
        .agg(count(lit(1)).as("cnt"))
      val wCum = Window.partitionBy("source").orderBy("bkt")
      val wAll = Window.partitionBy("source")
      sketch
        .withColumn("cum", sum(col("cnt")).over(wCum))
        .withColumn("n", sum(col("cnt")).over(wAll))
        .withColumn("q", explode(array(qs.map(lit(_)): _*)))
        .filter(col("cum") >= expr("(n * q + 99) div 100"))
        .groupBy(col("source"), col("q"))
        .agg(min(col("bkt")).as("q_bucket"), max(col("n")).as("n"))
        .select(col("source"), col("q").cast("long").as("q"),
          col("n"), col("q_bucket").cast("long").as("q_bucket"),
          when(col("q_bucket") === 0, lit(0L))
            .otherwise(pow(lit(2.0), col("q_bucket") - 1).cast("long"))
            .as("len_lo"),
          when(col("q_bucket") === 0, lit(0L))
            .otherwise(pow(lit(2.0), col("q_bucket")).cast("long") - 1)
            .as("len_hi"))
    }, Some(s"""
      WITH m AS (SELECT source,
                   CAST(len($toksSql) AS BIGINT) AS nt
                 FROM documents),
      b AS (SELECT source,
              CASE WHEN nt <= 0 THEN 0 ELSE length(bin(nt)) END AS bkt
            FROM m),
      sk AS (SELECT source, bkt, count(*) AS cnt FROM b GROUP BY 1, 2),
      c AS (SELECT source, bkt, cnt,
              sum(cnt) OVER (PARTITION BY source ORDER BY bkt) AS cum,
              sum(cnt) OVER (PARTITION BY source) AS n
            FROM sk),
      qs AS (SELECT unnest([${qs.mkString(", ")}]) AS q),
      hit AS (SELECT c.source, qs.q,
                CAST(min(c.bkt) AS BIGINT) AS q_bucket,
                CAST(max(c.n) AS BIGINT) AS n
              FROM c CROSS JOIN qs
              WHERE c.cum >= (c.n * qs.q + 99) // 100
              GROUP BY 1, 2)
      SELECT source, CAST(q AS BIGINT) AS q, n, q_bucket,
             CAST(CASE WHEN q_bucket = 0 THEN 0
                  ELSE CAST(pow(2.0, q_bucket - 1) AS BIGINT) END
               AS BIGINT) AS len_lo,
             CAST(CASE WHEN q_bucket = 0 THEN 0
                  ELSE CAST(pow(2.0, q_bucket) AS BIGINT) - 1 END
               AS BIGINT) AS len_hi
      FROM hit"""))
  }

  /** p74: contamination span EXCISION — p24/p34 flag contaminated
    * documents; this op produces the CLEANED corpus, the step real
    * decontamination pipelines actually ship: every token covered by a
    * benchmark 3-gram is cut from the training document, and the
    * output reports what was removed (hit grams, removed tokens,
    * contiguous excised spans) plus the md5 of the cleaned text so the
    * surgery itself is oracle-checkable.
    *
    * 100 TB shape: the benchmark shingle set broadcasts (bench docs
    * are a fixed tiny fraction); the training side is ONE scan whose
    * gram stream is hash longs (xxhash64 internal join identity,
    * p03/p24's discipline — the oracle joins on the gram STRINGS);
    * covered-position sets aggregate map-side to one small array per
    * CONTAMINATED doc only, and the excision itself is a per-row array
    * lambda after an equi-join back to the doc table — untouched
    * documents never materialize a token array copy. One-pass
    * semantics, documented: excision can create a new adjacency
    * across a cut; re-screening is a second application of the same
    * operator.
    */
  /** p74's covered-positions frame — the RIGHT side of the left join
    * the excision HOFs evaluate over. Grouped by doc_id, so the join
    * is 1:1 and the CodegenFallback HOFs run per ROW, not per
    * candidate; exposed `private[graft]` so ScalePropertiesSpec's
    * fallback-allowlist test asserts that uniqueness at runtime
    * instead of trusting this comment.
    */
  private[graft] def p74CovFrame(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val bench = d.filter(col("doc_id") % 100 === 0)
      .select(explode(array_distinct(
        TextHashFunctions.ngram_hashes(toks, 3))).as("shingle"))
      .distinct()
    val train = d.filter(col("doc_id") % 100 =!= 0)
    // unhinted: bench is corpus-derived (distinct shingles of the
    // held-out 1%) — AQE picks broadcast from its true runtime size;
    // the constant-size screen at 100 TB is p34's bloom bitmap
    val hits = train
      .select(col("doc_id"),
        posexplode(TextHashFunctions.ngram_hashes(toks, 3)))
      .toDF("doc_id", "gpos", "shingle")
      .join(bench, "shingle")
    // gram at 0-based gpos covers 1-based token positions
    // gpos+1 .. gpos+3; a doc's covered set is tiny (hits x 3)
    hits
      .select(col("doc_id"), col("gpos"),
        explode(expr("sequence(gpos + 1, gpos + 3)")).as("tpos"))
      .groupBy("doc_id")
      .agg(countDistinct(col("gpos")).as("n_hits"),
        array_sort(collect_set(col("tpos"))).as("cov"))
  }

  private[queries] def decontamExciseEntry: Entry =
    Entry("p74_decontam_excise", (s, dir) => {
      val d = docs(s, dir)
      val train = d.filter(col("doc_id") % 100 =!= 0)
      val cov = p74CovFrame(s, dir)
      train.select(col("doc_id"), norm.as("nt"), toks.as("tk"))
        .join(cov, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          coalesce(size(col("cov")).cast("long"), lit(0L))
            .as("n_removed"),
          // maximal contiguous runs: a covered position opens a span
          // iff its predecessor position is not covered (element_at is
          // 1-based, so at 0-based lambda index i it IS the previous)
          coalesce(expr("size(filter(cov, (t, i) -> i = 0 OR " +
            "element_at(cov, i) != t - 1))").cast("long"), lit(0L))
            .as("n_spans"),
          md5(when(col("cov").isNull, col("nt"))
            .otherwise(expr("concat_ws(' ', filter(tk, (t, i) -> " +
              "NOT array_contains(cov, i + 1)))")).cast("binary"))
            .as("cleaned_md5"))
    }, Some(s"""
      WITH docs AS (SELECT doc_id, $normSql AS nt, $toksSql AS toks
                    FROM documents),
      bench AS (SELECT DISTINCT array_to_string(toks[i:i+2], ' ') AS shingle
                FROM docs, UNNEST(CASE WHEN len(toks) >= 3
                  THEN range(1, len(toks)-1) ELSE [] END) t(i)
                WHERE doc_id % 100 = 0),
      g AS (SELECT d.doc_id, i AS gpos1,
                   array_to_string(d.toks[i:i+2], ' ') AS shingle
            FROM docs d, UNNEST(CASE WHEN len(d.toks) >= 3
              THEN range(1, len(d.toks)-1) ELSE [] END) t(i)
            WHERE d.doc_id % 100 != 0),
      hits AS (SELECT g.doc_id, g.gpos1,
                      range(g.gpos1, g.gpos1 + 3) AS covered
               FROM g JOIN bench USING (shingle)),
      cov AS (SELECT doc_id, count(*) AS n_hits,
                     list_sort(list_distinct(flatten(list(covered)))) AS cov
              FROM hits GROUP BY doc_id)
      SELECT d.doc_id,
             coalesce(c.n_hits, 0) AS n_hits,
             CAST(coalesce(len(c.cov), 0) AS BIGINT) AS n_removed,
             CAST(CASE WHEN c.cov IS NULL THEN 0
                  ELSE len(list_filter(c.cov, (t, i) ->
                    i = 1 OR c.cov[i-1] != t - 1)) END AS BIGINT)
               AS n_spans,
             md5(CASE WHEN c.cov IS NULL THEN d.nt
                 -- coalesce: DuckDB's array_to_string([]) is NULL where
                 -- Spark's concat_ws is '' — a FULLY-excised doc's
                 -- cleaned text is the empty string (found by the
                 -- sf0.1 sweep; sf0.01 has no fully-covered doc)
                 ELSE coalesce(array_to_string(list_filter(d.toks,
                   (t, i) -> NOT list_contains(c.cov, i)), ' '), '')
                 END) AS cleaned_md5
      FROM docs d LEFT JOIN cov c USING (doc_id)
      WHERE d.doc_id % 100 != 0"""))

  /** p75: LSH band-bucket FIRST-CLAIM — the batch twin of
    * [[graft.streaming.StreamingNearDup]]: per (band, bucket) of the
    * p04 signature pipeline, the minimum doc_id claims the bucket and
    * every other occupant is a near-dup hit against it. This is the
    * band-granular primitive the online dedup stream emits (a
    * doc-level flag is any-of over a doc's 16 rows); batch == stream
    * under id-ordered ingest is pinned in StreamingNearDupSpec.
    * 100 TB shape: signature build is one scan; the claim is a window
    * min over the banded table keyed by (band, bucket) — exactly the
    * p04 candidate join's shuffle, minus the pair blow-up. Deliberately
    * UNCAPPED (oracle reads the raw banded0 CTE): p04's occupancy cap
    * exists to bound B² candidate pairs, but a claim is a linear
    * window-min — an over-cap boilerplate bucket still claims exactly
    * one survivor, which is what the online dedup stream needs.
    */
  private[queries] def neardupFirstClaimEntry: Entry = {
    import org.apache.spark.sql.expressions.Window
    Entry("p75_neardup_firstclaim", (s, dir) => {
      val sigs = docs(s, dir).repartition(col("doc_id"))
        .withColumn("sh", TextHashFunctions.word_ngrams(toks, 5))
        .filter(size(col("sh")) > 0)
        .withColumn("sig", TextHashFunctions.md5_minhash(col("sh")))
        .select(col("doc_id"), col("sig"))
      val banded = sigs.select(col("doc_id"),
        explode(expr("transform(sequence(0, 15), b -> " +
          "struct(b as band, slice(sig, b * 4 + 1, 4) as bucket))"))
          .as("bb"))
        .select(col("doc_id"), col("bb.band").as("band"),
          col("bb.bucket").as("bucket"))
      val w = Window.partitionBy("band", "bucket")
      banded
        .withColumn("first_doc", min(col("doc_id")).over(w))
        .select(col("doc_id"), col("band").cast("long").as("band"),
          col("first_doc"),
          (col("doc_id") === col("first_doc")).as("is_first"))
    }, Some(s"""
      WITH $lshPairsOracleCtes
      SELECT doc_id, CAST(band AS BIGINT) AS band,
             min(doc_id) OVER (PARTITION BY band, bucket) AS first_doc,
             doc_id = min(doc_id) OVER (PARTITION BY band, bucket)
               AS is_first
      FROM banded0"""))
  }

  /** p62's audit core over any (text, doc_id, lang) frame — exposed so
    * the spec can pin the cross_lingual flag on a synthetic frame with
    * an injected mislabeled duplicate (the real corpus has none).
    */
  private[graft] def dupLangAudit(d: DataFrame): DataFrame =
    d.select(md5(norm).as("content_hash"), col("doc_id"), col("lang"))
      .groupBy("content_hash")
      .agg(count(lit(1)).as("n_copies"),
        min("doc_id").as("first_doc"),
        expr("size(array_distinct(collect_list(lang)))").cast("long")
          .as("n_langs"),
        array_join(array_sort(expr("array_distinct(collect_list(lang))")),
          ",").as("langs"))
      .withColumn("cross_lingual", col("n_langs") > 1)

  /** p59's product-quantization geometry: M subspaces of PqSub dims
    * each (M·PqSub = the embedding dim). lazy: referenced while
    * `entries` (declared above) constructs.
    */
  private[graft] lazy val PqM = 4
  private[graft] lazy val PqSub = 16

  /** p59's codebook is a FIXED K=16 centroids per subspace (seeds
    * vec_id % 31 = 0 below this bound) — the codebook must NOT scale
    * with the corpus: PQ's point is a constant-size codebook over an
    * arbitrarily large collection, and a corpus-growing K would also
    * grow the encode join linearly. lazy: referenced while `entries`
    * constructs.
    */
  private[graft] lazy val PqSeedBound = 31L * 16

  /** Two-phase distributed prefix sum giving each doc its coordinates
    * in the budget-sliced concatenated token stream. Exposed so the
    * spec can pin it against the naive single-window cumsum.
    */
  private[queries] def packSequences(d: DataFrame): DataFrame = {
    // persisted: phases 1 and 2 both read this slim (id, count, bucket)
    // projection; without it the table is scanned AND re-tokenized twice
    val base = d
      .select(col("doc_id"), size(toks).cast("long").as("n_toks"))
      .withColumn("bucket", expr(s"doc_id div $PackBucket"))
      .persistTracked()
    // phase 1: per-bucket totals, exclusive prefix over the tiny bucket
    // table (the only unpartitioned window — docs/bucketWidth rows)
    val bases = base.groupBy("bucket").agg(sum(col("n_toks")).as("btot"))
      .withColumn("base", coalesce(sum(col("btot")).over(
        Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bucket", "base")
    // phase 2: bucket base + local running sum, partitioned by bucket
    val wB = Window.partitionBy("bucket").orderBy("doc_id")
    base.join(broadcast(bases), "bucket")
      .withColumn("start_tok", col("base") +
        coalesce(sum(col("n_toks")).over(
          wB.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("doc_id"), col("n_toks"),
        expr(s"start_tok div $PackBudget").as("pack_id"),
        (col("start_tok") % PackBudget).as("pack_offset"),
        ((col("start_tok") % PackBudget) + col("n_toks") > PackBudget)
          .as("spans_boundary"))
  }

  /** p76: greedy k-center CORESET selection over the embedding table —
    * Gonzalez's farthest-point traversal, the data-SELECTION primitive
    * a curation pipeline uses to pick a small diverse subset (seed
    * pool for labeling, prototype set for dedup thresholds, probe set
    * for eval). Seed = min vec_id; each later round picks the vector
    * farthest (max min-L2²-distance, tie → min id) from the chosen
    * set, which carries the classic 2-approximation guarantee for the
    * k-center objective [Gonzalez 1985]. All distances are fixed-point
    * integer micro² (|x|<100 domain → per-dim square ≤ 4e16, 64-dim
    * sum ≤ 2.6e18, inside int64), so every selection and tie is exact
    * on both engines — the 8 rounds unroll into DuckDB CTEs the same
    * way p52's PageRank iterations do.
    *
    * 100 TB shape: each round is one broadcast (the single new center)
    * against the distance spine + one global top-1 (TakeOrdered — a
    * per-partition top-1 then a driver-side merge of 1-row partials,
    * not a sort), so R centers cost R linear scans of a slim
    * (id, vec, d2min) projection. The spine is re-materialized through
    * an eager `localCheckpoint` EVERY round — the [[graft.operators.Components]] rule:
    * `state(r)` references `state(r-1)` twice (once through the picked
    * center, once directly), so without per-round lineage truncation
    * the logical plan doubles every iteration (2^R subtrees; the plain
    * `persist` variant OOMed the optimizer before the first action
    * fired). On a cluster, swap `checkpoint(eager)` in for
    * fault-tolerant truncation exactly as [[graft.operators.Components]]'s cut does.
    * A duplicate of an already-chosen center can never be selected
    * (d2min > 0 guard), so degenerate all-identical corpora terminate
    * with fewer than R centers on both engines identically.
    */
  private[queries] def coresetKcenterEntry: Entry = {
    val R = 8
    def d2c(ei: Column, ci: Column): Column =
      graft.functions.SeriesKernelFunctions.int_sq_l2(ei, ci)
    def d2duck(a: String, b: String): String =
      s"list_sum(list_transform(range(1, len($a)+1), " +
        s"i -> ($a[i]-$b[i])*($a[i]-$b[i])))"
    Entry("p76_coreset_kcenter", (s, dir) => {
      // per-round lineage cut — see scaladoc; local mode has no
      // checkpoint dir, so the ephemeral variant. Lazy: the plan is
      // replaced by the checkpointed RDD either way (that is what
      // stops the 2^R doubling); eager only adds a driver-blocking
      // barrier per round (the p52 A/B measured eager ~17% slower)
      def cut(df: DataFrame): DataFrame = df.localCheckpoint(eager = false)
      // materialized once: R selection rounds + the final assignment
      // all re-read this fixed-point projection
      val e = cut(embs(s, dir)
        .withColumn("ei",
          Micro.vec("emb"))
        .select(col("vec_id"), col("ei")))
      val seed = e.orderBy("vec_id").limit(1)
      var centers = cut(seed.select(col("vec_id").as("cid"),
        col("ei").as("ci"), lit(1L).as("sel_round"), lit(0L).as("sel_d2")))
      var state = cut(e.crossJoin(broadcast(seed.select(col("ei").as("ci"))))
        .select(col("vec_id"), col("ei"),
          d2c(col("ei"), col("ci")).as("d2min")))
      for (r <- 2 to R) {
        // 1 row: the farthest-from-the-chosen-set vector
        val next = cut(state.filter(col("d2min") > 0)
          .orderBy(col("d2min").desc, col("vec_id")).limit(1))
        centers = cut(centers.union(next.select(col("vec_id").as("cid"),
          col("ei").as("ci"), lit(r.toLong).as("sel_round"),
          col("d2min").as("sel_d2"))))
        state = cut(state
          .crossJoin(broadcast(next.select(col("ei").as("ci"))))
          .select(col("vec_id"), col("ei"),
            least(col("d2min"), d2c(col("ei"), col("ci"))).as("d2min")))
      }
      val cents = centers
      // final assignment: nearest center (tie → min cid), exact ints
      val asg = e.crossJoin(broadcast(cents.select(col("cid"), col("ci"))))
        .select(col("vec_id"),
          struct(d2c(col("ei"), col("ci")).as("d2"), col("cid")).as("dc"))
        .groupBy("vec_id").agg(min(col("dc")).as("m"))
        .select(col("m.cid").as("cid"), col("m.d2").as("d2"))
      val cells = asg.groupBy("cid")
        .agg(count(lit(1)).as("n_assigned"), max(col("d2")).as("radius"))
      cents.join(cells, "cid")
        .select(col("sel_round"), col("cid").as("vec_id"), col("sel_d2"),
          col("n_assigned"), col("radius"),
          round(sqrt(col("radius").cast("double")) / lit(1e6), 6)
            .as("radius_l2"))
    }, Some {
      val rounds = (2 to R).map { r =>
        s"""c$r AS (SELECT vec_id AS cid, ei AS ci,
             CAST($r AS BIGINT) AS sel_round,
             CAST(d2min AS BIGINT) AS sel_d2
           FROM m${r - 1} WHERE d2min > 0
           ORDER BY d2min DESC, vec_id LIMIT 1),
      m$r AS (SELECT v.vec_id, v.ei,
             CAST(least(v.d2min, ${d2duck("v.ei", "c.ci")}) AS BIGINT)
               AS d2min
           FROM m${r - 1} v, c$r c)"""
      }.mkString(",\n      ")
      val centerUnion = (1 to R)
        .map(r => s"SELECT cid, ci, sel_round, sel_d2 FROM c$r")
        .mkString(" UNION ALL ")
      s"""
      WITH e AS (SELECT vec_id,
                   ${Micro.vecSql("embedding::DOUBLE[]")} AS ei
                 FROM embeddings),
      c1 AS (SELECT vec_id AS cid, ei AS ci, CAST(1 AS BIGINT) AS sel_round,
               CAST(0 AS BIGINT) AS sel_d2
             FROM e ORDER BY vec_id LIMIT 1),
      m1 AS (SELECT v.vec_id, v.ei,
               CAST(${d2duck("v.ei", "c.ci")} AS BIGINT) AS d2min
             FROM e v, c1 c),
      $rounds,
      centers AS ($centerUnion),
      dists AS (SELECT v.vec_id, c.cid, c.sel_round, c.sel_d2,
                  CAST(${d2duck("v.ei", "c.ci")} AS BIGINT) AS d2
                FROM e v, centers c),
      asg AS (SELECT cid, d2 FROM (SELECT cid, d2,
                row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid)
                  AS rk FROM dists) WHERE rk = 1),
      cells AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_assigned,
                  CAST(max(d2) AS BIGINT) AS radius
                FROM asg GROUP BY cid)
      SELECT c.sel_round, c.cid AS vec_id, c.sel_d2, l.n_assigned,
             l.radius,
             round(sqrt(CAST(l.radius AS DOUBLE)) / 1e6, 6) AS radius_l2
      FROM centers c JOIN cells l USING (cid)"""
    })
  }

  /** p77: cross-SOURCE corpus overlap matrix from bottom-k (KMV)
    * shingle sketches — the snapshot-overlap planner a curator runs
    * BEFORE any pairwise dedup: "how much of src_a's 5-gram content
    * does src_b already carry?" (the CommonCrawl-snapshot-overlap
    * question). Per source the [[graft.functions.KmvSketch]] bounded
    * aggregate keeps the K=128 smallest distinct 32-bit shingle
    * hashes; for a pair (A,B) the bottom-K of the sketch UNION is an
    * unbiased sample of A∪B, so Broder's estimator
    * `|bottom-K(A∪B) ∩ A ∩ B| / |bottom-K(A∪B)|` estimates Jaccard
    * with ~1/√K error — without ever co-shuffling the corpora.
    *
    * 100 TB shape: the ONLY corpus-sized work is one map-side-combined
    * groupBy(source) with constant 128-long state per partition (the
    * p25 sketch); everything after runs on S×K ≤ a few thousand rows
    * (S sources), so the S² pair stage is a declared small-dims cross
    * — the p59 PQ-codebook argument. The DuckDB oracle replays the
    * sketch rule exactly (bottom-k of distinct hashes = row_number ≤ K
    * over the distinct (source, hash) set, the p25 equivalence).
    */
  private[queries] def sourceOverlapEntry: Entry = {
    import graft.functions.{HashScheme => H}
    val K = 128
    Entry("p77_source_overlap_kmv", (s, dir) => {
      // persisted: the pair-union stage reads the sketch rows twice
      val sk = docs(s, dir)
        .select(col("source"),
          explode(TextHashFunctions.word_ngrams(toks, 5)).as("shingle"))
        .select(col("source"), expr(H.h32Spark("shingle")).as("h"))
        .groupBy("source")
        .agg(SketchFunctions.kmv_sketch(col("h"), K).as("sk"))
        .select(col("source"), explode(col("sk")).as("h"))
        .persistTracked()
      val srcs = sk.select("source").distinct()
      val sp = srcs.toDF("src_a")
        .join(srcs.toDF("src_b"), col("src_a") < col("src_b"))
      val ua = sp.join(sk.toDF("src_a", "h"), Seq("src_a"))
        .select(col("src_a"), col("src_b"), col("h"),
          lit(1).as("in_a"), lit(0).as("in_b"))
      val ub = sp.join(sk.toDF("src_b", "h"), Seq("src_b"))
        .select(col("src_a"), col("src_b"), col("h"),
          lit(0).as("in_a"), lit(1).as("in_b"))
      val u = ua.union(ub).groupBy("src_a", "src_b", "h")
        .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
      val wu = Window.partitionBy("src_a", "src_b").orderBy("h")
      u.withColumn("rk", row_number().over(wu)).filter(col("rk") <= K)
        .groupBy("src_a", "src_b")
        .agg(count(lit(1)).as("k_used"),
          sum(when(col("in_a") === 1 && col("in_b") === 1, 1L)
            .otherwise(0L)).as("n_both"))
        .select(col("src_a"), col("src_b"), col("k_used"), col("n_both"),
          round(col("n_both").cast("double") /
            col("k_used").cast("double"), 6).as("est_jaccard"))
    }, Some(s"""
      WITH docs AS (SELECT source, $toksSql AS toks FROM documents),
      sh AS (SELECT DISTINCT source,
               ${H.h32Duck("array_to_string(toks[i:i+4], ' ')")} AS h
             FROM docs, UNNEST(CASE WHEN len(toks) >= 5
               THEN range(1, len(toks)-3) ELSE [] END) AS t(i)),
      sk AS (SELECT source, h FROM (SELECT source, h,
               row_number() OVER (PARTITION BY source ORDER BY h) AS rn
             FROM sh) WHERE rn <= $K),
      srcs AS (SELECT DISTINCT source FROM sk),
      sp AS (SELECT a.source AS src_a, b.source AS src_b
             FROM srcs a JOIN srcs b ON a.source < b.source),
      u AS (SELECT src_a, src_b, h,
              max(in_a) AS in_a, max(in_b) AS in_b FROM (
              SELECT p.src_a, p.src_b, s.h, 1 AS in_a, 0 AS in_b
              FROM sp p JOIN sk s ON s.source = p.src_a
              UNION ALL
              SELECT p.src_a, p.src_b, s.h, 0 AS in_a, 1 AS in_b
              FROM sp p JOIN sk s ON s.source = p.src_b)
            GROUP BY src_a, src_b, h),
      t AS (SELECT * FROM (SELECT *,
              row_number() OVER (PARTITION BY src_a, src_b ORDER BY h)
                AS rk FROM u) WHERE rk <= $K)
      SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS k_used,
             CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_both,
             round(CAST(sum(CASE WHEN in_a = 1 AND in_b = 1
                 THEN 1 ELSE 0 END) AS DOUBLE) /
               CAST(count(*) AS DOUBLE), 6) AS est_jaccard
      FROM t GROUP BY src_a, src_b"""))
  }

  /** p78: hard-NEGATIVE mining for contrastive training — for each
    * query vector (the p07 sample, vec_id % 50 = 0) the 3 most-similar
    * vectors carrying a DIFFERENT label (the negatives an embedding
    * model trains hardest against), each with the query's best
    * same-label similarity (`pos_sim`) and the triplet margin
    * `pos_sim − neg_sim` — the quantity a curriculum thresholds on
    * (margin < 0 ⇒ the negative currently outranks every positive).
    * A query whose label has no other member gets the sentinel
    * pos_sim = −2 (outside cosine's [−1, 1]), never NULL.
    *
    * Scale: the sim stage is p07's declared brute-force exact baseline
    * (the mining-quality audit anchor); a production run swaps it for
    * the p15 IVF candidate generator and audits recall p69-style —
    * the downstream margin/rank logic is unchanged. The pair table is
    * persisted because negatives and positives both read it.
    */
  private[queries] def hardNegativesEntry: Entry =
    Entry("p78_hard_negatives", (s, dir) => {
      val e = embs(s, dir)
      val q = e.filter(col("vec_id") % 50 === 0)
        .toDF("query_id", "qlabel", "qemb")
      val sims = q.join(e.toDF("neighbor_id", "nlabel", "nemb"),
          col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("qlabel"), col("neighbor_id"),
          col("nlabel"),
          round(VectorOps.cosine(col("qemb"), col("nemb")), 6)
            .as("cos_sim"))
        .persistTracked()
      val pos = sims.filter(col("nlabel") === col("qlabel"))
        .groupBy("query_id").agg(max(col("cos_sim")).as("pos_sim"))
      sims.filter(col("nlabel") =!= col("qlabel"))
        .transform(topKByCos(_, 3))
        .join(pos, Seq("query_id"), "left")
        .select(col("query_id"), col("neighbor_id").as("neg_id"),
          col("rk"), col("cos_sim").as("neg_sim"),
          coalesce(col("pos_sim"), lit(-2.0)).as("pos_sim"),
          round(coalesce(col("pos_sim"), lit(-2.0)) - col("cos_sim"), 6)
            .as("margin"))
    }, Some(s"""
      WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb
                 FROM embeddings),
      sims AS (SELECT q.vec_id AS query_id, q.label AS qlabel,
                 n.vec_id AS neighbor_id, n.label AS nlabel,
                 round(list_cosine_similarity(q.emb, n.emb), 6) AS cos_sim
               FROM e q JOIN e n ON q.vec_id != n.vec_id
               WHERE q.vec_id % 50 = 0),
      pos AS (SELECT query_id, max(cos_sim) AS pos_sim FROM sims
              WHERE nlabel = qlabel GROUP BY query_id),
      neg AS (SELECT query_id, neighbor_id, cos_sim,
                $cosRankSql AS rk
              FROM sims WHERE nlabel != qlabel)
      SELECT n.query_id, n.neighbor_id AS neg_id, n.rk,
             n.cos_sim AS neg_sim,
             coalesce(p.pos_sim, -2.0) AS pos_sim,
             round(coalesce(p.pos_sim, -2.0) - n.cos_sim, 6) AS margin
      FROM neg n LEFT JOIN pos p USING (query_id) WHERE n.rk <= 3"""))

  // p79 knobs: number of BPE merge rounds learned, and the
  // word-frequency vocabulary cap the learner trains on (classic BPE
  // trains on the (word -> count) vocab, not the raw corpus — the one
  // corpus-sized step is the token count; everything after is
  // vocab-sized)
  // lazy: referenced while `entries` (declared above) constructs
  private[queries] lazy val BpeRounds = 6
  private[queries] lazy val BpeVocabCap = 2000

  // char split guarded for the empty word: sequence(1, 0) DESCENDS in
  // Spark ([1, 0]) and substring('', i, 1) = '' would fabricate
  // two empty symbols where DuckDB's range(1, 1) yields none
  private lazy val bpeCharsSql: String =
    """CASE WHEN length(word) = 0 THEN cast(array() as array<string>)
       ELSE transform(sequence(1, length(word)),
              i -> substring(word, i, 1)) END"""

  /** Greedy leftmost non-overlapping merge of the (ml, mr) pair over
    * `syms`, as a per-row fold; null ml/mr (no pair this round) makes
    * every match condition false, so the word passes through
    * unchanged.
    */
  private lazy val bpeRewriteSql: String =
    """CASE WHEN size(syms) < 2 THEN syms ELSE
       aggregate(sequence(0, size(syms) - 1),
         named_struct('acc', cast(array() as array<string>),
                      'skip', false),
         (st, i) -> CASE
           WHEN st.skip THEN named_struct('acc', st.acc, 'skip', false)
           WHEN i < size(syms) - 1
                AND element_at(syms, i + 1) = ml
                AND element_at(syms, i + 2) = mr
             THEN named_struct('acc',
               concat(st.acc, array(concat(ml, mr))), 'skip', true)
           ELSE named_struct('acc',
             concat(st.acc, array(element_at(syms, i + 1))),
             'skip', false) END,
         st -> st.acc) END"""

  /** DuckDB twin of [[bpeRewriteSql]]: one round of greedy leftmost
    * merge of relation `in` (word, [carry,] syms) by the 0-or-1-row
    * pair relation `b` (ml, mr), stated relationally — overlapping
    * matches only chain when ml = mr, so merge starts are the EVEN
    * offsets within each maximal run of consecutive match positions.
    * Every CTE is MATERIALIZED: DuckDB inlines plain CTEs per
    * reference, which re-scans the whole chain ~5^rounds times.
    */
  private def bpeRewriteCtes(in: String, out: String, b: String,
      tag: String, carry: String): String = s"""
      e$tag AS MATERIALIZED (SELECT word, t.i AS pos, syms[t.i] AS sym
              FROM $in, UNNEST(range(1, len(syms)+1)) AS t(i)),
      mm$tag AS MATERIALIZED (SELECT w.word, t.i AS pos
               FROM $in w, $b b, UNNEST(range(1, len(w.syms))) AS t(i)
               WHERE w.syms[t.i] = b.ml AND w.syms[t.i+1] = b.mr),
      s$tag AS MATERIALIZED (SELECT word, pos FROM (
                SELECT word, pos, row_number() OVER (
                  PARTITION BY word, pos - rn ORDER BY pos) AS o
                FROM (SELECT word, pos, row_number() OVER (
                        PARTITION BY word ORDER BY pos) AS rn FROM mm$tag))
              WHERE o % 2 = 1),
      g$tag AS MATERIALIZED (SELECT e.word,
                list(CASE WHEN s.pos IS NOT NULL
                       THEN (SELECT ml || mr FROM $b)
                       ELSE e.sym END ORDER BY e.pos)
                  FILTER (WHERE d.pos IS NULL) AS syms
              FROM e$tag e
              LEFT JOIN s$tag s ON s.word = e.word AND s.pos = e.pos
              LEFT JOIN s$tag d ON d.word = e.word AND d.pos = e.pos - 1
              GROUP BY e.word),
      $out AS MATERIALIZED (SELECT w.word, ${carry}coalesce(g.syms, w.syms)
                AS syms
              FROM $in w LEFT JOIN g$tag g USING (word))"""

  /** Learning chain shared by the p79/p80 oracles: capped vocab w0 and
    * rounds (p_r pair counts, b_r winner, w_r rewritten state).
    */
  private def bpeLearnCtes: String = {
    def roundCte(r: Int): String = s"""
      p$r AS MATERIALIZED (SELECT syms[i] AS ml, syms[i+1] AS mr,
                sum(cnt) AS pair_n
              FROM w${r - 1}, UNNEST(range(1, len(syms))) AS t(i)
              GROUP BY 1, 2),
      b$r AS MATERIALIZED (SELECT ml, mr, CAST(pair_n AS BIGINT) AS pair_n
              FROM p$r ORDER BY pair_n DESC, ml, mr LIMIT 1),
      ${bpeRewriteCtes(s"w${r - 1}", s"w$r", s"b$r", s"$r", "w.cnt, ")}"""
    s"""
      WITH v AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS cnt
                 FROM (SELECT unnest($toksSql) AS word FROM documents)
                 GROUP BY word ORDER BY cnt DESC, word LIMIT $BpeVocabCap),
      w0 AS MATERIALIZED (SELECT word, cnt,
               list_transform(range(1, length(word)+1),
                 i -> substring(word, i, 1)) AS syms
             FROM v),
      ${(1 to BpeRounds).map(roundCte).mkString(",")}"""
  }

  /** p79: byte-pair-encoding MERGE LEARNING — the first
    * [[BpeRounds]] merges of the tokenizer-training algorithm
    * (Sennrich et al. 2016), the canonical "train the tokenizer on the
    * corpus" step of an LLM data pipeline. Per round: count adjacent
    * symbol pairs over the (word, count) vocab (overlaps counted, the
    * classic ranking statistic), pick the most frequent pair
    * (ties → lexicographic), and rewrite every word by GREEDY
    * LEFTMOST non-overlapping merge; emitted per round: the pair, its
    * ranking count, the weighted number of merges actually performed,
    * and the remaining weighted symbol mass.
    *
    * Engine-exactness: each merge shrinks a word by exactly one
    * symbol, so merged_n = Σ cnt·(len_before − len_after) and
    * symbols_after need no separate match bookkeeping; all counts are
    * int64. The Spark rewrite is a per-row `aggregate()` fold (greedy
    * semantics are row-local — no shuffle); the DuckDB oracle states
    * the same greedy rule relationally: overlapping matches can only
    * chain when left = right, so merge starts are the EVEN offsets
    * within each maximal run of consecutive match positions — a
    * row_number over (word, pos − rank) groups the runs.
    *
    * 100 TB shape: ONE corpus scan (the token count); the
    * [[BpeVocabCap]]-row vocab is re-partitioned by word after the
    * top-k and every round is vocab-sized — a pair-count aggregate, a
    * 1-row TakeOrdered broadcast back (null-safe left join so a
    * pair-less degenerate vocab rewrites as a no-op on both engines),
    * and the per-row fold. Round state is lazily localCheckpoint-ed
    * (the p76/Components iterative-lineage rule: state(r) references
    * state(r−1) twice, so the plan must truncate per round; lazy —
    * the cut truncates the plan either way and eager only adds a
    * driver barrier).
    */
  private[queries] def bpeMergesEntry: Entry = {
    val R = BpeRounds
    Entry("p79_bpe_merges", (s, dir) => {
      // lazy cut: see the p76 rationale (plan truncation is identical,
      // eager only adds a per-round driver barrier)
      def cut(df: DataFrame): DataFrame = df.localCheckpoint(eager = false)
      var state = cut(docs(s, dir)
        .select(explode(toks).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word")).limit(BpeVocabCap)
        .repartition(col("word"))
        .select(col("word"), col("cnt"), expr(bpeCharsSql).as("syms")))
      var out: Option[DataFrame] = None
      for (round <- 1 to R) {
        // adjacent pairs via two shifted slices — NOT
        // sequence(1, size-1), which descends ([1, 0]) on 1-symbol
        // words and trips ANSI element_at. Not checkpointed: the agg
        // is vocab-sized over the already-checkpointed state, cheaper
        // to recompute for its two consumers than to eager-materialize
        val top = (state
          .select(col("cnt"), explode(expr(
            """zip_with(slice(syms, 1, greatest(size(syms) - 1, 0)),
                        slice(syms, 2, greatest(size(syms) - 1, 0)),
                        (x, y) -> named_struct('l', x, 'r', y))"""))
            .as("p"))
          .groupBy(col("p.l").as("ml"), col("p.r").as("mr"))
          .agg(sum(col("cnt")).as("pair_n"))
          .orderBy(col("pair_n").desc, col("ml"), col("mr")).limit(1))
        val next = cut(state.withColumn("k", lit(1))
          .join(broadcast(top.withColumn("k", lit(1))), Seq("k"), "left")
          .select(col("word"), col("cnt"), col("ml"), col("mr"),
            col("pair_n"), size(col("syms")).cast("long").as("n0"),
            expr(bpeRewriteSql).as("syms")))
        // merge metadata rides the checkpointed rows (constant per
        // round; null ⇔ no pair existed ⇒ no output row), so the
        // round report is one agg over cached data — no re-shuffle
        val row = next.filter(col("ml").isNotNull)
          .groupBy("ml", "mr", "pair_n")
          .agg(sum(col("cnt") * (col("n0") - size(col("syms")).cast("long")))
              .as("merged_n"),
            sum(col("cnt") * size(col("syms")).cast("long"))
              .as("symbols_after"))
          .select(lit(round.toLong).as("merge_round"),
            col("ml").as("left_sym"), col("mr").as("right_sym"),
            concat(col("ml"), col("mr")).as("merged_sym"),
            col("pair_n"), col("merged_n"), col("symbols_after"))
        out = Some(out.map(_.union(row)).getOrElse(row))
        state = next.select("word", "cnt", "syms")
      }
      out.get
    }, Some {
      def roundOut(r: Int): String = s"""
      o$r AS (SELECT CAST($r AS BIGINT) AS merge_round, b.ml AS left_sym,
                b.mr AS right_sym, b.ml || b.mr AS merged_sym, b.pair_n,
                (SELECT CAST(coalesce(sum(a.cnt*(len(a.syms)-len(c.syms))),
                   0) AS BIGINT)
                 FROM w${r - 1} a JOIN w$r c USING (word)) AS merged_n,
                (SELECT CAST(coalesce(sum(cnt*len(syms)), 0) AS BIGINT)
                 FROM w$r) AS symbols_after
              FROM b$r b)"""
      s"""$bpeLearnCtes,
      ${(1 to R).map(roundOut).mkString(",")}
      ${(1 to R).map(r => s"SELECT * FROM o$r").mkString(" UNION ALL ")}"""
    })
  }

  /** p80: BPE tokenizer APPLICATION — run the p79-learned merge
    * sequence over EVERY distinct word in the corpus (not just the
    * learning vocab cap) and report, per source, the whitespace-token
    * count, the post-BPE symbol count, and the compression ratio —
    * the "how many training tokens is this corpus under the tokenizer
    * we just trained" number a data pipeline budgets with (p20's pack
    * budget and p68's token quotas consume exactly this statistic).
    * Merges come FROM THE p79 CATALOG ENTRY at run time (the p69
    * pattern: the report audits the exact artifact the driver
    * oracles); each of the 6 merges is a 1-row broadcast applied by
    * the shared greedy fold, null-safe for rounds that learned
    * nothing.
    *
    * 100 TB shape: two corpus scans (the p79 token count inside the
    * merge learning, and the final explode-join-rollup), plus the
    * DISTINCT-word dim — the rewrite rounds run on that dim, never the
    * corpus; the per-word symbol-length dim joins back on the word
    * shuffle key. Round state lazily localCheckpoint-ed as in p79.
    */
  private[queries] def bpeApplyEntry: Entry =
    Entry("p80_bpe_apply", (s, dir) => {
      // lazy cut: see the p76 rationale
      def cut(df: DataFrame): DataFrame = df.localCheckpoint(eager = false)
      val merges = cut(Catalog.queries("p79_bpe_merges")(s, dir)
        .select(col("merge_round"), col("left_sym"), col("right_sym")))
      var words = cut(docs(s, dir)
        .select(explode(toks).as("word")).distinct()
        .repartition(col("word"))
        .select(col("word"), expr(bpeCharsSql).as("syms")))
      for (r <- 1 to BpeRounds) {
        val m = merges.filter(col("merge_round") === r)
          .select(col("left_sym").as("ml"), col("right_sym").as("mr"))
        words = cut(words.withColumn("k", lit(1))
          .join(broadcast(m.withColumn("k", lit(1))), Seq("k"), "left")
          .select(col("word"), expr(bpeRewriteSql).as("syms")))
      }
      val wl = words.select(col("word"),
        size(col("syms")).cast("long").as("n_syms"))
      docs(s, dir)
        .select(col("source"), col("doc_id"), explode(toks).as("word"))
        .join(wl, "word")
        .groupBy("source")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_tokens"),
          sum(col("n_syms")).as("n_symbols"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("n_symbols"),
          round(col("n_symbols").cast("double") /
            col("n_tokens").cast("double"), 6).as("compression"))
    }, Some {
      val apply = (1 to BpeRounds).map(r =>
        bpeRewriteCtes(s"u${r - 1}", s"u$r", s"b$r", s"u$r", ""))
        .mkString(",")
      s"""$bpeLearnCtes,
      u0 AS MATERIALIZED (SELECT word,
               list_transform(range(1, length(word)+1),
                 i -> substring(word, i, 1)) AS syms
             FROM (SELECT DISTINCT unnest($toksSql) AS word
                   FROM documents)),
      $apply,
      wl AS (SELECT word, len(syms) AS n_syms FROM u$BpeRounds),
      t AS (SELECT d.source, d.doc_id, w.n_syms
            FROM (SELECT source, doc_id, unnest($toksSql) AS word
                  FROM documents) d JOIN wl w USING (word))
      SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(n_syms) AS BIGINT) AS n_symbols,
             round(CAST(sum(n_syms) AS DOUBLE) / count(*), 6)
               AS compression
      FROM t GROUP BY source"""
    },
      tier = Tier.Swept(Sweep.LinearX100))

  /** p81: SEMANTIC decontamination — the embedding-space twin of the
    * p24/p34 shingle decontaminators (the Llama-3 / GPT-4 eval-hygiene
    * step: a paraphrased benchmark answer shares no 3-grams with the
    * benchmark but sits next to it in embedding space). Held-out set =
    * the `vec_id % 50 = 0` query convention p07/p69 established; a
    * corpus vector is flagged when its cosine to a held-out vector
    * reaches 0.2. Candidate generation is IVF-bucketed exactly like
    * p35: corpus vectors meet held-out vectors only inside a shared
    * nearest-centroid cell, with the HELD-OUT side probing nprobe=2
    * cells (the recall knob rides on the tiny side — ~2% of vectors —
    * so candidate volume stays Σ cell·test_cell, never n·m). The
    * nearest-cell ranking reuses p15's deterministic (d2, cid) integer
    * ordering; each corpus vector carries exactly one cell, so a
    * (corpus, test) pair can meet at most once — no dedup pass needed.
    * At 100 TB the corpus side never self-joins and never leaves its
    * cell partitioning; the held-out probes are the small broadcastable
    * side, exactly how a production semantic-decontam pass shards.
    */
  private[queries] def contamSemanticEntry: Entry =
    Entry("p81_contam_semantic", (s, dir) => {
      val probed = ivfProbed(s, dir, 2)
      val tests = probed.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("test_id"), col("emb").as("temb"),
          col("cell"))
      val corpus = probed.filter(col("vec_id") % 50 =!= 0 && col("rk") === 1)
        .select(col("vec_id"), col("emb"), col("cell"))
      corpus.join(tests, "cell")
        .select(col("cell"), col("vec_id"), col("test_id"),
          round(VectorOps.cosine(col("emb"), col("temb")), 6).as("cos_sim"))
        .filter(col("cos_sim") >= 0.2)
    }, Some(s"""
      WITH $ivfRankedOracleCtes,
      tests AS (SELECT vec_id AS test_id, emb AS temb, cell
                FROM ranked WHERE vec_id % 50 = 0 AND rk <= 2),
      corpus AS (SELECT vec_id, emb, cell
                 FROM ranked WHERE vec_id % 50 <> 0 AND rk = 1)
      SELECT c.cell, c.vec_id, t.test_id,
             round(list_cosine_similarity(c.emb, t.temb), 6) AS cos_sim
      FROM corpus c JOIN tests t USING (cell)
      WHERE round(list_cosine_similarity(c.emb, t.temb), 6) >= 0.2"""))

  /** p82: HyperLogLog distinct-token cardinality per source — the
    * constant-memory answer to "how many unique tokens does each slice
    * contribute", completing the sketch family (KMV/p25 estimates via
    * bottom-k order statistics, CMS/p47 point frequencies, JL/p48
    * distances; HLL is the industry default for cardinality at 100 TB:
    * 64 registers per source vs a corpus-sized DISTINCT shuffle).
    * Deterministic by construction, so the DuckDB oracle replays it
    * bit-for-bit: the 60-bit md5 hash splits into a 6-bit register
    * index (top bits) and a 54-bit suffix w whose leading-zero rank is
    * rho = 55 - len(bin(w)) (both engines' `bin` renders without
    * leading zeros; w = 0 => rho = 55). Registers are max-aggregates —
    * duplicates are absorbed map-side, the shuffle carries <= 64 rows
    * per source, and the register fold stays INTEGER: with
    * S = sum_j 2^(55 - M_j) (absent registers contribute 2^55, total
    * <= 2^61, no overflow), the raw estimate alpha_64 * 64^2 / Z with
    * Z = S / 2^55 becomes one double division of exact integers —
    * 0.709 * 4096 * 2^55 / S — every factor a power-of-two scaling of
    * the same 0.709 literal, so Spark and DuckDB produce the identical
    * IEEE double with no libm (the a27 no-log10 rule). The canonical
    * small-range correction (raw <= 2.5m with empty registers ->
    * linear counting m*ln(m/V)) needs a log, which the same rule
    * forbids per-engine; V only takes 64 values, so the LC estimates
    * are evaluated ONCE into [[HllLcTable]] and interpolated as the
    * same literal array into both engines' plans (the minhashALiteral
    * pattern). The exact DISTINCT count rides along as the calibration
    * column (at 100 TB one would ship only the 64-register sketch and
    * merge downstream — the same mergeability argument as p25/p47).
    */
  private[queries] def distinctHllEntry: Entry = {
    import graft.functions.{HashScheme => H, HllSketch => Hll}
    val lcLit = Hll.LcTable.mkString("array(", ",", ")")
    val lcLitDuck = Hll.LcTable.mkString("[", ",", "]")
    Entry("p82_distinct_hll", (s, dir) => {
      // one corpus scan, persisted: the register fold and the exact
      // calibration count both read the hashed postings (at 100 TB one
      // would drop the exact branch and this becomes a single pass
      // with map-side-combined 64-row-per-source partials)
      val posts = docs(s, dir)
        .select(col("source"), explode(toks).as("tok"))
        .select(col("source"), expr(H.h60Spark("tok")).as("h"))
        .persistTracked()
      val rhos = posts
        .select(col("source"),
          expr("h div 18014398509481984").as("bucket"),
          expr("h % 18014398509481984").as("w"))
        .select(col("source"), col("bucket"),
          when(col("w") === 0L, lit(55L))
            .otherwise(lit(55L) - length(bin(col("w"))).cast("long"))
            .as("rho"))
      val regs = rhos.groupBy("source", "bucket")
        .agg(max(col("rho")).as("m"))
      val nExact = posts.groupBy("source")
        .agg(countDistinct(col("h")).as("n_exact"))
      regs.groupBy("source")
        .agg(sum(expr("shiftleft(cast(1 as bigint), cast(55 - m as int))"))
            .as("s_present"),
          count(lit(1)).as("present"))
        .select(col("source"),
          (col("s_present") +
            (lit(64L) - col("present")) * lit(36028797018963968L))
            .as("s_reg"),
          (lit(64L) - col("present")).as("zero_regs"))
        .join(nExact, "source")
        .withColumn("raw",
          lit(0.709) * lit(4096) * lit(3.6028797018963968e16) /
            col("s_reg").cast("double"))
        .select(col("source"), col("n_exact"), col("s_reg"),
          col("zero_regs"),
          when(col("zero_regs") > 0 && col("raw") <= 160.0,
            expr(s"element_at($lcLit, cast(zero_regs as int))"))
            .otherwise(round(col("raw"), 6)).as("hll_est"))
    }, Some(s"""
      WITH posts AS (
        SELECT source, ${H.h60Duck("tok")} AS h
        FROM (SELECT source, unnest($toksSql) AS tok FROM documents)),
      rhos AS (SELECT source, h // 18014398509481984 AS bucket,
                 CASE WHEN h % 18014398509481984 = 0 THEN 55
                      ELSE 55 - length(bin(h % 18014398509481984)) END
                   AS rho
               FROM posts),
      regs AS (SELECT source, bucket, max(rho) AS m
               FROM rhos GROUP BY source, bucket),
      folds AS (SELECT source,
                  CAST(sum(CAST(1 AS BIGINT) << CAST(55 - m AS INTEGER))
                    AS BIGINT) AS s_present,
                  count(*) AS present
                FROM regs GROUP BY source),
      ex AS (SELECT source, CAST(count(DISTINCT h) AS BIGINT) AS n_exact
             FROM posts GROUP BY source),
      est AS (SELECT f.source, ex.n_exact,
                CAST(f.s_present + (64 - f.present) * 36028797018963968
                  AS BIGINT) AS s_reg,
                CAST(64 - f.present AS BIGINT) AS zero_regs,
                CAST(0.709 AS DOUBLE) * 4096 * 3.6028797018963968e16 /
                  CAST(f.s_present + (64 - f.present) * 36028797018963968
                    AS DOUBLE) AS raw
              FROM folds f JOIN ex USING (source))
      SELECT source, n_exact, s_reg, zero_regs,
             CASE WHEN zero_regs > 0 AND raw <= 160.0
                  THEN ($lcLitDuck)[CAST(zero_regs AS INTEGER)]
                  ELSE round(raw, 6) END AS hll_est
      FROM est"""), tier = Tier.Bench())
  }

  /** p83: source distributional-redundancy matrix — total-variation
    * distance between per-source unigram TOKEN-FREQUENCY distributions,
    * the data-mixing diagnostic complementing p77's KMV SET overlap
    * (two sources can share 100% of their vocabulary yet weight it
    * completely differently — TV sees that, Jaccard can't). TV is the
    * one f-divergence expressible in exact rational arithmetic (KL and
    * JS need ln, the cross-engine no-libm rule): with shared-token
    * identity TV(a,b) = 1 − Σ_tok min(p_a, p_b), and over the common
    * denominator n_a·n_b the whole fold is
    * (n_a·n_b − Σ min(c_a·n_b, c_b·n_a)) / (n_a·n_b) — integer sums,
    * ONE double division, identical IEEE result on both engines.
    * Shape at 100 TB (r14 form): one (source, tok) count shuffle
    * (map-side combined) into a groupBy(tok) census whose ≤S per-token
    * rows expand to ordered source pairs ROW-LOCALLY (a per-group HOF
    * over the aggregate's output — no token-keyed join, no second
    * census-sized exchange); totals are an S-row broadcast; the full
    * S² pair grid comes from a broadcast cross of the totals so
    * never-overlapping pairs still report TV = 1 (S = #sources, the
    * declared small dim — 20 here). DOMAIN bound (ADVICE r14): the
    * expansion's least(c_a·n_b, c_b·n_a), the s_min sum, and the final
    * n_a·n_b denominator are all plain int64 — c·n ≤ n² overflows
    * silently past n ≈ 3e9 tokens/source, which is therefore this
    * entry's HARD input ceiling; a corpus beyond it must pre-aggregate
    * sources (or shard them) before this audit, it cannot simply run
    * it bigger.
    */
  private[queries] def sourceDivergenceEntry: Entry =
    Entry("p83_source_divergence", (s, dir) => {
      // totals from an INDEPENDENT cheap scan (size per doc, summed),
      // not from `counts`: the eager broadcast jobs planning ta/tb
      // would otherwise recompute the full token census before its
      // cache is populated (3x the heavy scan, measured 5.7 s -> 1.5 s
      // at sf0.01)
      val totals = docs(s, dir)
        .select(col("source"), size(toks).cast("long").as("nt"))
        .groupBy("source").agg(sum("nt").as("n"))
      val ta = totals.select(col("source").as("src_a"), col("n").as("n_a"))
      val tb = totals.select(col("source").as("src_b"), col("n").as("n_b"))
      val counts = docs(s, dir)
        .select(col("source"), explode(toks).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("c"))
        .join(broadcast(totals), "source")
      // r14 opt (guide §2.4): the within-token source pairs used to
      // come from a census self-join on tok — the cached census
      // exchanged + sorted TWICE by a string key. Sources are a
      // handful, so ONE groupBy(tok) (a single census-sized exchange)
      // collects the ≤|S| per-token rows and the pair expansion is
      // row-local array math over the aggregate's output (per-group,
      // not per-candidate: the HOF sits over an Aggregate, no join).
      // Pair enumeration via y.source > x.source is order-independent,
      // so collect_list's nondeterministic order cannot reach the
      // output; sum/count over the same (a, b, m) rows the self-join
      // produced.
      val shared = counts
        .groupBy("tok")
        .agg(collect_list(struct(col("source"), col("c"), col("n")))
          .as("ss"))
        .select(explode(expr(
          "flatten(transform(ss, x -> transform(" +
            "filter(ss, y -> y.source > x.source), " +
            "y -> struct(x.source as src_a, y.source as src_b, " +
            "least(x.c * y.n, y.c * x.n) as m))))")).as("p"))
        .select(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"),
          col("p.m").as("m"))
        .groupBy("src_a", "src_b")
        .agg(sum(col("m")).as("s_min"),
          count(lit(1)).as("shared_tokens"))
      // S x S grid of broadcast totals — the declared S² dim
      broadcast(ta).crossJoin(broadcast(tb))
        .filter(col("src_a") < col("src_b"))
        .join(shared, Seq("src_a", "src_b"), "left")
        .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
          coalesce(col("shared_tokens"), lit(0L)).as("shared_tokens"),
          round((col("n_a") * col("n_b") -
              coalesce(col("s_min"), lit(0L))).cast("double") /
            (col("n_a") * col("n_b")).cast("double"), 6).as("tv6"))
    }, Some(s"""
      WITH d AS (SELECT source, unnest($toksSql) AS tok FROM documents),
      counts AS (SELECT source, tok, count(*) AS c
                 FROM d GROUP BY source, tok),
      totals AS (SELECT source, CAST(sum(c) AS BIGINT) AS n
                 FROM counts GROUP BY source),
      shared AS (SELECT a.source AS src_a, b.source AS src_b,
                   CAST(sum(least(a.c * tb.n, b.c * ta.n)) AS BIGINT)
                     AS s_min,
                   count(*) AS shared_tokens
                 FROM counts a JOIN counts b USING (tok)
                 JOIN totals ta ON ta.source = a.source
                 JOIN totals tb ON tb.source = b.source
                 WHERE a.source < b.source
                 GROUP BY 1, 2),
      grid AS (SELECT ta.source AS src_a, tb.source AS src_b,
                 ta.n AS n_a, tb.n AS n_b
               FROM totals ta, totals tb WHERE ta.source < tb.source)
      SELECT g.src_a, g.src_b, g.n_a, g.n_b,
             CAST(coalesce(s.shared_tokens, 0) AS BIGINT) AS shared_tokens,
             round(CAST(g.n_a * g.n_b - coalesce(s.s_min, 0) AS DOUBLE) /
                   CAST(g.n_a * g.n_b AS DOUBLE), 6) AS tv6
      FROM grid g LEFT JOIN shared s USING (src_a, src_b)"""),
      tier = Tier.Bench())

  /** p84: split parity audit — the exchangeability check a split
    * pipeline runs AFTER p31 assigns and p66/p67 prove leak-freedom:
    * a leak-free split can still be a BAD split if val/test aren't
    * distributionally representative of train (a lang or source or
    * length stratum landing lopsidedly in one split silently skews
    * every eval number). Per split pair and per feature (lang, source,
    * n_chars-div-100 length bucket), the total-variation distance
    * between the splits' feature histograms — p83's exact
    * common-denominator integer fold, so the whole audit is integer
    * sums + ONE double division per output row. A parity audit is a
    * THRESHOLD consumer (TV above ~2-3x the sampling noise floor
    * sqrt(|V|/n) flags the feature); this entry reports the raw
    * distances and leaves the gate to the caller. Shape at 100 TB:
    * one row per doc per feature (explode of a 3-struct literal), one
    * (split, feature, value) count shuffle into a groupBy(feature, val)
    * census whose ≤|splits| per-value rows expand to ordered split
    * pairs row-locally (p83's r14 form — no value-keyed self-join);
    * totals are a 3-row broadcast (per-split doc counts — identical
    * across features since every doc carries every feature exactly
    * once). Same int64 DOMAIN ceiling as p83: the expansion's c·n is
    * plain BIGINT, so per-split doc counts must stay ≤ ~3e9 for the
    * products to be exact — the entry's hard input bound.
    */
  private[queries] def splitParityEntry: Entry = {
    Entry("p84_split_parity", (s, dir) => {
      val sp = docs(s, dir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          splitBucket("doc_id").as("bucket"))
        .withColumn("split", splitOf(col("bucket")))
      val totals = sp.groupBy("split").agg(count(lit(1)).as("n"))
      val ta = totals.select(col("split").as("split_a"), col("n").as("n_a"))
      val tb = totals.select(col("split").as("split_b"), col("n").as("n_b"))
      val counts = sp
        .select(col("split"), explode(expr(
          "array(named_struct('feature', 'lang', 'val', lang)," +
          "      named_struct('feature', 'source', 'val', source)," +
          "      named_struct('feature', 'len_bucket'," +
          "                   'val', cast(n_chars div 100 as string)))"))
          .as("f"))
        .groupBy(col("split"), col("f.feature").as("feature"),
          col("f.val").as("val"))
        .agg(count(lit(1)).as("c"))
        .join(broadcast(totals), "split")
      // r14 opt (guide §2.4, p83's twin): the census cache was
      // partitioned by (split, feature, val) — its groupBy keys — which
      // does not satisfy the (feature, val)-keyed self-join, so both
      // sides re-exchanged + sorted. ONE groupBy(feature, val) collects
      // the ≤|splits| per-value rows and the ordered-pair expansion is
      // row-local over the aggregate's output (order-independent
      // enumeration via y.split > x.split, so collect_list order cannot
      // reach the output).
      val shared = counts
        .groupBy("feature", "val")
        .agg(collect_list(struct(col("split"), col("c"), col("n")))
          .as("ss"))
        .select(col("feature"), explode(expr(
          "flatten(transform(ss, x -> transform(" +
            "filter(ss, y -> y.split > x.split), " +
            "y -> struct(x.split as split_a, y.split as split_b, " +
            "least(x.c * y.n, y.c * x.n) as m))))")).as("p"))
        .select(col("feature"), col("p.split_a").as("split_a"),
          col("p.split_b").as("split_b"), col("p.m").as("m"))
        .groupBy("split_a", "split_b", "feature")
        .agg(sum(col("m")).as("s_min"),
          count(lit(1)).as("shared_values"))
      broadcast(ta).crossJoin(broadcast(tb))
        .filter(col("split_a") < col("split_b"))
        .select(col("split_a"), col("split_b"),
          explode(expr("array('lang', 'source', 'len_bucket')"))
            .as("feature"),
          col("n_a"), col("n_b"))
        .join(shared, Seq("split_a", "split_b", "feature"), "left")
        .select(col("split_a"), col("split_b"), col("feature"),
          col("n_a"), col("n_b"),
          coalesce(col("shared_values"), lit(0L)).as("shared_values"),
          round((col("n_a") * col("n_b") -
              coalesce(col("s_min"), lit(0L))).cast("double") /
            (col("n_a") * col("n_b")).cast("double"), 6).as("tv6"))
    }, Some(s"""
      WITH sp AS (SELECT doc_id, lang, source, n_chars,
                    ${splitCaseSql("b")} AS split
                  FROM (SELECT *, ${splitBucketSql("doc_id")} AS b
                        FROM documents)),
      totals AS (SELECT split, CAST(count(*) AS BIGINT) AS n
                 FROM sp GROUP BY split),
      feats AS (SELECT split, 'lang' AS feature, lang AS val FROM sp
                UNION ALL SELECT split, 'source', source FROM sp
                UNION ALL SELECT split, 'len_bucket',
                  CAST(n_chars // 100 AS VARCHAR) FROM sp),
      counts AS (SELECT split, feature, val, count(*) AS c
                 FROM feats GROUP BY 1, 2, 3),
      shared AS (SELECT a.split AS split_a, b.split AS split_b, a.feature,
                   CAST(sum(least(a.c * tb.n, b.c * ta.n)) AS BIGINT)
                     AS s_min,
                   count(*) AS shared_values
                 FROM counts a
                 JOIN counts b ON a.feature = b.feature AND a.val = b.val
                 JOIN totals ta ON ta.split = a.split
                 JOIN totals tb ON tb.split = b.split
                 WHERE a.split < b.split
                 GROUP BY 1, 2, 3),
      grid AS (SELECT ta.split AS split_a, tb.split AS split_b, f.feature,
                 ta.n AS n_a, tb.n AS n_b
               FROM totals ta, totals tb,
                 (VALUES ('lang'), ('source'), ('len_bucket'))
                   f(feature)
               WHERE ta.split < tb.split)
      SELECT g.split_a, g.split_b, g.feature, g.n_a, g.n_b,
             CAST(coalesce(s.shared_values, 0) AS BIGINT)
               AS shared_values,
             round(CAST(g.n_a * g.n_b - coalesce(s.s_min, 0) AS DOUBLE) /
                   CAST(g.n_a * g.n_b AS DOUBLE), 6) AS tv6
      FROM grid g LEFT JOIN shared s
        ON s.split_a = g.split_a AND s.split_b = g.split_b
        AND s.feature = g.feature"""))
  }

  /** p85: vocabulary coverage curve — cumulative token mass captured
    * by the top-r vocabulary entries at doubling ranks, the
    * "how big a vocab do I need" planner view behind p27's fixed-vocab
    * OOV rate and p79/p80's BPE sizing (a tokenizer team reads this
    * curve before choosing 32k vs 64k vs 128k). Ranking is (count
    * desc, token) so ties are deterministic; coverage is cum/total —
    * two exact integers, ONE double division per output row. Probe
    * ranks past the actual vocabulary clamp to the full mass
    * (coverage 1.0) instead of dropping, so the curve always has the
    * same 6 rows. Shape at 100 TB: ONE map-side-combined corpus count
    * shuffle feeding (a) a plain two-column aggregate for the totals
    * and (b) a global top-32 via sort+limit — Spark plans that as
    * TakeOrderedAndProject (per-partition top-32 heaps, driver merge of
    * 32-row partials), so NO window ever sees the vocab-sized table
    * (100 TB web text has 10⁸–10⁹ distinct tokens; a rank window over
    * it would be a one-task sort). The rank/cumsum window runs over the
    * 32-row top frame only — the one allowlisted unpartitioned window
    * here — and the probe join is 6 literal rows against it.
    */
  private[queries] def vocabCoverageEntry: Entry = {
    val probeRanks = Seq(1L, 2L, 4L, 8L, 16L, 32L)
    val ranksLit = probeRanks.mkString("array(", ",", ")")
    val ranksDuck = probeRanks.mkString("[", ",", "]")
    Entry("p85_vocab_coverage", (s, dir) => {
      // persisted: the totals aggregate and the top-32 both fold the
      // same token-count shuffle; uncached the corpus tokenizes twice
      val counts = docs(s, dir)
        .select(explode(toks).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
        .persistTracked()
      val maxProbe = probeRanks.max.toInt
      val wRank = Window.orderBy(col("c").desc, col("tok"))
      val ranked = counts
        .orderBy(col("c").desc, col("tok")).limit(maxProbe)
        .withColumn("rn", row_number().over(wRank).cast("long"))
        .withColumn("cum",
          sum("c").over(wRank.rowsBetween(Window.unboundedPreceding, 0)))
      val tot = counts.agg(sum(col("c")).cast("long").as("total_tokens"),
        count(lit(1)).cast("long").as("vocab_size"))
      broadcast(tot)
        .select(explode(expr(s"cast($ranksLit as array<bigint>)")).as("r"),
          col("total_tokens"), col("vocab_size"))
        .withColumn("rq", least(col("r"), col("vocab_size")))
        .join(ranked.select(col("rn"), col("cum")), col("rq") === col("rn"))
        .select(col("r"), col("vocab_size"), col("cum").as("cum_tokens"),
          col("total_tokens"),
          round(col("cum").cast("double") /
            col("total_tokens").cast("double"), 6).as("coverage6"))
    }, Some(s"""
      WITH counts AS (SELECT tok, count(*) AS c
                      FROM (SELECT unnest($toksSql) AS tok
                            FROM documents)
                      GROUP BY tok),
      ranked AS (SELECT tok, c,
                   CAST(row_number() OVER ord AS BIGINT) AS rn,
                   CAST(sum(c) OVER (ord ROWS UNBOUNDED PRECEDING)
                     AS BIGINT) AS cum
                 FROM counts WINDOW ord AS (ORDER BY c DESC, tok)),
      tot AS (SELECT max(cum) AS total_tokens, max(rn) AS vocab_size
              FROM ranked),
      probes AS (SELECT unnest($ranksDuck::BIGINT[]) AS r,
                   total_tokens, vocab_size FROM tot)
      SELECT p.r, p.vocab_size, k.cum AS cum_tokens, p.total_tokens,
             round(CAST(k.cum AS DOUBLE) /
                   CAST(p.total_tokens AS DOUBLE), 6) AS coverage6
      FROM probes p JOIN ranked k
        ON k.rn = least(p.r, p.vocab_size)"""), tier = Tier.Bench())
  }

  /** p86: vocabulary union-growth curve via MERGED HLL sketches — the
    * source-acquisition planner view ("which source actually adds new
    * vocabulary, which is redundant with what we already have"): per
    * source in lexicographic order, the cumulative distinct-token
    * count over all sources so far, exact AND estimated by merging the
    * per-source p82 register sketches. This entry is the sketch
    * family's MERGEABILITY demonstration made useful: at 100 TB the
    * per-source sketches are 64 rows each, and the whole growth curve
    * folds from the S×64 sketch table with ZERO additional corpus
    * reads — merge = element-wise register max, expressed as a
    * window running-max per bucket over the source order (a dense
    * S×B grid so absent registers participate as 0). The exact twin
    * rides the SAME one corpus scan: a token's first-appearance source
    * (min source per hash) turns cumulative-distinct into a running
    * sum of first-appearance counts — no re-scan per prefix, no S
    * passes. Estimate fold identical to p82 (one double division +
    * the shared LC literal table).
    */
  private[queries] def vocabGrowthEntry: Entry = {
    import graft.functions.{HashScheme => H, HllSketch => Hll}
    val lcLit = Hll.LcTable.mkString("array(", ",", ")")
    val lcLitDuck = Hll.LcTable.mkString("[", ",", "]")
    Entry("p86_vocab_growth", (s, dir) => {
      val posts = docs(s, dir)
        .select(col("source"), explode(toks).as("tok"))
        .select(col("source"), expr(H.h60Spark("tok")).as("h"))
        .persistTracked() // read twice: register build + first-appearance twin
      val regs = posts
        .select(col("source"),
          expr(s"h div ${Hll.SuffixMod}").as("bucket"),
          expr(s"h % ${Hll.SuffixMod}").as("w"))
        .select(col("source"), col("bucket"),
          when(col("w") === 0L, lit(55L))
            .otherwise(lit(55L) - length(bin(col("w"))).cast("long"))
            .as("rho"))
        .groupBy("source", "bucket").agg(max(col("rho")).as("m"))
        .persistTracked() // tiny (S x <=64); read for grid dims + the merge
      val srcs = regs.select("source").distinct()
      val bks = regs.select("bucket").distinct()
      val nBuckets = bks.agg(count(lit(1)).as("n_b"))
      val wCum = Window.partitionBy("bucket").orderBy("source")
        .rowsBetween(Window.unboundedPreceding, 0)
      val folds = broadcast(srcs).crossJoin(broadcast(bks))
        .join(regs, Seq("source", "bucket"), "left")
        .withColumn("m0", coalesce(col("m"), lit(0L)))
        .withColumn("mc", max(col("m0")).over(wCum))
        .groupBy("source")
        .agg(sum(expr("shiftleft(cast(1 as bigint), cast(55 - mc as int))"))
            .as("s_grid"),
          sum(when(col("mc") === 0L, 1L).otherwise(0L)).as("zero_grid"))
        .crossJoin(broadcast(nBuckets))
        .select(col("source"),
          (col("s_grid") +
            (lit(Hll.M.toLong) - col("n_b")) * lit(Hll.AbsentTerm))
            .as("s_reg"),
          (col("zero_grid") + lit(Hll.M.toLong) - col("n_b"))
            .as("zero_regs"))
        .withColumn("raw",
          lit(Hll.Alpha) * lit(Hll.M * Hll.M) *
            lit(Hll.AbsentTerm.toDouble) / col("s_reg").cast("double"))
        .select(col("source"),
          when(col("zero_regs") > 0 && col("raw") <= Hll.LcThreshold,
            expr(s"element_at($lcLit, cast(zero_regs as int))"))
            .otherwise(round(col("raw"), 6)).as("hll_cum_est"))
      val wSrc = Window.orderBy("source")
        .rowsBetween(Window.unboundedPreceding, 0)
      val exact = posts.groupBy("h").agg(min(col("source")).as("source"))
        .groupBy("source").agg(count(lit(1)).as("new_tokens"))
      broadcast(srcs).join(exact, Seq("source"), "left")
        .withColumn("new_tokens", coalesce(col("new_tokens"), lit(0L)))
        .withColumn("exact_cum", sum(col("new_tokens")).over(wSrc))
        .join(folds, "source")
        .select(col("source"), col("new_tokens"), col("exact_cum"),
          col("hll_cum_est"))
    }, Some(s"""
      WITH posts AS (
        SELECT source, ${H.h60Duck("tok")} AS h
        FROM (SELECT source, unnest($toksSql) AS tok FROM documents)),
      regs AS (SELECT source, h // ${Hll.SuffixMod} AS bucket,
                 max(CASE WHEN h % ${Hll.SuffixMod} = 0 THEN 55
                      ELSE 55 - length(bin(h % ${Hll.SuffixMod})) END)
                   AS m
               FROM posts GROUP BY 1, 2),
      srcs AS (SELECT DISTINCT source FROM regs),
      bks AS (SELECT DISTINCT bucket FROM regs),
      nb AS (SELECT count(*) AS n_b FROM bks),
      grid AS (SELECT s.source, b.bucket,
                 coalesce(r.m, 0) AS m0
               FROM srcs s CROSS JOIN bks b
               LEFT JOIN regs r
                 ON r.source = s.source AND r.bucket = b.bucket),
      cum AS (SELECT source, bucket,
                max(m0) OVER (PARTITION BY bucket ORDER BY source
                  ROWS UNBOUNDED PRECEDING) AS mc
              FROM grid),
      folds AS (SELECT source,
                  CAST(sum(CAST(1 AS BIGINT) << CAST(55 - mc AS INTEGER))
                    AS BIGINT) AS s_grid,
                  sum(CASE WHEN mc = 0 THEN 1 ELSE 0 END) AS zero_grid
                FROM cum GROUP BY source),
      est AS (SELECT f.source,
                CAST(f.s_grid + (${Hll.M} - nb.n_b) * ${Hll.AbsentTerm}
                  AS BIGINT) AS s_reg,
                CAST(f.zero_grid + ${Hll.M} - nb.n_b AS BIGINT)
                  AS zero_regs,
                CAST(${Hll.Alpha} AS DOUBLE) * ${Hll.M * Hll.M} *
                  ${Hll.AbsentTerm.toDouble} /
                  CAST(f.s_grid + (${Hll.M} - nb.n_b) * ${Hll.AbsentTerm}
                    AS DOUBLE) AS raw
              FROM folds f CROSS JOIN nb),
      firsts AS (SELECT min(source) AS source, h
                 FROM posts GROUP BY h),
      newc AS (SELECT source, CAST(count(*) AS BIGINT) AS new_tokens
               FROM firsts GROUP BY source),
      run AS (SELECT s.source, coalesce(n.new_tokens, 0) AS new_tokens,
                CAST(sum(coalesce(n.new_tokens, 0)) OVER (ORDER BY
                  s.source ROWS UNBOUNDED PRECEDING) AS BIGINT)
                  AS exact_cum
              FROM srcs s LEFT JOIN newc n ON n.source = s.source)
      SELECT r.source, CAST(r.new_tokens AS BIGINT) AS new_tokens,
             r.exact_cum,
             CASE WHEN e.zero_regs > 0 AND e.raw <= ${Hll.LcThreshold}
                  THEN ($lcLitDuck)[CAST(e.zero_regs AS INTEGER)]
                  ELSE round(e.raw, 6) END AS hll_cum_est
      FROM run r JOIN est e ON e.source = r.source"""))
  }

  /** p87: longest common token RUN per near-dup pair — the
    * plagiarism-style evidence behind an LSH hit: p04's est_jaccard
    * says two docs overlap; this says whether the overlap is one long
    * verbatim passage (quotation / mirrored section → excise the span,
    * p74) or many short scattered repeats (template / boilerplate →
    * drop a doc, p02). Suffix-array-lite: matched 8-gram positions
    * between the pair land on diagonals (pos_a − pos_b); a run of L
    * consecutive matched starts on one diagonal certifies a common
    * substring of L+7 tokens (exact, not estimated — every token in
    * the span is covered by a matched 8-gram). Runs are the q35
    * gaps-and-islands grouping (pos − row_number per diagonal). Pairs
    * with overlap below the 8-token resolution report lcs_tokens = 0.
    * Shape at 100 TB: gram postings are built ONLY for docs appearing
    * in the LSH pair list (semi-join prune — the corpus never explodes
    * 8-grams globally), match volume is per-pair positions of SHARED
    * grams (near-dup pairs by construction), and the xxhash64 gram
    * identity keeps the join key 8 bytes (p03's collision rationale;
    * the oracle matches the gram STRINGS).
    */
  /** The doc-id dim of p87's pair list — the DISTINCT side of the
    * prune join NGramHashes (a CodegenFallback) evaluates over, which
    * makes that join 1:1 (per ROW, not per candidate). The builder is
    * shared by the entry and by `p87InPairsFrame` so the spec's
    * runtime uniqueness assertion tests the exact frame the entry
    * joins.
    */
  private def inPairsOf(pairs: DataFrame): DataFrame =
    pairs.select(col("doc_a").as("doc_id"))
      .unionAll(pairs.select(col("doc_b").as("doc_id"))).distinct()

  /** Rebuilds p87's inPairs dim for ScalePropertiesSpec's
    * fallback-allowlist 1:1 assertion (unique on doc_id at runtime).
    */
  private[graft] def p87InPairsFrame(s: SparkSession, dir: String): DataFrame =
    inPairsOf(minhashLshPairs(docs(s, dir)).select("doc_a", "doc_b"))

  private[queries] def longestRunEntry: Entry = {
    import graft.functions.{HashScheme => H}
    Entry("p87_longest_common_run", (s, dir) => {
      val d = docs(s, dir)
      val pairs = minhashLshPairs(d).select("doc_a", "doc_b").persistTracked()
      val inPairs = inPairsOf(pairs)
      val g8 = d.join(inPairs, "doc_id")
        .withColumn("sh", TextHashFunctions.ngram_hashes(toks, 8))
        .select(col("doc_id"), posexplode(col("sh")).as(Seq("pos", "h")))
      val m = pairs
        .join(g8.select(col("doc_id").as("doc_a"), col("pos").as("pos_a"),
          col("h")), "doc_a")
        .join(g8.select(col("doc_id").as("doc_b"), col("pos").as("pos_b"),
          col("h")), Seq("doc_b", "h"))
        .persistTracked() // read twice: island runs + matched-gram count
      val wRun = Window.partitionBy("doc_a", "doc_b", "diag")
        .orderBy("pos_a")
      val best = m
        .withColumn("diag", col("pos_a") - col("pos_b"))
        .withColumn("grp",
          col("pos_a") - row_number().over(wRun))
        .groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(count(lit(1)).as("runlen"))
        .groupBy("doc_a", "doc_b").agg(max(col("runlen")).as("maxrun"))
      val mg = m.groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("matched_grams"))
      pairs
        .join(best, Seq("doc_a", "doc_b"), "left")
        .join(mg, Seq("doc_a", "doc_b"), "left")
        .select(col("doc_a"), col("doc_b"),
          coalesce(col("maxrun") + 7L, lit(0L)).as("lcs_tokens"),
          coalesce(col("matched_grams"), lit(0L)).as("matched_grams"))
    }, Some(s"""
      WITH $lshPairsOracleCtes,
      pdocs AS (SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM pairs
        UNION ALL SELECT doc_b FROM pairs)),
      g8 AS (SELECT d.doc_id, j AS pos,
               array_to_string(toks[j:j+7], ' ') AS g
             FROM docs d JOIN pdocs USING (doc_id),
               UNNEST(CASE WHEN len(toks) >= 8
                           THEN range(1, len(toks) - 6)
                           ELSE [] END) t(j)),
      m AS MATERIALIZED (SELECT p.doc_a, p.doc_b, a.pos AS pos_a,
               b.pos AS pos_b
             FROM pairs p
             JOIN g8 a ON a.doc_id = p.doc_a
             JOIN g8 b ON b.doc_id = p.doc_b AND b.g = a.g),
      runs AS (SELECT doc_a, doc_b, diag, grp, count(*) AS runlen
               FROM (SELECT doc_a, doc_b, pos_a - pos_b AS diag,
                       pos_a - row_number() OVER (
                         PARTITION BY doc_a, doc_b, pos_a - pos_b
                         ORDER BY pos_a) AS grp
                     FROM m)
               GROUP BY 1, 2, 3, 4),
      best AS (SELECT doc_a, doc_b, max(runlen) AS maxrun
               FROM runs GROUP BY 1, 2),
      mg AS (SELECT doc_a, doc_b, count(*) AS n FROM m GROUP BY 1, 2)
      SELECT p.doc_a, p.doc_b,
             CAST(coalesce(b.maxrun + 7, 0) AS BIGINT) AS lcs_tokens,
             CAST(coalesce(mg.n, 0) AS BIGINT) AS matched_grams
      FROM pairs p
      LEFT JOIN best b ON b.doc_a = p.doc_a AND b.doc_b = p.doc_b
      LEFT JOIN mg ON mg.doc_a = p.doc_a AND mg.doc_b = p.doc_b"""),
      tier = Tier.LshPairConsumer)
  }

  /** p88: exact-k per-stratum sample — the eval-set constructor p21's
    * RATE sampler can't be ("exactly 20 docs per source", not "~2% of
    * each"): bottom-k by a keyed hash per stratum, which is
    * simultaneously (a) uniform without replacement within the
    * stratum, (b) exactly k (or the whole stratum when smaller),
    * (c) deterministic/reproducible across runs, engines, and
    * partitionings, and (d) STABLE under corpus growth — a doc already
    * sampled stays sampled unless a new doc hashes below it (bottom-k
    * is a KMV-style order statistic, so incremental re-runs churn
    * minimally; a random_split re-run would reshuffle everything).
    * Distinct doc_ids make hash ties impossible; (hash, doc_id)
    * ordering pins the impossible case anyway. Shape at 100 TB: ONE
    * stratum-key shuffle carrying the rank window; no global sort, no
    * sort at all beyond the per-stratum top-k heap.
    */
  private[queries] def sampleExactKEntry: Entry = {
    import graft.functions.{HashScheme => H}
    val k = 20
    Entry("p88_sample_exact_k", (s, dir) => {
      val wRank = Window.partitionBy("source")
        .orderBy(col("hk"), col("doc_id"))
      docs(s, dir)
        .select(col("doc_id"), col("source"), col("lang"),
          expr(H.h60Spark("concat(cast(doc_id as string), ':sample')"))
            .as("hk"))
        .withColumn("rk", row_number().over(wRank).cast("long"))
        .filter(col("rk") <= k)
        .select(col("source"), col("rk"), col("doc_id"), col("lang"))
    }, Some(s"""
      WITH h AS (SELECT doc_id, source, lang,
                   ${H.h60Duck("CAST(doc_id AS VARCHAR) || ':sample'")}
                     AS hk
                 FROM documents),
      ranked AS (SELECT source, doc_id, lang,
                   CAST(row_number() OVER (PARTITION BY source
                     ORDER BY hk, doc_id) AS BIGINT) AS rk
                 FROM h)
      SELECT source, rk, doc_id, lang FROM ranked WHERE rk <= $k"""))
  }

  /** p89: near-dup FLOW matrix — p04's pair list aggregated to the
    * (source, source) level: which sources mirror which (the
    * mirror-site / syndication detector), and how much of each
    * source's duplication is INTERNAL (template reuse within a feed)
    * vs CROSS-SOURCE (scraping / republication). The distinction
    * drives different fixes: internal dup → fix the feed's templating;
    * cross-source dup → pick a canonical source and drop the mirror
    * (p56's fair-survivor policy needs exactly this view to be fair).
    * Pairs are direction-free, so the matrix is the (min, max)-keyed
    * upper triangle plus the diagonal (within-source). Shape: the
    * heavy work IS p04's generator (shared); this adds two broadcast
    * doc→source lookups bounded by docs-in-pairs ≪ corpus and one
    * S²-bounded aggregate.
    */
  private[queries] def dupFlowEntry: Entry =
    Entry("p89_dup_flow", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"))
      minhashLshPairs(docs(s, dir))
        .select("doc_a", "doc_b", "est_jaccard")
        .join(d.select(col("doc_id").as("doc_a"),
          col("source").as("src_a")), "doc_a")
        .join(d.select(col("doc_id").as("doc_b"),
          col("source").as("src_b")), "doc_b")
        .select(
          least(col("src_a"), col("src_b")).as("source_x"),
          greatest(col("src_a"), col("src_b")).as("source_y"),
          (col("src_a") === col("src_b")).as("internal"),
          col("est_jaccard"))
        // est_jaccard = k/64 (6 dp): round(est*64) recovers the exact
        // signature-match count k (the p54 trick), so the mean is an
        // integer sum + ONE double division — never an FP sum across
        // the shuffle
        .withColumn("k", expr("cast(round(est_jaccard * 64) as bigint)"))
        .groupBy("source_x", "source_y", "internal")
        .agg(count(lit(1)).as("n_pairs"), sum(col("k")).as("sk"))
        .select(col("source_x"), col("source_y"), col("internal"),
          col("n_pairs"),
          round(col("sk").cast("double") /
            (lit(64.0) * col("n_pairs").cast("double")), 6)
            .as("avg_est_jaccard"))
    }, Some(s"""
      WITH $lshPairsOracleCtes,
      srcs AS (SELECT doc_id, source FROM documents),
      flow AS (SELECT least(a.source, b.source) AS source_x,
                 greatest(a.source, b.source) AS source_y,
                 a.source = b.source AS internal,
                 CAST(round(p.est_jaccard * 64) AS BIGINT) AS k
               FROM pairs p
               JOIN srcs a ON a.doc_id = p.doc_a
               JOIN srcs b ON b.doc_id = p.doc_b)
      SELECT source_x, source_y, internal,
             CAST(count(*) AS BIGINT) AS n_pairs,
             round(CAST(sum(k) AS DOUBLE) /
                   (CAST(64 AS DOUBLE) * count(*)), 6) AS avg_est_jaccard
      FROM flow GROUP BY 1, 2, 3"""))

  /** p90: the CURATION DECISION table — the one artifact the whole
    * p-series exists to produce: per document, keep or drop, with the
    * reason flags a data-governance review audits. Composes three
    * oracled catalog entries AT RUN TIME (the p69/p70/p71 pattern, so
    * this table describes exactly the artifacts the driver verifies):
    * flag_dup = not the p02 keep-first survivor of its exact-dup
    * group; flag_quality = fails p30's declared quality rules;
    * flag_contaminated = shares ≥1 benchmark 3-gram (appears in p24's
    * output); flag_benchmark = IS a held-out benchmark doc (trains on
    * nothing, whatever its other flags). keep = no flag raised.
    * Flags are INDEPENDENT facts, not an if-else ladder — a doc can be
    * simultaneously a dup and contaminated, and the audit needs both.
    * Shape: three doc-keyed left joins on top of the component
    * queries' own (already scale-audited) plans; the join spine is
    * one corpus-keyed shuffle.
    */
  /** The p90 oracle's CTE chain ending in `decision(doc_id, source,
    * flag_dup, flag_quality, flag_contaminated, flag_benchmark, keep)`
    * — shared with p91's waterfall so the rollup audits definitionally
    * the same decisions. lazy: referenced during `entries` init.
    */
  private lazy val curationCtes: String = s"""
      docs AS (SELECT doc_id, source, $toksSql AS toks
                    FROM documents),
      surv AS (SELECT doc_id FROM (
          SELECT doc_id, row_number() OVER (PARTITION BY md5($normSql)
            ORDER BY doc_id) AS rk FROM documents) WHERE rk = 1),
      sig AS (SELECT doc_id,
                CAST(len(toks) AS BIGINT) AS n_toks,
                CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
                CAST(list_max(list_transform(list_distinct(toks),
                  t -> len(list_filter(toks, x -> x = t)))) AS BIGINT)
                  AS max_tok
              FROM docs),
      qualbad AS (SELECT doc_id FROM sig
                  WHERE n_toks < 30 OR (n_types / n_toks) < 0.35
                     OR (max_tok / n_toks) > 0.15),
      $sh3OracleCte,
      bench AS (SELECT DISTINCT shingle FROM sh3 WHERE doc_id % 100 = 0),
      contam AS (SELECT DISTINCT s.doc_id
                 FROM sh3 s JOIN bench USING (shingle)
                 WHERE s.doc_id % 100 != 0),
      decision AS (SELECT d.doc_id, d.source,
             (sv.doc_id IS NULL) AS flag_dup,
             (qb.doc_id IS NOT NULL) AS flag_quality,
             (ct.doc_id IS NOT NULL) AS flag_contaminated,
             (d.doc_id % 100 = 0) AS flag_benchmark,
             (sv.doc_id IS NOT NULL AND qb.doc_id IS NULL
              AND ct.doc_id IS NULL AND d.doc_id % 100 != 0) AS keep
      FROM docs d
      LEFT JOIN surv sv ON sv.doc_id = d.doc_id
      LEFT JOIN qualbad qb ON qb.doc_id = d.doc_id
      LEFT JOIN contam ct ON ct.doc_id = d.doc_id)"""

  private[queries] def curationDecisionEntry: Entry =
    Entry("p90_curation_decision", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"))
      val surv = Catalog.queries("p02_dedup_keep_first")(s, dir)
        .select(col("doc_id"), lit(true).as("surv"))
      val qual = Catalog.queries("p30_quality_filter")(s, dir)
        .select(col("doc_id"), col("keep").as("q_keep"))
      val contam = Catalog.queries("p24_contamination")(s, dir)
        .select(col("doc_id"), lit(true).as("ct"))
      d.join(surv, Seq("doc_id"), "left")
        .join(qual, Seq("doc_id"), "left")
        .join(contam, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"),
          (!coalesce(col("surv"), lit(false))).as("flag_dup"),
          (!coalesce(col("q_keep"), lit(false))).as("flag_quality"),
          coalesce(col("ct"), lit(false)).as("flag_contaminated"),
          (col("doc_id") % 100 === 0).as("flag_benchmark"))
        .withColumn("keep",
          !col("flag_dup") && !col("flag_quality") &&
          !col("flag_contaminated") && !col("flag_benchmark"))
    }, Some(s"""
      WITH $curationCtes
      SELECT doc_id, source, flag_dup, flag_quality, flag_contaminated,
             flag_benchmark, keep
      FROM decision"""))

  /** p91: curation WATERFALL — p90's loss accounting: per source, how
    * many documents (and how much character mass) each gate removes,
    * under SEQUENTIAL attribution in the declared stage order
    * benchmark → duplicate → quality → contaminated → kept (a doc
    * raising several flags is charged to the FIRST stage — the funnel
    * convention, so stages sum exactly to the corpus and the report
    * answers "which gate is costing me data"). Independent-flag truth
    * stays in p90; this is the presentation rollup, composed from the
    * p90 entry at run time so the two can never disagree. Shape: one
    * doc-keyed join (decision × n_chars) + a (source, stage) aggregate.
    */
  private[queries] def curationWaterfallEntry: Entry =
    Entry("p91_curation_waterfall", (s, dir) => {
      val d = Catalog.queries("p90_curation_decision")(s, dir)
      val mass = docs(s, dir).select(col("doc_id"), col("n_chars"))
      d.join(mass, "doc_id")
        .withColumn("stage",
          when(col("flag_benchmark"), "1_benchmark")
            .when(col("flag_dup"), "2_duplicate")
            .when(col("flag_quality"), "3_quality")
            .when(col("flag_contaminated"), "4_contaminated")
            .otherwise("5_kept"))
        .groupBy("source", "stage")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars_total"))
    }, Some(s"""
      WITH $curationCtes,
      staged AS (SELECT d.source,
                   CASE WHEN d.flag_benchmark THEN '1_benchmark'
                        WHEN d.flag_dup THEN '2_duplicate'
                        WHEN d.flag_quality THEN '3_quality'
                        WHEN d.flag_contaminated THEN '4_contaminated'
                        ELSE '5_kept' END AS stage,
                   m.n_chars
                 FROM decision d
                 JOIN documents m ON m.doc_id = d.doc_id)
      SELECT source, stage, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS n_chars_total
      FROM staged GROUP BY 1, 2"""))

  /** p92: EMBEDDING-space split parity — p84's metadata audit can pass
    * while the split still skews the representation a model actually
    * sees (a lang-balanced split can put all the hard examples of one
    * label in val). Per (split pair, label): L2 distance between the
    * splits' label centroids, exact until the final sqrt — with
    * per-dim micro sums s and counts n, the squared distance is
    * Σ_d (s_a·n_b − s_b·n_a)² / (n_a·n_b)², every numerator an exact
    * 128-bit integer (decimal(38,0)/HUGEINT — the diff ~1e12 and its
    * square ~1e24 overflow int64), ONE sqrt + ONE division at the
    * boundary. Split rule = the p31 convention hashed on vec_id with
    * its own salt. Shape at 100 TB: one (split, label, dim) map-side
    * combined sum shuffle (the p22 centroid shape), then everything on
    * the splits × labels × dims small dim; the pair stage is a
    * broadcast self-join of that table.
    */
  private[queries] def splitEmbParityEntry: Entry = {
    import graft.functions.{HashScheme => H}
    Entry("p92_split_emb_parity", (s, dir) => {
      val sums = embs(s, dir)
        .withColumn("split", expr(
          H.h32Spark("concat(cast(vec_id as string), ':esplit')") +
            " % 100"))
        .withColumn("split",
          when(col("split") < 90, "train")
            .when(col("split") < 95, "val").otherwise("test"))
        .select(col("split"), col("label"),
          posexplode(col("emb")).as(Seq("dim", "x")))
        .withColumn("x6", Micro.of("x"))
        .groupBy("split", "label", "dim")
        .agg(sum(col("x6")).as("s6"), count(lit(1)).as("n"))
      val a = sums.select(col("split").as("split_a"), col("label"),
        col("dim"), col("s6").as("sa"), col("n").as("n_a"))
      val b = sums.select(col("split").as("split_b"), col("label"),
        col("dim"), col("s6").as("sb"), col("n").as("n_b"))
      a.join(b, Seq("label", "dim"))
        .filter(col("split_a") < col("split_b"))
        // the cross-products are 128-bit BEFORE multiplying: sa ~ n·1e8
        // micro-sums times n_b exceeds int64 at the 100 TB shape, so a
        // plain sa*n_b would wrap silently here while DuckDB raises
        .withColumn("d",
          dec(col("sa")) * col("n_b") - dec(col("sb")) * col("n_a"))
        .withColumn("num", col("d") * col("d"))
        .groupBy("split_a", "split_b", "label")
        .agg(sum(col("num")).as("ss"),
          max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"))
        .select(col("split_a"), col("split_b"),
          col("label").cast("long").as("label"), col("n_a"), col("n_b"),
          round(sqrt(col("ss").cast("double")) /
            (col("n_a").cast("double") * col("n_b").cast("double") * 1e6),
            6).as("centroid_dist6"))
    }, Some(s"""
      WITH e AS (SELECT vec_id, label,
                   ${Micro.vecSql("embedding::DOUBLE[]")} AS x6,
                   CASE WHEN h < 90 THEN 'train'
                        WHEN h < 95 THEN 'val' ELSE 'test' END AS split
                 FROM (SELECT *, ${H.h32Duck(
                   "CAST(vec_id AS VARCHAR) || ':esplit'")} % 100 AS h
                       FROM embeddings)),
      sums AS (SELECT split, label, dim,
                 CAST(sum(x6[dim]) AS BIGINT) AS s6,
                 CAST(count(*) AS BIGINT) AS n
               FROM e, UNNEST(range(1, len(x6) + 1)) t(dim)
               GROUP BY 1, 2, 3),
      prs AS (SELECT a.split AS split_a, b.split AS split_b, a.label,
                a.dim, a.s6 AS sa, a.n AS n_a, b.s6 AS sb, b.n AS n_b,
                CAST(a.s6 AS HUGEINT) * b.n
                  - CAST(b.s6 AS HUGEINT) * a.n AS d
              FROM sums a JOIN sums b
                ON a.label = b.label AND a.dim = b.dim
                AND a.split < b.split)
      SELECT split_a, split_b, CAST(label AS BIGINT) AS label,
             max(n_a) AS n_a, max(n_b) AS n_b,
             round(sqrt(CAST(sum(d * d) AS DOUBLE)) /
                   (CAST(max(n_a) AS DOUBLE) * max(n_b) * 1e6), 6)
               AS centroid_dist6
      FROM prs GROUP BY 1, 2, 3"""))
  }

  /** p93: multimodal BYTE-level near-dup — frame-fingerprint Jaccard
    * over the p16 frame decomposition: two media objects whose 64-byte
    * frame-hash SETS overlap are byte-near-duplicates (the video-dedup
    * standard: per-frame fingerprints, set overlap — catches re-muxed
    * or partially-overwritten copies that exact content hashes miss,
    * with no decode required). Frames are fixed-offset, so the
    * detector models fixed-block formats (raw frames, PCM blocks);
    * for byte-shift robustness the p42 CDC chunking is the drop-in
    * alternative frame rule — stated, not hidden. Shape: p03's
    * candidate discipline applied to binary frames — a per-frame df
    * cap defuses hot boilerplate blocks, candidate volume is bounded
    * by df-capped posting pairs, never |media|². Jaccard denominators
    * use the FULL per-object frame-set sizes; candidate generation
    * AND intersection counting run over the df-capped postings
    * (p03's rule) — identically in the oracle.
    */
  private[queries] def mmNearDupEntry: Entry =
    Entry("p93_mm_neardup", (s, dir) => {
      val fr = docs(s, dir)
        .withColumn("hx", hex(encode(col("text"), "UTF-8")))
        .filter(length(col("hx")) > 0)
        .withColumn("frame_idx", expr(
          "explode(sequence(0, cast(ceil(length(hx)/128.0) as int) - 1))"))
        .select(col("doc_id"),
          md5(expr("substr(hx, frame_idx*128 + 1, 128)").cast("binary"))
            .as("fh"))
        .distinct()
        .persistTracked() // read three times: set sizes, df cap, pair join
      val counts = fr.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val keepFh = fr.groupBy("fh").agg(count(lit(1)).as("df"))
        .filter(col("df") <= 40).select("fh")
      val cp = fr.join(keepFh, "fh").select("doc_id", "fh")
      cp.toDF("doc_a", "fh")
        .join(cp.toDF("doc_b", "fh"), "fh")
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common"))
        .join(counts.toDF("doc_a", "n_a"), "doc_a")
        .join(counts.toDF("doc_b", "n_b"), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("common"), col("n_a"),
          col("n_b"),
          round(col("common") /
            (col("n_a") + col("n_b") - col("common")), 6)
            .as("frame_jaccard"))
        .filter(col("frame_jaccard") >= 0.25)
    }, Some("""
      WITH h AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents),
      fr AS (SELECT DISTINCT doc_id,
               md5(substr(hx, CAST(i*128 + 1 AS INT), 128)) AS fh
             FROM h, UNNEST(range(0,
               CAST(ceil(length(hx)/128.0) AS BIGINT))) t(i)
             WHERE length(hx) > 0),
      counts AS (SELECT doc_id, count(*) AS n FROM fr GROUP BY doc_id),
      keepfh AS (SELECT fh FROM (
                   SELECT fh, count(*) AS df FROM fr GROUP BY fh)
                 WHERE df <= 40),
      cp AS (SELECT f.doc_id, f.fh FROM fr f JOIN keepfh USING (fh)),
      pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  count(*) AS common
                FROM cp a JOIN cp b USING (fh)
                WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
      SELECT p.doc_a, p.doc_b, p.common, ca.n AS n_a, cb.n AS n_b,
             round(p.common / (ca.n + cb.n - p.common), 6)
               AS frame_jaccard
      FROM pairs p
      JOIN counts ca ON ca.doc_id = p.doc_a
      JOIN counts cb ON cb.doc_id = p.doc_b
      WHERE round(p.common / (ca.n + cb.n - p.common), 6) >= 0.25"""))

  /** p94: EPOCH SCHEDULE — the training-order manifest, the artifact
    * that actually feeds the trainer: p90's kept docs in a
    * deterministic weighted-fair interleave (stride scheduling / WFQ
    * virtual time: the k-th doc of source s runs at vt = k/w_s, global
    * order = sort by vt) so every prefix of the epoch carries each
    * source in proportion to its weight — no "first 10B tokens are all
    * one crawl" pathology, and the order is a pure function of the
    * corpus (restartable, resumable, auditable — what a shuffle-seed
    * order is not). Weights = kept-doc mass per source; within-source
    * order is a keyed-hash shuffle (the p88 bottom-k determinism).
    * vt = k/w is ONE double division of exact ints (identical both
    * engines); vt ties (k proportional to w) break on (source,
    * doc_id). Shape at 100 TB: the interleave numbering is TWO-PHASE
    * (p20's distributed prefix-sum trick), never a single-partition
    * global window: vt ∈ (0,1] buckets into 1024 ranges aligned with
    * the (vt, source, doc) sort order, phase 1 prefix-sums the tiny
    * bucket-count table (≤ 1024 rows — the ONE allowlisted
    * unpartitioned window), phase 2 adds a per-bucket rank
    * window to the broadcast bucket base. Output is bit-identical to
    * the global row_number (bucket is a monotone function of the
    * leading sort key), so the oracle keeps the one-window SQL. Prefix
    * fairness |count_s(L) − L·w_s/W| ≤ 2 is pinned in the spec.
    */
  /** p94's virtual-time bucket count: vt ∈ (0,1] splits into this many
    * range buckets for the two-phase global numbering. Any value works
    * (output is invariant); 1024 keeps every bucket ≈ corpus/1024 rows
    * (vt is near-uniform under the stride interleave) and the phase-1
    * bucket table trivially driver-small.
    */
  private[queries] val EpochBuckets = 1024L

  private[queries] def epochScheduleEntry: Entry = {
    import graft.functions.{HashScheme => H}
    Entry("p94_epoch_schedule", (s, dir) => {
      val kept = Catalog.queries("p90_curation_decision")(s, dir)
        .filter(col("keep")).select("doc_id", "source")
      val w = kept.groupBy("source").agg(count(lit(1)).as("w"))
      val wIn = Window.partitionBy("source").orderBy(
        expr(H.h60Spark("concat(cast(doc_id as string), ':epoch')")),
        col("doc_id"))
      // persisted: phases 1 and 2 both read the vt frame; uncached the
      // whole p90 decision plan would run twice
      val vts = kept
        .withColumn("k", row_number().over(wIn).cast("long"))
        .join(broadcast(w), "source")
        .withColumn("vt", col("k").cast("double") / col("w").cast("double"))
        .withColumn("vb", least(
          floor(col("vt") * EpochBuckets).cast("long"),
          lit(EpochBuckets - 1L)))
        .persistTracked()
      val bases = vts.groupBy("vb").agg(count(lit(1)).as("bn"))
        .withColumn("base", coalesce(sum(col("bn")).over(
          Window.orderBy("vb")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("vb", "base")
      val wB = Window.partitionBy("vb")
        .orderBy(col("vt"), col("source"), col("doc_id"))
      vts.join(broadcast(bases), "vb")
        .withColumn("epoch_pos",
          col("base") + row_number().over(wB).cast("long"))
        .select("epoch_pos", "doc_id", "source", "k")
    }, Some(s"""
      WITH $curationCtes,
      kept AS (SELECT doc_id, source FROM decision WHERE keep),
      w AS (SELECT source, CAST(count(*) AS BIGINT) AS w
            FROM kept GROUP BY source),
      ranked AS (SELECT k.doc_id, k.source,
                   CAST(row_number() OVER (PARTITION BY k.source
                     ORDER BY ${H.h60Duck(
                       "CAST(k.doc_id AS VARCHAR) || ':epoch'")},
                       k.doc_id) AS BIGINT) AS k
                 FROM kept k),
      vts AS (SELECT r.doc_id, r.source, r.k,
                CAST(r.k AS DOUBLE) / w.w AS vt
              FROM ranked r JOIN w USING (source))
      SELECT CAST(row_number() OVER (ORDER BY vt, source, doc_id)
               AS BIGINT) AS epoch_pos,
             doc_id, source, k
      FROM vts"""), tier = Tier.Bench(Sweep.LinearX100))
  }

  /** p95: DUPLICATE-SPAN LOSS MASK — the per-document mask manifest
    * for "train on everything, learn duplicates once": instead of
    * DROPPING span-duplicated documents, mask the duplicated token
    * RANGES out of the training loss — the recommended treatment for
    * PARTIAL overlap in Lee et al. 2022 ("Deduplicating Training Data
    * Makes Language Models Better"), where whole-doc removal loses the
    * novel remainder. A token position is masked iff ANY
    * corpus-duplicated 8-token span (p44's df ≥ 2 rule, same gram
    * identity) covers it; the output is what a data loader turns into
    * a loss mask: per doc, token count, masked token count, masked
    * fraction, and the count of contiguous masked islands.
    *
    * Exactness: island folding is pure integer interval algebra inside
    * a doc-partitioned window — an interval opens a new island iff its
    * start exceeds running-max(end)+1 (adjacency merges; 8-long spans
    * guarantee an island covers [min start, max end] with no gaps), so
    * masked_toks = Σ islands (max end − min start + 1), exact on both
    * engines; mask_frac is ONE int/int double division.
    *
    * Shape at 100 TB: identical bounds to p44 — the positional span
    * stream collapses to distinct (doc, span) rows map-side, doc
    * frequency rides one span-partitioned window (a hot boilerplate
    * span costs df rows, never df²), the dup-start join is (doc,
    * span)-keyed, and ALL island work happens inside doc-partitioned
    * windows. No global ordering anywhere.
    */
  private[queries] def dupLossMaskEntry: Entry =
    Entry("p95_dup_loss_mask", (s, dir) => {
      val d = docs(s, dir)
      val pos = d.select(col("doc_id"),
        posexplode(TextHashFunctions.ngram_hashes(toks, 8)))
        .toDF("doc_id", "gpos", "g")
        .select(col("doc_id"), (col("gpos") + 1L).as("st"),
          (col("gpos") + 8L).as("en"), col("g"))
      val pd = pos.select("doc_id", "g").distinct()
        .withColumn("df", count(lit(1)).over(Window.partitionBy("g")))
      val dup = pos
        .join(pd.filter(col("df") >= 2).select("doc_id", "g"),
          Seq("doc_id", "g"))
        .select("doc_id", "st", "en")
      val wRun = Window.partitionBy("doc_id").orderBy(col("st"), col("en"))
      val isl = dup
        .withColumn("pmax", max(col("en")).over(
          wRun.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("ni", when(col("pmax").isNull ||
          col("st") > col("pmax") + 1L, 1L).otherwise(0L))
        .withColumn("iid", sum(col("ni")).over(
          wRun.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("doc_id", "iid")
        .agg((max(col("en")) - min(col("st")) + lit(1L)).as("ilen"))
        .groupBy("doc_id")
        .agg(sum(col("ilen")).as("masked_toks"),
          count(lit(1)).as("n_islands"))
      d.select(col("doc_id"), size(toks).cast("long").as("n_toks"))
        .join(isl, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_toks"),
          coalesce(col("masked_toks"), lit(0L)).as("masked_toks"),
          coalesce(col("n_islands"), lit(0L)).as("n_islands"),
          (coalesce(col("masked_toks"), lit(0L)).cast("double") /
            col("n_toks")).as("mask_frac"))
    }, Some(s"""
      WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
      g AS (SELECT doc_id, CAST(i AS BIGINT) AS st,
                   CAST(i + 7 AS BIGINT) AS en,
                   array_to_string(toks[i:i+7], ' ') AS g
            FROM d, UNNEST(CASE WHEN len(toks) >= 8
                                THEN range(1, len(toks)-6)
                                ELSE [] END) t(i)),
      pd AS (SELECT DISTINCT doc_id, g FROM g),
      dfq AS (SELECT g, count(*) AS df FROM pd GROUP BY g),
      dup AS (SELECT gg.doc_id, gg.st, gg.en
              FROM g gg JOIN dfq USING (g) WHERE dfq.df >= 2),
      run AS (SELECT doc_id, st, en,
                max(en) OVER (PARTITION BY doc_id ORDER BY st, en
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS pmax
              FROM dup),
      isl AS (SELECT doc_id, st, en,
                CAST(sum(CASE WHEN pmax IS NULL OR st > pmax + 1
                              THEN 1 ELSE 0 END)
                  OVER (PARTITION BY doc_id ORDER BY st, en
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS iid
              FROM run),
      agg1 AS (SELECT doc_id, iid, max(en) - min(st) + 1 AS ilen
               FROM isl GROUP BY doc_id, iid),
      agg AS (SELECT doc_id, CAST(sum(ilen) AS BIGINT) AS masked_toks,
                     CAST(count(*) AS BIGINT) AS n_islands
              FROM agg1 GROUP BY doc_id)
      SELECT d.doc_id, CAST(len(d.toks) AS BIGINT) AS n_toks,
             coalesce(a.masked_toks, 0) AS masked_toks,
             coalesce(a.n_islands, 0) AS n_islands,
             CAST(coalesce(a.masked_toks, 0) AS DOUBLE) / len(d.toks)
               AS mask_frac
      FROM d LEFT JOIN agg a USING (doc_id)"""))

  /** p96: PACKING-EFFICIENCY report — the economics view over p20's
    * sequence-packing manifest (the p65-savings-report pattern applied
    * to packing): per pack, how many docs start there, how many span
    * the boundary, and what the TRUNCATE-at-boundary policy would cost
    * in lost tokens (overflow = tokens past the pack end; under the
    * span policy those tokens continue into the next pack, under the
    * truncate policy they are the training data thrown away). This is
    * the table a pipeline owner reads to pick budget/policy: a high
    * trunc-loss fraction says "span or re-order", a low one says
    * "truncate and keep the loader simple". All integer-exact from
    * p20's coordinates; the loss fraction is ONE int/int double
    * division per pack. Shape at 100 TB: one map-side-combined groupBy
    * over p20's already-two-phase output — adds nothing to its plan.
    */
  private[queries] def packEfficiencyEntry: Entry =
    Entry("p96_pack_efficiency", (s, dir) => {
      packSequences(docs(s, dir))
        .withColumn("overflow", greatest(lit(0L),
          col("pack_offset") + col("n_toks") - lit(PackBudget)))
        .groupBy("pack_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("spans_boundary").cast("long")).as("n_spanning"),
          sum(col("n_toks")).as("started_toks"),
          sum(col("overflow")).as("overflow_toks"))
        .select(col("pack_id"), col("n_docs"), col("n_spanning"),
          col("started_toks"), col("overflow_toks"),
          (col("overflow_toks").cast("double") / col("started_toks"))
            .as("trunc_loss_frac"))
    }, Some(s"""
      WITH d AS (SELECT doc_id, len($toksSql) AS n_toks FROM documents),
      c AS (SELECT doc_id, n_toks,
              CAST(COALESCE(sum(n_toks) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS start_tok
            FROM d),
      p AS (SELECT doc_id, n_toks,
              start_tok // $PackBudget AS pack_id,
              start_tok % $PackBudget AS pack_offset
            FROM c)
      SELECT pack_id,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN pack_offset + n_toks > $PackBudget
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_spanning,
             CAST(sum(n_toks) AS BIGINT) AS started_toks,
             CAST(sum(greatest(0, pack_offset + n_toks - $PackBudget))
               AS BIGINT) AS overflow_toks,
             CAST(sum(greatest(0, pack_offset + n_toks - $PackBudget))
               AS DOUBLE) / sum(n_toks) AS trunc_loss_frac
      FROM p GROUP BY pack_id"""))

  /** p97: LSH OCCUPANCY-CAP AUDIT — the observability side-channel for
    * the [[LshBucketCap]] recall trade (p04 band buckets, p05 simhash
    * segments). The cap SKIPS over-cap buckets for candidate
    * generation, which silently drops near-dup pairs for boilerplate
    * clusters hot enough to overflow every band/segment (realistic on
    * web corpora, invisible downstream). This entry is the one-pass
    * census an operator runs next to p04/p05 in production: per
    * family, the bucket count, the hottest bucket, and exactly how
    * many buckets / member rows / would-be candidate pairs the cap is
    * discarding. `n_over_cap = 0` is the healthy reading (and the
    * pinned state at test SF — CapAuditSpec pins the non-vacuous case
    * on a synthetic hot cluster). Shape at 100 TB: two
    * map-side-combined occupancy aggregates (the same shape the pair
    * generators' `hot` dims already compute) folded to ONE row per
    * family — no joins, no windows, nothing quadratic.
    */
  /** The p97 audit over an arbitrary documents frame — separated from
    * the Entry so PipelineSpec can pin the non-vacuous reading on a
    * synthetic over-cap boilerplate cluster.
    */
  private[queries] def lshCapAudit(d: DataFrame): DataFrame = {
    def auditOne(occ: DataFrame, family: String): DataFrame = {
      val over = col("occ") > lit(LshBucketCap)
      occ.agg(
        count(lit(1)).as("n_buckets"),
        max(col("occ")).as("max_occ"),
        sum(when(over, lit(1L)).otherwise(lit(0L))).as("n_over_cap"),
        sum(when(over, col("occ")).otherwise(lit(0L)))
          .as("skipped_members"),
        // occ*(occ-1) is even, so integer DIV 2 is exact
        sum(when(over, expr("occ * (occ - 1) div 2")).otherwise(lit(0L)))
          .as("skipped_pairs"))
        .select(lit(family).as("family"),
          lit(LshBucketCap).as("cap"), col("n_buckets"), col("max_occ"),
          col("n_over_cap"), col("skipped_members"), col("skipped_pairs"))
    }
    val mOcc = minhashBanded0(minhashSigs(d))
      .groupBy("band", "bucket").agg(count(lit(1)).as("occ"))
      .select("occ")
    val sOcc = simhashSeg0(simhashSigs(d))
      .groupBy("seg", "val").agg(count(lit(1)).as("occ"))
      .select("occ")
    auditOne(mOcc, "minhash").unionAll(auditOne(sOcc, "simhash"))
  }

  private[queries] def lshCapAuditEntry: Entry = {
    // lshCapAudit's auditOne in DuckDB: CTE `cte` over occupancies `occ`
    def auditSql(cte: String, family: String, occ: String) =
      s"""$cte AS (SELECT '$family' AS family,
               CAST($LshBucketCap AS BIGINT) AS cap,
               CAST(count(*) AS BIGINT) AS n_buckets,
               CAST(max(occ) AS BIGINT) AS max_occ,
               CAST(sum(CASE WHEN occ > $LshBucketCap THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_over_cap,
               CAST(sum(CASE WHEN occ > $LshBucketCap THEN occ ELSE 0 END)
                 AS BIGINT) AS skipped_members,
               CAST(sum(CASE WHEN occ > $LshBucketCap
                 THEN occ * (occ - 1) // 2 ELSE 0 END) AS BIGINT)
                 AS skipped_pairs
             FROM $occ)"""
    Entry("p97_lsh_cap_audit", (s, dir) => lshCapAudit(docs(s, dir)),
      Some(s"""
      WITH $lshBandedOracleCtes,
      $simhashSeg0OracleCtes,
      occ_m AS (SELECT count(*) AS occ FROM banded0 GROUP BY band, bucket),
      occ_s AS (SELECT count(*) AS occ FROM seg0 GROUP BY seg, val),
      ${auditSql("am", "minhash", "occ_m")},
      ${auditSql("asx", "simhash", "occ_s")}
      SELECT * FROM am UNION ALL SELECT * FROM asx"""))
  }

  /** p98: winnowed-fingerprint containment — the MOSS overlap measure
    * over p36's fingerprint sets: |F_A ∩ F_B| / min(|F_A|, |F_B|) for
    * doc pairs sharing at least one surviving fingerprint, thresholded
    * at 0.5. This is the SCALE companion of p37's full-shingle
    * containment: the winnowing guarantee (every ≥w-gram match shares
    * a fingerprint) means real overlap still surfaces, but the posting
    * list carries only the ~2/(w+1) winnow sample of the gram stream —
    * at 100 TB that is the difference between joining every 3-gram and
    * joining a fixed fraction of them. Candidate generation is the
    * p03/p37 df-capped equi-join discipline on the fingerprint value:
    * a fingerprint shared by more than [[P03DfCap]] docs is boilerplate
    * and contributes ZERO candidates (bounding any bucket at dfCap²
    * pairs), while each doc's FULL fingerprint-set size feeds the
    * denominator so the capped postings never inflate containment.
    * Fingerprint sets come from the p36 CATALOG ENTRY at run time (the
    * p69/p70 no-shadow-pipeline pattern) and the oracle shares p36's
    * selection CTE chain verbatim. Exactness: common and set sizes are
    * exact integers; containment is one IEEE division + round(6) in
    * the identical op order on both engines (the proven p37 idiom).
    */
  private[queries] def winnowContainmentEntry: Entry =
    Entry("p98_winnow_containment", (s, dir) => {
      val fp = Catalog.queries("p36_winnowing")(s, dir)
        .select(col("doc_id"), col("fp")).distinct()
        .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
      // df-capped postings, persisted: BOTH self-join sides read them;
      // the fp-window's partitioning is the join's, so the self-join
      // reuses it instead of re-shuffling (the shingleCandidates shape)
      val post = fp
        .withColumn("df", count(lit(1)).over(Window.partitionBy("fp")))
        .filter(col("df") <= P03DfCap)
        .select("doc_id", "n", "fp")
        .persistTracked()
      post.toDF("doc_a", "na", "fp")
        .join(post.toDF("doc_b", "nb", "fp"), "fp")
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(count(lit(1)).as("common"))
        .select(col("doc_a"), col("doc_b"), col("common"),
          round(col("common") / least(col("na"), col("nb")), 6)
            .as("containment"))
        .filter(col("containment") >= 0.5)
    }, Some(s"""
      WITH $winnowSelOracleCtes,
      fps AS (SELECT DISTINCT doc_id, k // 4 AS fp FROM sel),
      cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
              FROM fps GROUP BY doc_id),
      dfc AS (SELECT fp FROM fps GROUP BY fp
              HAVING count(*) <= $P03DfCap),
      post AS (SELECT f.doc_id, f.fp FROM fps f JOIN dfc USING (fp)),
      pairs AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
                  CAST(count(*) AS BIGINT) AS common
                FROM post x JOIN post y USING (fp)
                WHERE x.doc_id < y.doc_id GROUP BY 1, 2)
      SELECT p.doc_a, p.doc_b, p.common,
             round(p.common / least(ca.n, cb.n), 6) AS containment
      FROM pairs p JOIN cnt ca ON p.doc_a = ca.doc_id
                   JOIN cnt cb ON p.doc_b = cb.doc_id
      WHERE round(p.common / least(ca.n, cb.n), 6) >= 0.5"""))

  /** p60's fusion arms: the lexical (BM25, rank `rl`) and dense
    * (brute cosine, rank `rd`) per-query top-10 lists over
    * (query_id, doc_id). Test hook: ScalePropertiesSpec pins each arm
    * unique on (query_id, doc_id), the premise of [[rrfFuse]].
    */
  private[graft] def p60Arms(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val lex = lexTop10(bm25Scores(s, dir))
    val e = embs(s, dir)
    val wd = Window.partitionBy("query_id")
      .orderBy(col("cs").desc, col("doc_id"))
    val dense = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
      .join(e.select(col("vec_id").as("doc_id"), col("emb").as("nemb")),
        col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"),
        round(graft.functions.VectorOps.cosine(col("qemb"),
          col("nemb")), 6).as("cs"))
      .withColumn("rd", row_number().over(wd).cast("long"))
      .filter(col("rd") <= 10)
      .select(col("query_id"), col("doc_id"), col("rd"))
    (lex, dense)
  }

  /** p99's fusion arms: the impact-prefix lexical top-10 (`rl`)
    * and the IVF-PQ dense top-10 (`rd`). Test hook, as [[p60Arms]].
    */
  private[graft] def p99Arms(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val lex = lexTop10(bm25PrefixScores(s, dir, P99ImpactB))
    val dense = ivfPqTopK(s, dir, qMod = 100, k = 10)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rk").as("rd"))
    (lex, dense)
  }

  /** A lexical score list's per-query top-10 by (score6 DESC, doc_id),
    * rank `rl`.
    */
  private def lexTop10(scores: DataFrame): DataFrame =
    scores.withColumn("rl", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("score6").desc, col("doc_id"))).cast("long"))
      .filter(col("rl") <= 10)
      .select(col("query_id"), col("doc_id"), col("rl"))

  /** [[lexTop10]]'s DuckDB twin: CTE `lex` over score relation `src`. */
  private def lexTop10Sql(src: String): String =
    s"""lex AS (SELECT query_id, doc_id, rl FROM (
                SELECT query_id, doc_id,
                       CAST(row_number() OVER (PARTITION BY query_id
                         ORDER BY score6 DESC, doc_id) AS BIGINT) AS rl
                FROM $src) WHERE rl <= 10)"""

  /** [[rrfFuse]]'s DuckDB twin: the full outer join of CTEs `lex` and
    * `dense`, ranked; ends the query.
    */
  private def rrfFuseSql(dense: String): String =
    s"""fused AS (SELECT query_id, doc_id, rl, rd,
                  coalesce(1000000 // (60 + rl), 0) +
                  coalesce(1000000 // (60 + rd), 0) AS rrf6
                FROM lex FULL JOIN $dense USING (query_id, doc_id))
      SELECT query_id, doc_id, rl IS NOT NULL AS in_lexical,
             rd IS NOT NULL AS in_dense, rrf6 / 1e6 AS rrf, rk
      FROM (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY rrf6 DESC, doc_id) AS BIGINT) AS rk
            FROM fused) WHERE rk <= 5"""

  /** Exact integer RRF of two per-query top-10 arms, lexical
    * (query_id, doc_id, rl) and dense (query_id, doc_id, rd): rrf6 =
    * Σ 1e6 // (60 + rank), final top-5 by (rrf6 DESC, doc_id). Each
    * arm must be unique on (query_id, doc_id), pinned per arm by
    * ScalePropertiesSpec through [[p60Arms]] and [[p99Arms]].
    */
  private def rrfFuse(lex: DataFrame, dense: DataFrame): DataFrame = {
    val wf = Window.partitionBy("query_id")
      .orderBy(col("rrf6").desc, col("doc_id"))
    // Both arms are UNIQUE on (query_id, doc_id) — each is a
    // row_number()<=10 filter — so the full outer join is equivalent to
    // UNION + one groupBy(query_id, doc_id) with max() folding the
    // at-most-one non-null rank per side (max == coalesce on singleton
    // groups). A full-outer SortMergeJoin would re-exchange and re-sort
    // both arms (each already partitioned by query_id from its own rank
    // window) and the final window would exchange a third time; the
    // explicit repartition(query_id) satisfies the aggregate (a subset
    // of its grouping keys) AND the fusion window: ONE exchange.
    lex
      .select(col("query_id"), col("doc_id"), col("rl"),
        lit(null).cast("long").as("rd"))
      .unionByName(dense.select(col("query_id"), col("doc_id"),
        lit(null).cast("long").as("rl"), col("rd")))
      .repartition(col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(max(col("rl")).as("rl"), max(col("rd")).as("rd"))
      .withColumn("rrf6",
        expr("coalesce(1000000 div (60 + rl), 0L) + " +
          "coalesce(1000000 div (60 + rd), 0L)"))
      .withColumn("rk", row_number().over(wf).cast("long"))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("doc_id"),
        col("rl").isNotNull.as("in_lexical"),
        col("rd").isNotNull.as("in_dense"),
        (col("rrf6") / 1e6).as("rrf"), col("rk"))
  }

  /** Impact-prefix length for p99's lexical arm: per term, the top-B
    * postings by exact BM25 contribution generate candidates. lazy:
    * referenced from `entries`, which initializes first.
    */
  private[graft] lazy val P99ImpactB = 128

  /** p99: hybrid RRF retrieval over the SCALE-PATH arms — the
    * production twin that completes the declared-baseline pairings
    * (p07 brute -> p15 IVF, p59 brute-PQ -> p63 IVF-PQ, and now
    * p58/p60's brute arms -> THIS): the lexical arm is the
    * impact-ordered posting prefix ([[bm25PrefixScores]], top
    * [[P99ImpactB]] postings per term — no corpus-sized candidate
    * join on head terms), the dense arm is p63's IVF-PQ serving plan
    * ([[ivfPqTopK]], qMod = 100 so the query set is the SAME
    * doc_id % 100 sample the lexical arm scores), and the fusion is
    * p60's exact integer RRF (1e6 // (60 + rank), full outer on the
    * two top-10 lists, final top-5 with total-order tie-breaks).
    * Shape at 100 TB: no corpus-sized all-pairs anywhere — lexical
    * candidates are bounded at |terms| x B, dense candidates by IVF
    * cells x PQ codes; both arms' per-query top-k are
    * WindowGroupLimit-pushed rank limits.
    */
  private[queries] def hybridRrfAnnEntry: Entry =
    Entry("p99_hybrid_rrf_ann", (s, dir) =>
      (rrfFuse _).tupled(p99Arms(s, dir)),
      Some(s"""
      WITH ${bm25PrefixCte(P99ImpactB)},
      ${ivfPqOracleCtes(100)},
      ${lexTop10Sql("psc")},
      den AS (SELECT query_id, neighbor_id AS doc_id, rk AS rd FROM (
                SELECT query_id, neighbor_id,
                       CAST(row_number() OVER (PARTITION BY query_id
                         ORDER BY adot12 DESC, neighbor_id) AS BIGINT)
                         AS rk
                FROM annsc) WHERE rk <= 10),
      ${rrfFuseSql("den")}"""),
      tier = Tier.Bench(Sweep.LinearX100, heavy = true))

  /** p100: recall@5 of the SHIPPED IVF-PQ serving path against the
    * exact integer-dot top-5 — the standing quality monitor every ANN
    * deployment runs next to its latency bench (p69 measures p15's
    * IVF recall; this measures the p63 path p99 serves from). Both
    * arms run on the SAME micro-fixed vectors and the SAME query set
    * (vec_id % 50), and the ANN arm is the p63 builder itself
    * ([[ivfPqTopK]], qMod 50, k 5 — the p69/p70 no-shadow-pipeline
    * pattern), so the metric can never drift from what p63 actually
    * serves. The exact arm is the p07-class DECLARED brute baseline:
    * evaluation-time machinery (query set x corpus scan), not a
    * serving plan — recall audits at 100 TB run it over a sampled
    * query panel exactly like this fixed-fraction one. Recall is the
    * exact HALF_UP micro-division idiom. Measured values on THIS
    * corpus are low by construction (sf0.1: p63 ~0.06 vs p15's ~0.28
    * under p69): the synthetic embeddings are near-isotropic, and
    * IVF probing + M=4 product quantization presume cluster
    * structure that random vectors do not have — the entry's value
    * is the MEASUREMENT (oracle-pinned end to end), which is exactly
    * what flags an under-provisioned ANN config in production.
    */
  private[queries] def ivfPqRecallEntry: Entry =
    Entry("p100_ivfpq_recall", (s, dir) => {
      val e6 = embs(s, dir).select(col("vec_id"), Micro.vec("emb").as("v6"))
      val q = e6.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("v6").as("q6"))
      val wE = Window.partitionBy("query_id")
        .orderBy(col("dot").desc, col("neighbor_id"))
      val exact = q.join(
          e6.select(col("vec_id").as("neighbor_id"), col("v6")),
          col("neighbor_id") =!= col("query_id"))
        .withColumn("dot", graft.functions.SeriesKernelFunctions
          .int_dot(col("q6"), col("v6")))
        .withColumn("rk", row_number().over(wE))
        .filter(col("rk") <= 5)
        .select(col("query_id"), col("neighbor_id"))
      recallReport(exact, ivfPqTopK(s, dir, qMod = 50, k = 5))
    }, Some(s"""
      WITH ${ivfPqOracleCtes(50)},
      exd AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                CAST(list_sum(list_transform(range(1, len(a.v6) + 1),
                  i -> a.v6[i] * b.v6[i])) AS BIGINT) AS dot
              FROM e a JOIN e b ON b.vec_id <> a.vec_id
              WHERE a.vec_id % 50 = 0),
      ext AS (SELECT query_id, neighbor_id FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY dot DESC, neighbor_id) AS rk FROM exd)
              WHERE rk <= 5),
      annt AS (SELECT query_id, neighbor_id FROM (
                 SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY adot12 DESC, neighbor_id) AS BIGINT) AS rk
                 FROM annsc) WHERE rk <= 5),
      m AS (SELECT ex.query_id, count(*) AS n_exact,
              CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
            FROM ext ex LEFT JOIN annt a USING (query_id, neighbor_id)
            GROUP BY 1)
      SELECT query_id, CAST(n_exact AS BIGINT) AS n_exact, n_hits,
             CAST((n_hits * 1000000 + n_exact // 2) // n_exact
               AS BIGINT) / 1e6 AS recall
      FROM m"""),
      // the exact arm is the p07-class declared brute baseline (an
      // evaluation-time recall panel); the ANN arm is the shipped p63
      // serving plan. Swept since r14 (VERDICT r13 #1/#2: the
      // declared-baseline claim was a comment nothing measured)
      tier = Tier.Swept(Sweep.QuadraticNoX100(
        "evaluation-time recall monitor whose exact arm is the p07-class " +
        "declared-brute scan; p07 carries the declared-tier x100 point and " +
        "p63 the serving-path one")))

  /** p101: PERCEPTUAL image near-dup over DECODED rasters — the gap
    * p93's byte-frame identity leaves open (a resized or re-encoded
    * image shares zero payload frames with its original). Each
    * document renders to a deterministic 32×32 grayscale raster
    * (pixel p = 32-bit md5 of its mapped token, mod 256 — the corpus
    * has no real media, so the raster generator doubles as the
    * oracle's replay path), round-trips through the REAL P6 codec
    * ([[graft.multimodal.MultiModal.encodePpmGray]] →
    * [[graft.multimodal.HeaderCodec.decodePpmGray]] at the
    * mapPartitions codec seam), and is fingerprinted with the
    * public-knowledge aHash: 8×8 integer box downsample, bit = block
    * brighter than the image mean (blockSum·64 > grandSum,
    * multiply-through exact). The 64-bit signature splits into EIGHT
    * 8-bit bands — multi-index hashing (Norouzi et al.): pairs
    * sharing a band value are candidates, which by pigeonhole is
    * EXHAUSTIVE for the reported Hamming ≤ 7 radius (8 bands can't
    * all differ on ≤ 7 bit errors). A per-(band, value) df cap of 64
    * defuses hot bands (flat/boilerplate rasters) as an anti-join —
    * candidate volume is Σ df² per surviving band value, never
    * |docs|²; cap loss is the audited p97 trade (at corpus scale the
    * 256-bucket bands saturate and the cap prunes them first — the
    * production knob is wider bands or a longer signature, same
    * plan). The oracle replays pixel → block → bit → band → join
    * arithmetic exactly (all integer); the codec roundtrip the Spark
    * side adds is pixel-identity by construction and pinned real in
    * MultiModalSpec (including aHash invariance under 2×/4× integer
    * upscale re-encode — the robustness p93 cannot have).
    */
  private[queries] def imagePhashEntry: Entry = {
    import graft.functions.{HashScheme => H}
    Entry("p101_image_phash_neardup", (s, dir) => {
      import s.implicits._
      val tok = docs(s, dir)
        .withColumn("tk", toks).filter(size(col("tk")) > 0)
        .select(col("doc_id"), col("tk"))
        .as[(Long, Seq[String])]
      val sig = graft.multimodal.MultiModal.perceptualSignatures(tok)
        .toDF()
        .persistTracked() // read 3×: band postings + both pair sides
      val bandCols = (0 to 7).map(i => col(s"b$i"))
      val posts = sig.select(col("doc_id"),
        posexplode(array(bandCols: _*)).as(Seq("band_idx", "bv")))
      val keep = posts.groupBy("band_idx", "bv")
        .agg(count(lit(1)).as("df")).filter(col("df") <= 64)
        .select("band_idx", "bv")
      val cp = posts.join(keep, Seq("band_idx", "bv"))
        .select("doc_id", "band_idx", "bv")
      val cand = cp.toDF("doc_a", "band_idx", "bv")
        .join(cp.toDF("doc_b", "band_idx", "bv"), Seq("band_idx", "bv"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      val hammingExpr = (0 to 7).map(i => s"bit_count(a$i ^ c$i)")
        .mkString("cast(", " + ", " as bigint)")
      cand
        .join(sig.toDF("doc_a" +: (0 to 7).map(i => s"a$i"): _*), "doc_a")
        .join(sig.toDF("doc_b" +: (0 to 7).map(i => s"c$i"): _*), "doc_b")
        .withColumn("hamming", expr(hammingExpr))
        .filter(col("hamming") <= 7)
        .select(col("doc_a"), col("doc_b"), col("hamming"))
    }, Some(s"""
      WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
      dd AS (SELECT doc_id, toks, len(toks) AS tn FROM d
             WHERE len(toks) > 0),
      px AS (SELECT doc_id,
               ((p // 32) // 4) * 8 + ((p % 32) // 4) AS k,
               ${H.h32Duck("toks[CAST((p * tn) // 1024 + 1 AS INT)]" +
                 " || ':' || CAST(p AS VARCHAR)")} % 256 AS v
             FROM dd, UNNEST(range(0, 1024)) t(p)),
      blk AS (SELECT doc_id, k, CAST(sum(v) AS BIGINT) AS bs
              FROM px GROUP BY 1, 2),
      tot AS (SELECT doc_id, CAST(sum(bs) AS BIGINT) AS g
              FROM blk GROUP BY 1),
      bands AS (SELECT b.doc_id, CAST(k // 8 AS INT) AS band_idx,
                  CAST(sum(CASE WHEN bs * 64 > g
                    THEN CAST(1 AS BIGINT) << CAST(k % 8 AS INT)
                    ELSE 0 END) AS INT) AS bv
                FROM blk b JOIN tot USING (doc_id) GROUP BY 1, 2),
      sigp AS (SELECT doc_id, ${(0 to 7).map(i =>
        s"max(CASE WHEN band_idx = $i THEN bv ELSE 0 END) AS b$i")
        .mkString(", ")}
               FROM bands GROUP BY doc_id),
      keep AS (SELECT band_idx, bv FROM (
                 SELECT band_idx, bv, count(*) AS df
                 FROM bands GROUP BY 1, 2) WHERE df <= 64),
      cp AS (SELECT b.doc_id, b.band_idx, b.bv
             FROM bands b JOIN keep USING (band_idx, bv)),
      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
               FROM cp a JOIN cp b USING (band_idx, bv)
               WHERE a.doc_id < b.doc_id)
      SELECT doc_a, doc_b,
             CAST(${(0 to 7).map(i =>
               s"bit_count(xor(sa.b$i, sb.b$i))").mkString(" + ")}
               AS BIGINT) AS hamming
      FROM cand JOIN sigp sa ON sa.doc_id = doc_a
                JOIN sigp sb ON sb.doc_id = doc_b
      WHERE ${(0 to 7).map(i =>
        s"bit_count(xor(sa.b$i, sb.b$i))").mkString(" + ")} <= 7"""),
      // perceptual near-dup pairs: same banded-pair-output argument as
      // p04 — every base pair gains ~N² twin combinations under exact
      // replication, bounded by the per-(band, value) df cap of 64
      tier = Tier.Swept(Sweep.Quadratic))
  }
}
