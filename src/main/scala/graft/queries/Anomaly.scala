package graft.queries

import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.kernel.AnomalyzerConf
import graft.operators.{AnomalyOps, Detectors}
import graft.operators.EntryCaches.TrackedPersist
import graft.sources.Tables

/** Anomaly-detection queries over the `events` table (series key =
  * event_type, time = ts, observation = value).
  *
  * The deterministic tests (magnitude, fence, cdf and their ensemble)
  * are oracle-checked against DuckDB SQL that mirrors
  * [[graft.operators.Detectors]] expression-for-expression. The
  * bootstrap permutation tests (rank, diff, ks) draw md5-keyed
  * permutations ([[graft.kernel.PermDraw]]) that the DuckDB oracle
  * replays exactly ([[bootstrapOracle]]), so they are value-checked
  * too — and additionally pinned against the sequential kernel in
  * ScalaTest.
  */
object Anomaly {

  /** Shared spec: active 2, seasons 4 (reference default), window 10. */
  val spec: Detectors.Spec = Detectors.Spec(
    activeSize = 2, nSeasons = 4,
    upperBound = 500.0, lowerBound = Some(0.0), sensitivity = 0.1)

  /** a15's EMA horizon (alpha = 1/2 over 16 taps); shared with
    * AnomalySpec so the test derives its bounds from the query's
    * constant instead of pinning a stale copy.
    */
  private[graft] val EmaHorizon = 16

  /** a24's Holt filter length: the forecast folds the 16 points
    * preceding each row. Shared with AnomalySpec.
    */
  private[graft] val HoltHorizon = 16

  /** a24's linear-filter coefficients: f_j = coefficient of the j-th
    * OLDEST point (arr is oldest-first) in l + b after running Holt
    * with alpha = beta = 1/2 from zero state over the horizon —
    * computed by folding a unit impulse at j through the exact
    * recurrence l' = x/2 + (l+b)/2, b' = x/4 − l/4 + 3b/4 in
    * BigDecimal (all values dyadic, so exact and finite-decimal).
    */
  private[graft] lazy val holtCoefs: Seq[java.math.BigDecimal] = {
    import java.math.BigDecimal
    val half = new BigDecimal("0.5")
    val quarter = new BigDecimal("0.25")
    val threeQ = new BigDecimal("0.75")
    (1 to HoltHorizon).map { j =>
      var l = BigDecimal.ZERO
      var b = BigDecimal.ZERO
      for (i <- 1 to HoltHorizon) {
        val x = if (i == j) BigDecimal.ONE else BigDecimal.ZERO
        val lNew = half.multiply(x).add(half.multiply(l.add(b)))
        val bNew = quarter.multiply(x).subtract(quarter.multiply(l))
          .add(threeQ.multiply(b))
        l = lNew; b = bNew
      }
      l.add(b)
    }
  }

  private def detected(s: org.apache.spark.sql.SparkSession, dir: String) =
    Detectors.withProbsFused(Tables.events(s, dir), col("event_type"),
        col("ts"), Seq(col("event_id")), col("value"), spec)
      .filter(col("rn") >= spec.windowSize)

  /** Exact wide integer arithmetic: sums and products of micro values
    * in DECIMAL(38,0), never an int64 that could wrap.
    */
  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  /** Series order: each event_type's rows by (ts, event_id). */
  private def seriesOrder: WindowSpec =
    Window.partitionBy("event_type").orderBy(col("ts"), col("event_id"))

  /** The w-row trailing frame of [[seriesOrder]], current row last. */
  private def trailingFrame(w: Int): WindowSpec =
    seriesOrder.rowsBetween(-(w - 1), 0)

  /** The trailing window per series: `rn` (1-based position in
    * [[seriesOrder]]) and `arr`, the last `w` values of column `v`,
    * oldest first. Rows with rn < w carry a partial window.
    */
  private def withTrailing(df: DataFrame, v: String, w: Int,
      arr: String = "arr"): DataFrame =
    df.withColumn("rn", row_number().over(seriesOrder))
      .withColumn(arr, collect_list(col(v)).over(trailingFrame(w)))

  /** [[withTrailing]] keeping the full windows only (rn >= w). */
  private def trailing(df: DataFrame, v: String, w: Int): DataFrame =
    withTrailing(df, v, w).filter(col("rn") >= w)

  /** [[trailing]]'s DuckDB twin over `events`: the selected `cols`,
    * `rn` and the trailing `arr` of `v` (partial windows included).
    */
  private def trailingSql(cols: String, v: String, w: Int): String =
    s"""SELECT $cols,
               row_number() OVER win AS rn,
               array_agg($v) OVER (win ROWS BETWEEN ${w - 1}
                 PRECEDING AND CURRENT ROW) AS arr
        FROM events
        WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id)"""

  /** [[trailing]] over the micro-fixed value ([[Micro]]) in DuckDB:
    * CTEs `e` (with v6) and `win` (event_type, event_id, rn, arr).
    */
  private def trailingMicroSql(w: Int): String =
    s"""e AS (SELECT event_type, event_id, ts,
                   ${Micro.sql("value")} AS v6 FROM events),
      win AS (SELECT event_type, event_id,
                row_number() OVER w AS rn,
                array_agg(v6) OVER (w ROWS BETWEEN ${w - 1} PRECEDING
                  AND CURRENT ROW) AS arr
              FROM e
              WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id))"""

  /** Hourly series: each event_type's hour buckets (hour_id = epoch
    * seconds) with `w`, the HALF_UP integer mean of the micro-fixed
    * values — the input of the a50/a51 hourly decompositions.
    */
  private def hourlyMicro(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("tsh"))
      .agg(count(lit(1)).as("cnt"), sum(Micro.of("value")).as("s6"))
      .select(col("event_type"), col("tsh").cast("long").as("hour_id"),
        expr("(s6 + cnt div 2) div cnt").as("w"))

  /** [[hourlyMicro]]'s DuckDB twin: CTE `hourly`. */
  private def hourlyMicroSql: String =
    s"""hourly AS (
        SELECT event_type,
               CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT)
                 AS hour_id,
               (sum(${Micro.sql("value")})
                 + count(*) // 2) // count(*) AS w
        FROM events GROUP BY 1, 2)"""

  /** DuckDB SQL computing the same prob columns; kept as one CTE chain
    * shared by all deterministic anomaly oracles. `src` is the source
    * relation — `events` for the raw-series oracles, a derived-series
    * CTE (prepended via `pre`) for aggregate-then-detect compositions
    * like a41; it must expose (event_type, event_id, user_id, ts,
    * value).
    */
  private def probsCteFrom(src: String, pre: String = ""): String = {
    val a = spec.activeSize // 2
    val w = spec.windowSize // 10
    val cdfRefLen = w - a - 1 // 7
    val (lo, hi) = (spec.lowerBound.get, spec.upperBound)
    val bound = (hi - lo) / 2
    val mid = lo + bound
    s"""
    WITH ${pre}base AS (
      SELECT event_type, event_id, user_id, value,
             row_number() OVER win AS rn,
             avg(value) OVER (win ROWS BETWEEN ${a - 1} PRECEDING AND CURRENT ROW) AS act_mean,
             avg(value) OVER (win ROWS BETWEEN ${w - 1} PRECEDING AND $a PRECEDING) AS ref_mean,
             abs(value - lag(value) OVER win) AS d
      FROM $src
      WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), diffs AS (
      SELECT *,
             avg(d) OVER (win ROWS BETWEEN ${a - 1} PRECEDING AND CURRENT ROW) AS act_mean_d,
             avg(d) OVER (win ROWS BETWEEN ${w - 2} PRECEDING AND $a PRECEDING) AS ref_mean_d,
             array_agg(d) OVER (win ROWS BETWEEN ${w - 2} PRECEDING AND $a PRECEDING) AS ref_arr_d
      FROM base
      WINDOW win AS (PARTITION BY event_type ORDER BY rn)
    ), probs AS (
      SELECT event_type, event_id, user_id, rn, value,
        round(least(greatest(
          CASE WHEN ref_mean = 0 THEN (CASE WHEN act_mean = 0 THEN 0.0 ELSE 1.0 END)
               ELSE abs(act_mean - ref_mean) / ref_mean END, 0.0), 1.0), 6) AS prob_magnitude,
        round((pow(10.0, least(greatest(abs(act_mean - $mid) / $bound, 0.0), 1.0)) - 1) / 9, 6) AS prob_fence,
        round(2 * abs(0.5 - len(list_filter(ref_arr_d,
          x -> round(x, 6) <= round(act_mean_d - ref_mean_d, 6))) / $cdfRefLen.0), 6) AS prob_cdf
      FROM diffs
    ), micro AS (
      SELECT *,
        ${Micro.sql("prob_magnitude")} AS pm6,
        ${Micro.sql("prob_fence")} AS pf6,
        ${Micro.sql("prob_cdf")} AS pc6,
        (CASE WHEN round(prob_magnitude * 1e6) > 800000 THEN 10 ELSE 1 END) AS wm,
        (CASE WHEN round(prob_fence * 1e6) > 800000 THEN 10 ELSE 1 END) AS wf
      FROM probs
    ), scored AS (
      SELECT *,
        CASE WHEN pm6 < ${math.round(spec.sensitivity * 1e6)} THEN 0.0
             ELSE floor((2*(wm*pm6 + wf*pf6 + pc6) + (wm + wf + 1))
                        / (2.0*(wm + wf + 1))) / 1e6 END AS prob_ensemble
      FROM micro
    )"""
  }

  private val probsCte: String = probsCteFrom("events")

  /** Kernel-backed conf for the permutation-test queries. */
  private val permConf = AnomalyzerConf(
    activeSize = spec.activeSize, nSeasons = spec.nSeasons,
    permCount = 100, methods = Nil) // methods set per query

  /** DuckDB oracle for the bootstrap permutation tests — a full replay
    * of the kernel's integer-mix draws (see [[graft.kernel.PermDraw]]).
    *
    * The permutation of `n` window positions for (series, row,
    * permutation p, test family f) sorts positions by the composite
    * `key31 << 20 | pos`, where key31 is the lowbias32-style finalizer
    * of `(sh·A + rn·B + p·C + f·D + i·G) mod 2^31` and `sh` is the
    * h60 md5 hash of the series string. Everything runs in the
    * non-negative 31-bit ring, where every product fits native BIGINT
    * on both engines (no HUGEINT — ~14x faster to replay). Because the
    * draw is key-sorting — not sequential RNG consumption — DuckDB
    * reproduces every subset bit-for-bit, turning the formerly
    * rows-only bootstrap queries (a06/a07/a08/a13) into exact
    * value-checked oracles. Family constants: rank=0 (shared by
    * highrank AND lowrank — one draw, two comparisons), diff=1, ks=2.
    *
    * Exactness: rank sums are integers; the KS grid is the a10-pinned
    * cumulative-step fold; ECDF terms are count/int divisions — every
    * comparison both engines make is over identical doubles. The
    * |relDiff| zero-divisor CASE mirrors a09's convention (a no-op on
    * the shipped corpus, which has no zero values at the oracle SF —
    * asserted by CorpusDomainSpec).
    */
  private def bootstrapOracle(p: Int, rank: Boolean, diff: Boolean,
      ks: Boolean): String = {
    import graft.kernel.{PermDraw => PD}
    val a = spec.activeSize // 2
    val w = spec.windowSize // 10
    require(a == 2,
      "bootstrapOracle unrolls Floyd's subset draw for activeSize 2; " +
        "extend the CASE chain for a larger active window")
    val P = "2147483648" // 2^31 — ring size; all products fit BIGINT
    // (f·D) mod 2^31, folded to a literal per family
    def fD(f: Int): String =
      (BigInt(f) * BigInt(PD.D)).mod(BigInt(1) << 31).toString
    // per-(row, perm) linear base for family `f`; `t.p` is the
    // permutation index column. Operands reduce mod 2^31 BEFORE each
    // multiply, keeping products under 2^62 (congruent, overflow-free)
    def zbSql(f: Int): String =
      s"""((sh % $P) * ${PD.A} % $P
         + (rn % $P) * ${PD.B} % $P
         + (t.p % $P) * ${PD.C} % $P
         + ${fD(f)}) % $P AS zb"""
    // raw mixed value at draw index `jExpr` as lateral-alias column
    // chain (suffix `sfx` keeps multiple keys per SELECT distinct)
    def rawCols(sfx: String, jExpr: String): String =
      s"""(zb + ($jExpr) * ${PD.G} % $P) % $P AS za$sfx,
          xor(za$sfx, za$sfx >> 16) * ${PD.M1} % $P AS zc$sfx,
          xor(zc$sfx, zc$sfx >> 15) * ${PD.M2} % $P AS zd$sfx,
          xor(zd$sfx, zd$sfx >> 16) AS raw$sfx"""
    // Floyd a=2 over n=m positions: draw j=m-2 picks r1; draw j=m-1
    // picks r2 unless it duplicates r1, then m-1 (0-based positions)
    val floydCols: String =
      s"""${rawCols("1", "m - 2")},
          ${rawCols("2", "m - 1")},
          raw1 % (m - 1) AS p1,
          CASE WHEN raw2 % m = raw1 % (m - 1) THEN m - 1
               ELSE raw2 % m END AS p2"""
    // full composite key list for the diff test (whole-vector
    // permutation): per position i, finish the mix and append the
    // position in the low 10 bits — four chained vectorized passes
    val keysSql: String =
      s"""list_transform(
           list_transform(
             list_transform(
               list_transform(range(0, m), i ->
                 (zb + i * ${PD.G} % $P) % $P),
               z -> xor(z, z >> 16) * ${PD.M1} % $P),
             z -> xor(z, z >> 15) * ${PD.M2} % $P),
           (z, i) -> xor(z, z >> 16) * 1048576 + (i - 1))"""
    val rankCte = s"""
      rk_rows AS (
        SELECT event_type, event_id, sh, rn, arr, len(arr) AS m,
               list_transform(arr, x ->
                 CAST(len(list_filter(arr, y -> y < x)) AS DOUBLE)) AS rks
        FROM base WHERE len(arr) >= ${2 * a}
      ), rk_act AS (
        SELECT *, list_sum(rks[m-${a - 1}:m]) AS active_sum FROM rk_rows
      ), rk_s AS (
        SELECT event_type, event_id, active_sum, ${zbSql(0)},
               $floydCols,
               rks[p1 + 1] + rks[p2 + 1] AS s
        FROM rk_act, range($p) t(p)
      ), rk_sig AS (
        SELECT event_type, event_id,
               sum(CASE WHEN s < active_sum THEN 1 ELSE 0 END) / $p.0 AS ph,
               sum(CASE WHEN s > active_sum THEN 1 ELSE 0 END) / $p.0 AS pl
        FROM rk_s GROUP BY 1, 2
      )"""
    // |relDiff| with a09's zero-divisor convention (no-op on corpus)
    def rdSql(src: String): String =
      s"""list_transform(range(1, m), i ->
         CASE WHEN $src[i] = 0 THEN
                (CASE WHEN $src[i+1] = 0 THEN 0.0
                 ELSE 'infinity'::DOUBLE END)
              ELSE abs(($src[i+1] - $src[i]) / $src[i]) END)"""
    // rank-sum of the last `a` entries of rd-vector `src` (len m-1)
    def lastRankSum(src: String): String =
      s"""list_sum(list_transform($src[len($src)-${a - 1}:len($src)],
         x -> CAST(len(list_filter($src, y -> y < x)) AS DOUBLE)))"""
    val diffCte = s"""
      df_rows AS (
        SELECT event_type, event_id, sh, rn, arr, len(arr) AS m
        FROM base WHERE len(arr) >= ${2 * a + 1}
      ), df_act AS (
        SELECT *, ${lastRankSum(rdSql("arr"))} AS active_sum FROM df_rows
      ), df_perm AS (
        SELECT event_type, event_id, active_sum, m, arr, ${zbSql(1)}
        FROM df_act, range($p) t(p)
      ), df_vp AS (
        SELECT event_type, event_id, active_sum, m,
               list_transform(list_sort($keysSql),
                 k -> arr[(k % 1048576) + 1]) AS vp
        FROM df_perm
      ), df_sig AS (
        SELECT event_type, event_id,
               sum(CASE WHEN ${lastRankSum(rdSql("vp"))} < active_sum
                   THEN 1 ELSE 0 END) / $p.0 AS pd
        FROM df_vp GROUP BY 1, 2
      )"""
    val ksCte = s"""
      ks_rows AS (
        SELECT event_type, event_id, sh, rn, arr, len(arr) AS m,
               list_min(arr) AS lo,
               (list_max(arr) - list_min(arr)) / (len(arr) - 1) AS step
        FROM base
        WHERE len(arr) >= ${2 * a} AND (len(arr) - $a) % $a = 0
      ), ks_grid AS (
        -- the kernel's cumulative-step linspace (a10's pinned fold)
        SELECT *, list_reduce(
            list_prepend([lo], list_transform(range(1, m), j -> [step])),
            (acc, x) -> list_append(acc, acc[len(acc)] + x[1])) AS grid
        FROM ks_rows
      ), ks_tot AS (
        SELECT *,
          list_transform(grid, g -> len(list_filter(arr, y -> y <= g))) AS tot,
          list_transform(grid, g ->
            len(list_filter(arr[m-${a - 1}:m], y -> y <= g))) AS ca0
        FROM ks_grid
      ), ks_dist AS (
        SELECT *, list_max(list_transform(range(1, m + 1), gi ->
            abs(ca0[gi] / $a.0 - (tot[gi] - ca0[gi]) / (m - $a)))) AS dist
        FROM ks_tot
      ), ks_perm AS (
        SELECT event_type, event_id, m, grid, tot, dist, ${zbSql(2)},
               $floydCols,
               arr[p1 + 1] AS av1, arr[p2 + 1] AS av2
        FROM ks_dist, range($p) t(p)
      ), ks_ca AS (
        SELECT event_type, event_id, m, tot, dist,
               list_transform(grid, g ->
                 (av1 <= g)::BIGINT + (av2 <= g)::BIGINT) AS ca
        FROM ks_perm
      ), ks_sig AS (
        SELECT event_type, event_id,
               sum(CASE WHEN list_max(list_transform(range(1, m + 1), gi ->
                   abs(ca[gi] / $a.0 - (tot[gi] - ca[gi]) / (m - $a)))) < dist
                   THEN 1 ELSE 0 END) / $p.0 AS pks
        FROM ks_ca GROUP BY 1, 2
      )"""
    val ctes = Seq(
      if (rank) Some(rankCte) else None,
      if (diff) Some(diffCte) else None,
      if (ks) Some(ksCte) else None).flatten.mkString(",", ",", "")
    val joins = Seq(
      if (rank) Some("LEFT JOIN rk_sig r USING (event_type, event_id)") else None,
      if (diff) Some("LEFT JOIN df_sig d USING (event_type, event_id)") else None,
      if (ks) Some("LEFT JOIN ks_sig k USING (event_type, event_id)") else None)
      .flatten.mkString(" ")
    // Ensemble.combine: equal 0.5 weights; x*0.5 and the two-term
    // weighted mean are exact FP mirrors of the kernel's weightedMean
    val probExpr =
      if (rank && ks) """CASE
          WHEN r.ph IS NOT NULL AND k.pks IS NOT NULL
            THEN greatest(r.ph, r.pl) * 0.5 + k.pks * 0.5
          WHEN r.ph IS NOT NULL THEN greatest(r.ph, r.pl)
          ELSE 0.0 END"""
      else if (rank) "coalesce(greatest(r.ph, r.pl), 0.0)"
      else if (diff) "coalesce(d.pd, 0.0)"
      else "coalesce(k.pks, 0.0)"
    s"""
    WITH base AS (
      SELECT event_type, event_id,
             row_number() OVER win AS rn,
             array_agg(value) OVER (win ROWS BETWEEN ${w - 1}
               PRECEDING AND CURRENT ROW) AS arr,
             CAST('0x' || substr(md5(event_type), 1, 15) AS BIGINT) AS sh
      FROM events
      WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id)
    )$ctes
    SELECT b.event_type, b.event_id, round($probExpr, 6) AS prob
    FROM base b $joins"""
  }

  // Chunked evaluation: the plain per-series window caps parallelism
  // at the series count (5 here), which was fine while the draw was
  // O(a) RNG calls but leaves cores idle now that eval carries the
  // oracle-replayable key derivation (~3x the arithmetic). At
  // sf0.1/permCount=100 the two paths measure within noise of each
  // other (~1.0-1.3 s) — the chunked shape is kept because its
  // parallelism is series x chunks, not series: on a hot/few-series
  // corpus (the regime the path exists for) plain degrades with the
  // series count while chunked holds. Bit-identical to plain
  // (AnomalyOpsSpec pins it; the draw identity depends only on
  // (series, original row position)).
  private def permQuery(methods: Seq[String]) =
    (s: org.apache.spark.sql.SparkSession, dir: String) =>
      AnomalyOps.withAnomalyProbsChunked(Tables.events(s, dir),
          col("event_type"), col("ts"), col("value"),
          permConf.copy(methods = methods),
          tieBreak = Seq(col("event_id")), chunkSize = 2048)
        .select(col("event_type"), col("event_id"),
          round(col("anomaly_prob"), 6).as("prob"))

  /** a04's oracle, shared with a12 (the chunked evaluation of the same
    * ensemble must satisfy the identical SQL contract).
    */
  private val ensembleOracle = s"""$probsCte
        SELECT event_type, event_id, prob_ensemble
        FROM scored WHERE rn >= ${spec.windowSize}"""

  val entries: Seq[Entry] = Seq(

    Entry("a01_anomaly_magnitude", (s, dir) =>
      detected(s, dir).select("event_type", "event_id", "prob_magnitude"),
      Some(s"""$probsCte
        SELECT event_type, event_id, prob_magnitude
        FROM scored WHERE rn >= ${spec.windowSize}""")),

    Entry("a02_anomaly_fence", (s, dir) =>
      detected(s, dir).select("event_type", "event_id", "prob_fence"),
      Some(s"""$probsCte
        SELECT event_type, event_id, prob_fence
        FROM scored WHERE rn >= ${spec.windowSize}""")),

    Entry("a03_anomaly_cdf", (s, dir) =>
      detected(s, dir).select("event_type", "event_id", "prob_cdf"),
      Some(s"""$probsCte
        SELECT event_type, event_id, prob_cdf
        FROM scored WHERE rn >= ${spec.windowSize}""")),

    // weighted ensemble incl. magnitude short-circuit + dynamic weights
    Entry("a04_anomaly_ensemble", (s, dir) =>
      detected(s, dir)
        .select("event_type", "event_id", "prob_ensemble"),
      Some(ensembleOracle), tier = Tier.Bench(core = true)),

    // a12: the SAME ensemble as a04, but through the chunked scale path
    // (Detectors.withProbsChunked) against the SAME oracle — the driver
    // itself proves bit-parity of the plan that survives hot/few-series
    // corpora (parallelism = series × chunks, not series). chunkSize 512
    // so sf0.01 (~2000 rows/series) already crosses chunk boundaries.
    Entry("a12_anomaly_ensemble_chunked", (s, dir) =>
      Detectors.withProbsChunked(Tables.events(s, dir), col("event_type"),
          col("ts"), Seq(col("event_id")), col("value"), spec,
          chunkSize = 512)
        .filter(col("rn") >= spec.windowSize)
        .select("event_type", "event_id", "prob_ensemble"),
      Some(ensembleOracle)),

    // detect -> threshold -> enrich (join back to a dimension)
    Entry("a05_anomaly_enrich", (s, dir) => {
      val anomalous = Detectors.withProbs(Tables.events(s, dir),
          col("event_type"), col("ts"), Seq(col("event_id")), col("value"), spec)
        .filter(col("rn") >= spec.windowSize && col("prob_ensemble") > 0.5)
      // exact integer-micro average (see Detectors ensemble note)
      val sumMicro = sum(round(col("prob_ensemble") * 1e6).cast("long"))
      val cnt = count(lit(1))
      anomalous
        .join(broadcast(Tables.table(s, dir, "customer")),
          col("user_id") === col("c_custkey"))
        .groupBy("event_type", "c_mktsegment")
        .agg(cnt.as("n_anomalies"),
          (floor((lit(2L) * sumMicro + cnt) / (lit(2L) * cnt)) / 1e6)
            .as("avg_prob"))
    }, Some(s"""$probsCte,
      anomalous AS (
        SELECT event_type, user_id, prob_ensemble
        FROM scored
        WHERE rn >= ${spec.windowSize} AND prob_ensemble > 0.5
      )
      SELECT a.event_type, c.c_mktsegment,
             count(*) AS n_anomalies,
             floor((2*sum(${Micro.sql("a.prob_ensemble")}) + count(*))
                   / (2.0*count(*))) / 1e6 AS avg_prob
      FROM anomalous a JOIN customer c ON a.user_id = c.c_custkey
      GROUP BY a.event_type, c.c_mktsegment"""),
      tier = Tier.Swept(Sweep.Linear)),

    // bootstrap permutation tests: kernel-backed, md5-keyed draws —
    // exact DuckDB oracles replay every permutation (bootstrapOracle);
    // Spark == sequential kernel additionally pinned in AnomalyOpsSpec
    Entry("a06_anomaly_rank", permQuery(Seq("highrank", "lowrank")),
      Some(bootstrapOracle(permConf.permCount,
        rank = true, diff = false, ks = false)),
      tier = Tier.Bench(core = true)),
    Entry("a07_anomaly_diff", permQuery(Seq("diff")),
      Some(bootstrapOracle(permConf.permCount,
        rank = false, diff = true, ks = false))),
    Entry("a08_anomaly_ks", permQuery(Seq("ks")),
      Some(bootstrapOracle(permConf.permCount,
        rank = false, diff = false, ks = true))),

    // a13: the rank/ks permutation family at the REFERENCE default
    // permCount=500 (anomalyze.go:77-81) through the chunked kernel
    // evaluator — the regime where per-row eval cost dominates and
    // series×chunk parallelism wins over the plain per-series window
    // (measured crossover at permCount >= 500, see the permQuery note).
    // Benched so the scale path's claim is a driver-measured number, not
    // an assertion; bit-parity with the plain path is pinned in
    // AnomalyOpsSpec; value-checked by the md5-draw replay oracle.
    Entry("a13_anomaly_perm500_chunked", (s, dir) =>
      AnomalyOps.withAnomalyProbsChunked(Tables.events(s, dir),
          col("event_type"), col("ts"), col("value"),
          permConf.copy(permCount = 500,
            methods = Seq("highrank", "lowrank", "ks")),
          tieBreak = Seq(col("event_id")), chunkSize = 2048)
        .select(col("event_type"), col("event_id"),
          round(col("anomaly_prob"), 6).as("prob")),
      Some(bootstrapOracle(500, rank = true, diff = false, ks = true)),
      tier = Tier.Bench(Sweep.LinearX100, core = true, heavy = true)),

    // a09: the deterministic core of the rank/diff tests, SQL-checkable.
    // The bootstrap p-values above resample with a seeded RNG (not
    // SQL-expressible); the statistics they permute — min-tie rank sums
    // of the active window, over raw values (rank tests,
    // algorithms.go:170-205) and over |relative diffs| (diff test,
    // algorithms.go:105-140) — are exact integers, oracled here.
    Entry("a09_anomaly_rank_stats", (s, dir) => {
      val a = spec.activeSize // 2
      val w = spec.windowSize // 10
      Tables.events(s, dir)
        .transform(trailing(_, "value", w))
        .withColumn("act", expr(s"slice(arr, ${w - a + 1}, $a)"))
        // zero-divisor guard: ANSI Spark ERRORS on x/0 (sf0.1 has zero
        // values — sf0.01 does not, so the driver gate alone would
        // never see it), and 0/0's NaN orders differently across
        // engines. The SQL statistic therefore defines |reldiff| at a
        // zero divisor as 0 (no change) for a zero diff and +Infinity
        // otherwise — infinities compare identically on both engines;
        // the kernel path (a07) keeps full IEEE semantics.
        .withColumn("rd", expr(
          "transform(sequence(1, size(arr) - 1), i -> " +
            "case when element_at(arr, i) = 0D then " +
            "(case when element_at(arr, i + 1) = 0D then 0D " +
            "else cast('Infinity' as double) end) " +
            "else abs((element_at(arr, i + 1) - element_at(arr, i)) " +
            "/ element_at(arr, i)) end)"))
        .withColumn("rdact", expr(s"slice(rd, size(rd) - ${a - 1}, $a)"))
        // native rank-sum kernel — the aggregate/filter lambda form of
        // the same statistic is O(w²) interpreted per row
        .select(col("event_type"), col("event_id"),
          graft.functions.SeriesKernelFunctions
            .double_rank_sum(col("act"), col("arr"))
            .as("active_rank_sum"),
          graft.functions.SeriesKernelFunctions
            .double_rank_sum(expr(s"slice(arr, 1, size(arr) - $a)"),
              col("arr")).as("ref_rank_sum"),
          graft.functions.SeriesKernelFunctions
            .double_rank_sum(col("rdact"), col("rd"))
            .as("active_reldiff_rank_sum"))
    }, Some(s"""
      WITH base AS (
        ${trailingSql("event_type, event_id", "value", spec.windowSize)}
      ), full_w AS (
        SELECT event_type, event_id, arr,
               arr[${spec.windowSize - spec.activeSize + 1}:${spec.windowSize}] AS act,
               list_transform(range(1, len(arr)),
                 i -> CASE WHEN arr[i] = 0 THEN
                        (CASE WHEN arr[i+1] = 0 THEN 0.0
                         ELSE 'infinity'::DOUBLE END)
                      ELSE abs((arr[i+1] - arr[i]) / arr[i]) END) AS rd
        FROM base WHERE rn >= ${spec.windowSize}
      )
      SELECT event_type, event_id,
        CAST(list_sum(list_transform(act,
          x -> len(list_filter(arr, y -> y < x)))) AS BIGINT) AS active_rank_sum,
        CAST(list_sum(list_transform(arr[1:${spec.windowSize - spec.activeSize}],
          x -> len(list_filter(arr, y -> y < x)))) AS BIGINT) AS ref_rank_sum,
        CAST(list_sum(list_transform(rd[len(rd)-${spec.activeSize - 1}:len(rd)],
          x -> len(list_filter(rd, y -> y < x)))) AS BIGINT) AS active_reldiff_rank_sum
      FROM full_w""")),

    // a10: the deterministic KS grid statistic — the value the ks
    // bootstrap (a08) permutes. The reference evaluates both ECDFs on an
    // (n1+n2)-point linspace built by CUMULATIVE step addition
    // (algorithms.go:255-288, 312-323; kernel Tests.ksCore +
    // Vec.interpolate), so both engines below construct each grid point
    // by the same left-fold addition — bit-identical FP. ECDF values are
    // counts/n, so L*d (L = lcm(n1, n2)) is an exact integer: emitted as
    // ks_stat_num BIGINT alongside ks_stat = num/L (L a power of two
    // here, so the double is exact as well).
    Entry("a10_anomaly_ks_stat", (s, dir) => {
      val a = spec.activeSize // 2
      val w = spec.windowSize // 10
      val n1 = w - a // reference window (8)
      val n2 = a // active window (2)
      val L = KsGrid.lcm(n1, n2) // 8
      Tables.events(s, dir)
        .transform(trailing(_, "value", w))
        // native kernel — same cumulative-fold grid (each point =
        // previous + step, bit-identical to the reference kernel and
        // the oracle's list_reduce) and the same counts, in one loop
        // instead of the O(w²) interpreted filter scans per row
        .withColumn("ks_stat_num",
          graft.functions.SeriesKernelFunctions
            .ks_grid_stat_num(col("arr"), n1, n2))
        .select(col("event_type"), col("event_id"), col("ks_stat_num"),
          (col("ks_stat_num") / lit(L.toDouble)).as("ks_stat"))
    }, Some {
      val a = spec.activeSize
      val w = spec.windowSize
      val n1 = w - a
      val n2 = a
      val L = KsGrid.lcm(n1, n2)
      val mAct = L / n2
      val mRef = L / n1
      s"""
      WITH base AS (
        ${trailingSql("event_type, event_id", "value", w)}
      ), full_w AS (
        SELECT event_type, event_id, arr,
               list_min(arr) AS lo,
               (list_max(arr) - list_min(arr)) / ${w - 1}.0 AS step
        FROM base WHERE rn >= $w
      ), gridded AS (
        -- ONE cumulative fold (each point = previous + step), mirroring
        -- the Spark side's O(w) aggregate: the reduce elements are
        -- single-element lists so the accumulator is a list and each
        -- step appends acc[len(acc)] + step — the identical left-fold
        -- addition order, without the per-point O(w^2) re-fold.
        SELECT event_type, event_id, arr,
               list_reduce(
                 list_prepend([lo], list_transform(range(1, $w), j -> [step])),
                 (acc, x) -> list_append(acc, acc[len(acc)] + x[1])) AS grid
        FROM full_w
      ), stat AS (
        SELECT event_type, event_id,
               CAST(list_max(list_transform(grid, g ->
                 abs($mAct * len(list_filter(arr[${n1 + 1}:$w], y -> y <= g))
                   - $mRef * len(list_filter(arr[1:$n1], y -> y <= g)))))
                 AS BIGINT) AS ks_stat_num
        FROM gridded
      )
      SELECT event_type, event_id, ks_stat_num,
             ks_stat_num / $L.0 AS ks_stat
      FROM stat"""
    }),

    // a11: the reference's EvalByTest surface (anomalyze.go:195-221)
    // driver-checked — routes through the kernel AnomalyProbsByTest
    // expression (NOT the fused DetectorEval) with the deterministic
    // tests, exposing the probmap entries, their ensemble weights
    // (getWeight, anomalyze.go:225-241) and the raw weighted-mean
    // ensemble (anomalyze.go:169-191) as columns. Oracle note: the
    // kernel cdf compares diffs to the threshold UNROUNDED (Tests.cdf),
    // unlike the fused/Column pipeline's round(6)-hardened compare, so
    // this oracle's ECDF filter is unrounded too — exact because both
    // engines build the identical doubles (left-fold frame means,
    // same subtraction) before comparing. BOUND on that exactness: it
    // relies on DuckDB summing these window frames leaf-wise left to
    // right, which holds only while frames stay below its segment-tree
    // fanout (~16 elements; here max 9 = windowSize-1). If spec
    // .windowSize ever exceeds ~16, DuckDB's tree association can
    // differ by ulps and flip a tie — re-add the round(6)-hardened
    // compare used in probsCte in that case. The require below makes
    // that silent-flakiness mode a loud build failure instead.
    Entry("a11_anomaly_by_test", (s, dir) => {
      require(spec.windowSize <= 16,
        "a11's unrounded oracle compare is exact only while window " +
          "frames stay below DuckDB's segment-tree fanout (~16); " +
          s"windowSize=${spec.windowSize} needs the round(6)-hardened " +
          "compare (see probsCte)")
      val byTestConf = AnomalyzerConf(
        activeSize = spec.activeSize, nSeasons = spec.nSeasons,
        upperBound = spec.upperBound, lowerBound = spec.lowerBound,
        sensitivity = spec.sensitivity,
        methods = Seq("magnitude", "fence", "cdf"))
      val wBase = seriesOrder
      val base = Tables.events(s, dir)
        .withColumn("rn", row_number().over(wBase))
      val probs = col("anomaly_probs")
      AnomalyOps.withAnomalyProbs(base, col("event_type"), col("ts"),
          col("value"), byTestConf, tieBreak = Seq(col("event_id")),
          byTest = true)
        .filter(col("rn") >= spec.windowSize)
        .select(col("event_type"), col("event_id"),
          round(element_at(probs, "magnitude"), 6).as("prob_magnitude"),
          round(element_at(probs, "fence"), 6).as("prob_fence"),
          round(element_at(probs, "cdf"), 6).as("prob_cdf"),
          // weights gate on the raw (unrounded) probability
          when(element_at(probs, "magnitude") > 0.8, 5.0).otherwise(0.5)
            .as("w_magnitude"),
          when(element_at(probs, "fence") > 0.8, 5.0).otherwise(0.5)
            .as("w_fence"),
          round(col("anomaly_prob"), 6).as("prob_ensemble_wm"))
    }, Some {
      val a = spec.activeSize // 2
      val w = spec.windowSize // 10
      val cdfRefLen = w - a - 1 // 7
      val (lo, hi) = (spec.lowerBound.get, spec.upperBound)
      val bound = (hi - lo) / 2
      val mid = lo + bound
      s"""
      WITH base AS (
        SELECT event_type, event_id, value,
               row_number() OVER win AS rn,
               avg(value) OVER (win ROWS BETWEEN ${a - 1} PRECEDING AND CURRENT ROW) AS act_mean,
               avg(value) OVER (win ROWS BETWEEN ${w - 1} PRECEDING AND $a PRECEDING) AS ref_mean,
               abs(value - lag(value) OVER win) AS d
        FROM events
        WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id)
      ), diffs AS (
        SELECT *,
               avg(d) OVER (win ROWS BETWEEN ${a - 1} PRECEDING AND CURRENT ROW) AS act_mean_d,
               avg(d) OVER (win ROWS BETWEEN ${w - 2} PRECEDING AND $a PRECEDING) AS ref_mean_d,
               array_agg(d) OVER (win ROWS BETWEEN ${w - 2} PRECEDING AND $a PRECEDING) AS ref_arr_d
        FROM base
        WINDOW win AS (PARTITION BY event_type ORDER BY rn)
      ), raw AS (
        SELECT event_type, event_id, rn,
          least(greatest(
            CASE WHEN ref_mean = 0 THEN (CASE WHEN act_mean = 0 THEN 0.0 ELSE 1.0 END)
                 ELSE abs(act_mean - ref_mean) / ref_mean END, 0.0), 1.0) AS pm,
          (pow(10.0, least(greatest(abs(act_mean - $mid) / $bound, 0.0), 1.0)) - 1) / 9 AS pf,
          2 * abs(0.5 - len(list_filter(ref_arr_d,
            x -> x <= act_mean_d - ref_mean_d)) / $cdfRefLen.0) AS pc
        FROM diffs
      ), weighted AS (
        SELECT *,
          CAST(CASE WHEN pm > 0.8 THEN 5.0 ELSE 0.5 END AS DOUBLE) AS wm,
          CAST(CASE WHEN pf > 0.8 THEN 5.0 ELSE 0.5 END AS DOUBLE) AS wf
        FROM raw
      )
      SELECT event_type, event_id,
        round(pm, 6) AS prob_magnitude,
        round(pf, 6) AS prob_fence,
        round(pc, 6) AS prob_cdf,
        wm AS w_magnitude,
        wf AS w_fence,
        round(CASE WHEN pm < ${spec.sensitivity} THEN 0.0
                   ELSE (pm * wm + pf * wf + pc * 0.5) / (wm + wf + 0.5)
              END, 6) AS prob_ensemble_wm
      FROM weighted WHERE rn >= $w"""
    }),

    // ---- a14: per-series distribution moments (mean, variance,
    // skewness) — the drift profile a fleet compares across deploys to
    // catch regime change the point detectors can't see. Exactness at
    // scale: raw power sums S1..S3 of the 1e-6 fixed-point values are
    // EXACT integers (Spark DECIMAL(38,0) / DuckDB HUGEINT — both
    // 128-bit), so the aggregation is order/partition independent;
    // the conversion to moments happens once per group in identical
    // double op order on both engines. Skewness uses m2·sqrt(m2), not
    // pow(m2, 1.5) — sqrt is IEEE-correctly-rounded everywhere, pow is
    // not. S3 of |v6| <= 6e8 over 1e9 rows stays < 1e36 < 38 digits.
    Entry("a14_moment_drift", (s, dir) => {
      Tables.events(s, dir)
        .select(col("event_type"),
          Micro.of("value").as("v6"))
        .groupBy("event_type")
        .agg(count(lit(1)).cast("double").as("n"),
          sum(col("v6").cast("decimal(38,0)")).cast("double").as("s1"),
          // cast BEFORE multiplying: a bigint v6*v6 overflows int64 for
          // in-domain |value| > ~3e3 (ANSI throw); the decimal product
          // is the same integer
          sum(col("v6").cast("decimal(38,0)") * col("v6"))
            .cast("double").as("s2"),
          sum((col("v6").cast("decimal(38,0)") * col("v6") * col("v6"))
            .cast("decimal(38,0)")).cast("double").as("s3"))
        .selectExpr("event_type", "cast(n as bigint) as n_events",
          "s1 / n AS m1", "s2 / n AS ex2", "s3 / n AS ex3")
        .selectExpr("event_type", "n_events",
          "round(m1 / 1e6, 6) AS mean_v",
          "round((ex2 - (m1 * m1)) / 1e12, 6) AS var_v",
          "round(((ex3 - ((3.0 * m1) * ex2)) + ((2.0 * (m1 * m1)) * m1))" +
            " / ((ex2 - (m1 * m1)) * sqrt(ex2 - (m1 * m1))), 6)" +
            " AS skew_v")
    }, Some(s"""
      WITH e AS (SELECT event_type,
                   ${Micro.sql("value")} AS v6 FROM events),
      sums AS (SELECT event_type,
                 CAST(count(*) AS DOUBLE) AS n,
                 CAST(sum(CAST(v6 AS HUGEINT)) AS DOUBLE) AS s1,
                 CAST(sum(CAST(v6 AS HUGEINT) * v6) AS DOUBLE) AS s2,
                 CAST(sum(CAST(v6 AS HUGEINT) * v6 * v6) AS DOUBLE) AS s3
               FROM e GROUP BY event_type),
      m AS (SELECT event_type, n, s1 / n AS m1, s2 / n AS ex2,
              s3 / n AS ex3 FROM sums)
      SELECT event_type, CAST(n AS BIGINT) AS n_events,
        round(m1 / 1e6, 6) AS mean_v,
        round((ex2 - (m1 * m1)) / 1e12, 6) AS var_v,
        round(((ex3 - ((3.0 * m1) * ex2)) + ((2.0 * (m1 * m1)) * m1))
          / ((ex2 - (m1 * m1)) * sqrt(ex2 - (m1 * m1))), 6) AS skew_v
      FROM m""")),

    // ---- a15: exponentially-weighted moving average (alpha = 1/2,
    // horizon 16) — the smoothing stage ahead of a detector. A true
    // recursive EMA is order-serial (useless on a cluster); over a
    // bounded horizon it is a windowed dot product with geometric
    // weights, which distributes like any other windowed expression.
    // Bit-determinism across engines: the weights are powers of two
    // (every v6·2^-i product is EXACT in ieee754 — no rounding), terms
    // fold left-to-right in both engines (Spark `aggregate` from 0.0,
    // DuckDB `list_reduce` from the first term; 0.0 + t1 == t1
    // bit-exactly), and the tail weight beyond the horizon is folded
    // into the closed-form norm 2 - 2^-15.
    Entry("a15_ema_smooth", (s, dir) => {
      val w = EmaHorizon
      val weights = (1 to w).map(j =>
        new java.math.BigDecimal(math.pow(2.0, (j - w).toDouble))
          .toPlainString)
      val norm = new java.math.BigDecimal(2.0 - math.pow(2.0, -15.0))
        .toPlainString
      Tables.events(s, dir)
        .select(col("event_type"), col("event_id"), col("ts"),
          Micro.of("value").as("v6"))
        .transform(trailing(_, "v6", w))
        .select(col("event_type"), col("event_id"),
          expr(s"round(aggregate(zip_with(arr, " +
            s"array(${weights.mkString("D, ")}D), (x, y) -> x * y), 0D, " +
            s"(a, x) -> a + x) / ${norm}D / 1e6, 6)").as("ema_v"))
    }, Some {
      val w = EmaHorizon
      val weights = (1 to w).map(j =>
        new java.math.BigDecimal(math.pow(2.0, (j - w).toDouble))
          .toPlainString)
      val norm = new java.math.BigDecimal(2.0 - math.pow(2.0, -15.0))
        .toPlainString
      s"""
      WITH base AS (
        SELECT event_type, event_id,
               row_number() OVER win AS rn,
               array_agg(${Micro.sql("value")}) OVER (
                 win ROWS BETWEEN ${w - 1} PRECEDING AND CURRENT ROW) AS arr
        FROM events
        WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id))
      SELECT event_type, event_id,
             round(list_reduce(list_transform(range(1, ${w + 1}),
               j -> arr[j] * ${weights.mkString("[", ",", "]")}[j]),
               (a, b) -> a + b) / $norm / 1e6, 6) AS ema_v
      FROM base WHERE rn >= $w"""
    }),

    // ---- a16: seasonal residual — each observation minus the trailing
    // mean of its own (series, hour-of-day) bucket, the wall-clock
    // seasonality the windowed detectors don't model. Residuals near
    // zero mean the hour effect explains the value; a detector run on
    // residuals (q27-style composition) catches within-hour anomalies a
    // raw-value fence misses. Expanding trailing frame (prior rows
    // only, so no leakage from the current observation); exact integer
    // micro-sums make the bucket mean partition-order independent; one
    // shuffle on the (series, hour) key. resid_v is emitted UNROUNDED:
    // every op in its chain (int-sum, two casts, one division, one
    // subtraction, one division) is IEEE-identical on both engines, so
    // the raw doubles are bit-equal — whereas round(6) is NOT safe
    // here: Spark rounds the double's exact decimal (BigDecimal),
    // DuckDB rounds in double arithmetic, and they disagree within an
    // ulp of a .5 boundary (seen at sf0.1, invisible at sf0.01).
    Entry("a16_seasonal_residual", (s, dir) => {
      val wB = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type", "hod").orderBy(col("ts"), col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, -1)
      Tables.events(s, dir)
        .select(col("event_type"), col("event_id"), col("ts"),
          hour(col("ts")).cast("long").as("hod"),
          Micro.of("value").as("v6"))
        .withColumn("n_prior", count(lit(1)).over(wB))
        .withColumn("s_prior", sum("v6").over(wB))
        .select(col("event_type"), col("event_id"), col("hod"),
          col("n_prior"),
          ((col("v6") -
            (col("s_prior").cast("double") / col("n_prior").cast("double")))
            / lit(1e6)).as("resid_v"))
    }, Some(s"""
      WITH e AS (SELECT event_type, event_id, ts,
                   CAST(hour(ts) AS BIGINT) AS hod,
                   ${Micro.sql("value")} AS v6 FROM events),
      t AS (SELECT event_type, event_id, hod, v6,
              count(*) OVER w AS n_prior,
              CAST(sum(v6) OVER w AS BIGINT) AS s_prior
            FROM e
            WINDOW w AS (PARTITION BY event_type, hod
              ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      SELECT event_type, event_id, hod, n_prior,
             (v6 - (CAST(s_prior AS DOUBLE) / CAST(n_prior AS DOUBLE)))
               / 1e6 AS resid_v
      FROM t""")),

    // ---- a17: windowed CUSUM level-shift statistic — over the
    // trailing w=20 window, max_j |w·S_j − j·S_w| (S_j = prefix sum of
    // the 1e-6 fixed-point values): the classic cumulative-sum
    // deviation from the window's linear trend, large when the series
    // steps to a new level mid-window — the change-point signal the
    // per-point fence/magnitude tests are blind to. The same
    // multiply-through-by-n trick as a10's KS grid keeps the whole
    // statistic in exact 64-bit integers (|w·S_j| ≤ w²·max|v6| —
    // overflow-safe under 2^63 up to max|value| ~2e10), so it
    // hash-matches across engines and partitionings; only the final
    // normalization divides. Spark builds the prefix array in ONE left
    // fold (O(w) adds per row); the oracle may re-fold per j since
    // integer addition is order-exact.
    Entry("a17_cusum_shift", (s, dir) => {
      val w = 20
      Tables.events(s, dir)
        .select(col("event_type"), col("event_id"), col("ts"),
          Micro.of("value").as("v6"))
        .transform(trailing(_, "v6", w))
        // one-pass kernel: the interpreted aggregate/array_append fold
        // allocated a fresh boxed prefix array per step (O(w²) copies
        // per row); same exact int64 statistic (see CusumMaxAbs)
        .withColumn("cusum_num", graft.functions.SeriesKernelFunctions
          .cusum_max_abs(col("arr")))
        .select(col("event_type"), col("event_id"), col("cusum_num"),
          round(col("cusum_num") / lit(20000000.0), 6).as("cusum_v"))
    }, Some(s"""
      WITH base AS (
        SELECT event_type, event_id,
               row_number() OVER win AS rn,
               array_agg(${Micro.sql("value")}) OVER (
                 win ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS arr
        FROM events
        WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id)),
      f AS (SELECT event_type, event_id, arr,
              CAST(list_sum(arr) AS BIGINT) AS sn
            FROM base WHERE rn >= 20),
      stat AS (SELECT event_type, event_id,
                 CAST(list_max(list_transform(range(1, 20),
                   j -> abs(20 * CAST(list_sum(arr[1:j]) AS BIGINT)
                     - j * sn))) AS BIGINT) AS cusum_num
               FROM f)
      SELECT event_type, event_id, cusum_num,
             round(cusum_num / 20000000.0, 6) AS cusum_v
      FROM stat""")),

    // ---- a18: rolling cross-series correlation — trailing-24h Pearson
    // r between the click and view hourly totals, the co-movement drift
    // signal for "these two series decoupled" alerts. All six windowed
    // sums (Sx, Sy, Sxx, Syy, Sxy) are exact 128-bit integers
    // (DECIMAL(38,0) / HUGEINT — products are cast 128-bit BEFORE
    // multiplying since x6² alone overflows int64), so the windowed
    // aggregation is partition-order independent; r's numerator and
    // the two radicands convert to double once and combine in
    // identical op order (sqrt·sqrt, one division). The 'pair' key is
    // the partition column — one pair here, many at scale.
    Entry("a18_rolling_corr", (s, dir) => {
      val wdw = 24
      val hourly = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "view"))
        .select(col("event_type"), date_trunc("hour", col("ts")).as("hr"),
          Micro.of("value").as("v6"))
        .groupBy("event_type", "hr").agg(sum("v6").as("s6"))
      val j = hourly.filter(col("event_type") === "click")
        .select(col("hr"), col("s6").as("x6"))
        .join(hourly.filter(col("event_type") === "view")
          .select(col("hr"), col("s6").as("y6")), "hr")
        .withColumn("pair", lit("click~view"))
      val wp = org.apache.spark.sql.expressions.Window
        .partitionBy("pair").orderBy("hr")
      val wf = wp.rowsBetween(-(wdw - 1), 0)
      j.withColumn("rn", row_number().over(wp))
        .withColumn("sx", sum(dec(col("x6"))).over(wf))
        .withColumn("sy", sum(dec(col("y6"))).over(wf))
        .withColumn("sxx", sum(dec(col("x6")) * col("x6")).over(wf))
        .withColumn("syy", sum(dec(col("y6")) * col("y6")).over(wf))
        .withColumn("sxy", sum(dec(col("x6")) * col("y6")).over(wf))
        .filter(col("rn") >= wdw)
        .select(col("pair"), col("hr").cast("long").as("hour_ts"),
          round((lit(wdw) * col("sxy") - col("sx") * col("sy"))
            .cast("double") /
            (sqrt((lit(wdw) * col("sxx") - col("sx") * col("sx"))
              .cast("double")) *
              sqrt((lit(wdw) * col("syy") - col("sy") * col("sy"))
                .cast("double"))), 6).as("corr_24h"))
    }, Some(s"""
      WITH e AS (SELECT event_type,
                   CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
                   ${Micro.sql("value")} AS v6
                 FROM events WHERE event_type IN ('click', 'view')),
      h AS (SELECT event_type, hr, CAST(sum(v6) AS BIGINT) AS s6
            FROM e GROUP BY 1, 2),
      j AS (SELECT x.hr, x.s6 AS x6, y.s6 AS y6
            FROM h x JOIN h y USING (hr)
            WHERE x.event_type = 'click' AND y.event_type = 'view'),
      wnd AS (SELECT hr, row_number() OVER w AS rn,
                sum(CAST(x6 AS HUGEINT)) OVER wf AS sx,
                sum(CAST(y6 AS HUGEINT)) OVER wf AS sy,
                sum(CAST(x6 AS HUGEINT) * x6) OVER wf AS sxx,
                sum(CAST(y6 AS HUGEINT) * y6) OVER wf AS syy,
                sum(CAST(x6 AS HUGEINT) * y6) OVER wf AS sxy
              FROM j
              WINDOW w AS (ORDER BY hr),
                wf AS (ORDER BY hr ROWS BETWEEN 23 PRECEDING
                  AND CURRENT ROW))
      SELECT 'click~view' AS pair, CAST(epoch(hr) AS BIGINT) AS hour_ts,
             round(CAST(24 * sxy - sx * sy AS DOUBLE)
               / (sqrt(CAST(24 * sxx - sx * sx AS DOUBLE))
                  * sqrt(CAST(24 * syy - sy * sy AS DOUBLE))), 6)
               AS corr_24h
      FROM wnd WHERE rn >= 24""")),

    // ---- a19: rolling median — the robust smoother: a single outlier
    // in the trailing window moves the EMA (a15) but not the median,
    // so (value − rolling_median) makes a spike detector with a stable
    // baseline. Odd window (25) → the median IS an input value: sort
    // the frame, pick the middle — zero arithmetic, so it is
    // bit-deterministic across engines trivially (no FP combine at
    // all). O(w log w) per row inside codegen; one series-key shuffle.
    Entry("a19_rolling_median", (s, dir) => {
      val w = 25
      Tables.events(s, dir)
        .select(col("event_type"), col("event_id"), col("ts"),
          col("value"))
        .transform(trailing(_, "value", w))
        // kernel sort-pick: array_sort's comparator is an interpreted
        // lambda per COMPARISON, and the expression appeared twice
        // (two sorts per row); RobustWindowStats picks the identical
        // element once (bit-parity pinned in KernelCodegenSpec)
        .withColumn("rs", graft.functions.SeriesKernelFunctions
          .robust_window_stats(col("arr"), (w + 1) / 2, 1, 1,
            needMad = false))
        .select(col("event_type"), col("event_id"),
          col("rs.med").as("median_v"),
          round(col("value") - col("rs.med"), 6).as("spike_v"))
    }, Some(s"""
      WITH base AS (
        ${trailingSql("event_type, event_id, value", "value", 25)})
      SELECT event_type, event_id,
             list_sort(arr)[13] AS median_v,
             round(value - list_sort(arr)[13], 6) AS spike_v
      FROM base WHERE rn >= 25"""))
  ) ++ Seq(

    // ---- a20: MAD robust z-score — the heavy-tail-safe detector: both
    // the center (median) and the scale (median absolute deviation) are
    // medians, so a single wild outlier in the trailing window shifts
    // neither, where a mean/stddev z-score has its own spike poison its
    // baseline. Odd window (25) → both medians ARE input-derived values
    // picked by sort (no FP combine), and the z conversion is three ops
    // in identical order on both engines; 0.6745·MAD ≈ one stddev under
    // normality, making |z| > 3.5 the classic Iglewicz-Hoaglin gate.
    // Same single series-key shuffle as a19; O(w log w) per row.
    // Outputs are UNROUNDED: the op chain (sort-picks, one subtract,
    // one multiply, one divide) is IEEE-identical on both engines, so
    // the raw doubles bit-match; round(6) would diverge within an ulp
    // of a .5 decimal boundary (Spark rounds the exact decimal, DuckDB
    // rounds in double arithmetic — seen at sf0.1 on robust_z).
    Entry("a20_mad_zscore", (s, dir) => {
      val w = 25
      val mid = (w + 1) / 2
      Tables.events(s, dir)
        .select(col("event_type"), col("event_id"), col("ts"),
          col("value"))
        .transform(trailing(_, "value", w))
        // fused med+mad kernel pass (the scorecardFlags rule; same
        // sort-pick bit-parity)
        .withColumn("rs", graft.functions.SeriesKernelFunctions
          .robust_window_stats(col("arr"), mid, 1, 1))
        .select(col("event_type"), col("event_id"),
          col("rs.mad").as("mad_v"),
          ((lit(0.6745) * (col("value") - col("rs.med"))) / col("rs.mad"))
            .as("robust_z"))
    }, Some(s"""
      WITH base AS (
        ${trailingSql("event_type, event_id, value", "value", 25)}),
      m AS (SELECT event_type, event_id, value, arr,
              list_sort(arr)[13] AS med
            FROM base WHERE rn >= 25),
      d AS (SELECT event_type, event_id, value, med,
              list_sort(list_transform(arr, x -> abs(x - med)))[13] AS mad
            FROM m)
      SELECT event_type, event_id,
             mad AS mad_v,
             (0.6745 * (value - med)) / mad AS robust_z
      FROM d"""))
  ) ++ Seq(

    // ---- a21: rolling Tukey IQR fence — the ADAPTIVE complement of
    // the reference's static fence test (a02, algorithms.go bounds):
    // instead of configured UpperBound/LowerBound, the bounds are
    // learned from the trailing window as [q1 − 1.5·IQR, q3 + 1.5·IQR].
    // Window w=25 makes both quartiles exact sort-picks: the type-7
    // position p·(w−1) is 0.25·24 = 6 and 0.75·24 = 18 — integers, so
    // NO interpolation arithmetic exists to diverge. The fence math is
    // then sub/mul-by-1.5 (exactly representable)/add in identical op
    // order on both engines, so outputs ship UNROUNDED like a20's.
    // Same plan shape as a19/a20: one series-key shuffle, O(w log w)
    // per row inside codegen.
    Entry("a21_iqr_fence", (s, dir) => {
      val w = 25
      Tables.events(s, dir)
        .select(col("event_type"), col("event_id"), col("ts"),
          col("value"))
        .transform(trailing(_, "value", w))
        // quartile sort-picks via the fused kernel, AFTER the warm-up
        // filter (the old form sorted every pre-window row too)
        .withColumn("rs", graft.functions.SeriesKernelFunctions
          .robust_window_stats(col("arr"), 13, 7, 19, needMad = false))
        .withColumn("q1_v", col("rs.q1"))
        .withColumn("q3_v", col("rs.q3"))
        .withColumn("lo_fence",
          col("q1_v") - lit(1.5) * (col("q3_v") - col("q1_v")))
        .withColumn("hi_fence",
          col("q3_v") + lit(1.5) * (col("q3_v") - col("q1_v")))
        .select(col("event_type"), col("event_id"), col("value"),
          col("q1_v"), col("q3_v"), col("lo_fence"), col("hi_fence"),
          (col("value") < col("lo_fence") ||
            col("value") > col("hi_fence")).as("is_outlier"))
    }, Some("""
      WITH base AS (
        SELECT event_type, event_id, value,
               row_number() OVER win AS rn,
               list_sort(array_agg(value) OVER (win ROWS BETWEEN 24
                 PRECEDING AND CURRENT ROW)) AS sarr
        FROM events
        WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id)),
      q AS (SELECT event_type, event_id, value,
              sarr[7] AS q1_v, sarr[19] AS q3_v,
              sarr[7] - 1.5 * (sarr[19] - sarr[7]) AS lo_fence,
              sarr[19] + 1.5 * (sarr[19] - sarr[7]) AS hi_fence
            FROM base WHERE rn >= 25)
      SELECT event_type, event_id, value, q1_v, q3_v, lo_fence, hi_fence,
             (value < lo_fence OR value > hi_fence) AS is_outlier
      FROM q""")),

    // ---- a22: rolling lag-1 autocorrelation — serial-dependence
    // detector over the same 10-value window the ensemble uses: corr of
    // the 9 consecutive (x_{t-1}, x_t) pairs. Same exactness discipline
    // as a18: values fixed-pointed to 1e-6 integers, all five moment
    // sums exact in DECIMAL(38,0)/HUGEINT, one double division + sqrt
    // at the end, round(6). Zero-variance windows are excluded by an
    // integer predicate (exact on both engines, no NaN compare).
    Entry("a22_autocorr", (s, dir) => {
      val m = 9
      val wS = seriesOrder
      val wf = wS.rowsBetween(-(m - 1), 0)
      Tables.events(s, dir)
        .select(col("event_type"), col("event_id"), col("ts"),
          Micro.of("value").as("x6"))
        .withColumn("l6", lag(col("x6"), 1).over(wS))
        .withColumn("rn", row_number().over(wS))
        .withColumn("sx", sum(dec(col("l6"))).over(wf))
        .withColumn("sy", sum(dec(col("x6"))).over(wf))
        .withColumn("sxx", sum(dec(col("l6")) * col("l6")).over(wf))
        .withColumn("syy", sum(dec(col("x6")) * col("x6")).over(wf))
        .withColumn("sxy", sum(dec(col("l6")) * col("x6")).over(wf))
        .filter(col("rn") >= m + 1 &&
          lit(m) * col("sxx") > col("sx") * col("sx") &&
          lit(m) * col("syy") > col("sy") * col("sy"))
        .select(col("event_type"), col("event_id"),
          round((lit(m) * col("sxy") - col("sx") * col("sy"))
            .cast("double") /
            (sqrt((lit(m) * col("sxx") - col("sx") * col("sx"))
              .cast("double")) *
              sqrt((lit(m) * col("syy") - col("sy") * col("sy"))
                .cast("double"))), 6).as("autocorr_lag1"))
    }, Some(s"""
      WITH e AS (SELECT event_type, event_id, ts,
                   ${Micro.sql("value")} AS x6,
                   lag(${Micro.sql("value")}) OVER win AS l6,
                   row_number() OVER win AS rn
                 FROM events
                 WINDOW win AS (PARTITION BY event_type
                                ORDER BY ts, event_id)),
      w AS (SELECT event_type, event_id, rn,
              sum(CAST(l6 AS HUGEINT)) OVER wf AS sx,
              sum(CAST(x6 AS HUGEINT)) OVER wf AS sy,
              sum(CAST(l6 AS HUGEINT) * l6) OVER wf AS sxx,
              sum(CAST(x6 AS HUGEINT) * x6) OVER wf AS syy,
              sum(CAST(l6 AS HUGEINT) * x6) OVER wf AS sxy
            FROM e
            WINDOW wf AS (PARTITION BY event_type ORDER BY ts, event_id
                          ROWS BETWEEN 8 PRECEDING AND CURRENT ROW))
      SELECT event_type, event_id,
             round(CAST(9 * sxy - sx * sy AS DOUBLE) /
                   (sqrt(CAST(9 * sxx - sx * sx AS DOUBLE)) *
                    sqrt(CAST(9 * syy - sy * sy AS DOUBLE))), 6)
               AS autocorr_lag1
      FROM w
      WHERE rn >= 10 AND 9 * sxx > sx * sx AND 9 * syy > sy * sy""")),

    // ---- a23: variance-ratio volatility detector — the complement the
    // reference's ensemble lacks: every one of its 7 tests targets
    // LEVEL shifts (mean, rank, fence, distribution position); a
    // volatility change with an unchanged mean sails through all of
    // them. Same window geometry as the ensemble (active = last 2
    // points, reference = the preceding 8): sample-variance ratio
    // var_active / var_reference, flagged above 4x. Exactness: values
    // fixed-pointed to 1e-6 integers, both (n·Σx² − (Σx)²) variance
    // kernels exact in DECIMAL(38,0)/HUGEINT (the 1e-12 fixed-point
    // scale cancels in the ratio; Bessel factors fold to the integer
    // constant 28), ONE double division at the end, emitted unrounded.
    // Zero-variance reference windows excluded by an integer
    // predicate. Scale shape: one series-key shuffle shared by all
    // four window sums — identical plan skeleton to a22.
    Entry("a23_varratio", (s, dir) => {
      val wS = seriesOrder
      val wA = wS.rowsBetween(-1, 0)
      val wR = wS.rowsBetween(-9, -2)
      Tables.events(s, dir)
        .select(col("event_type"), col("event_id"), col("ts"),
          col("value"),
          Micro.of("value").as("x6"))
        .withColumn("rn", row_number().over(wS))
        .withColumn("sa", sum(dec(col("x6"))).over(wA))
        .withColumn("saa", sum(dec(col("x6")) * col("x6")).over(wA))
        .withColumn("sr", sum(dec(col("x6"))).over(wR))
        .withColumn("srr", sum(dec(col("x6")) * col("x6")).over(wR))
        .filter(col("rn") >= 10 &&
          lit(8) * col("srr") > col("sr") * col("sr"))
        // unrounded: numerator and denominator are exact integers whose
        // double conversions are correctly rounded in both engines, so
        // the single division is bit-identical — round(6) would only
        // add .5e-6-boundary risk on exact-rational ratios
        .withColumn("vol_ratio",
          ((lit(2) * col("saa") - col("sa") * col("sa")) * lit(28))
            .cast("double") /
            (lit(8) * col("srr") - col("sr") * col("sr")).cast("double"))
        .select(col("event_type"), col("event_id"), col("value"),
          col("vol_ratio"),
          (col("vol_ratio") > 4.0).as("is_vol_spike"))
    }, Some(s"""
      WITH e AS (SELECT event_type, event_id, ts, value,
                   ${Micro.sql("value")} AS x6,
                   row_number() OVER win AS rn
                 FROM events
                 WINDOW win AS (PARTITION BY event_type
                                ORDER BY ts, event_id)),
      w AS (SELECT event_type, event_id, value, rn,
              sum(CAST(x6 AS HUGEINT)) OVER wa AS sa,
              sum(CAST(x6 AS HUGEINT) * x6) OVER wa AS saa,
              sum(CAST(x6 AS HUGEINT)) OVER wr AS sr,
              sum(CAST(x6 AS HUGEINT) * x6) OVER wr AS srr
            FROM e
            WINDOW wa AS (PARTITION BY event_type ORDER BY ts, event_id
                          ROWS BETWEEN 1 PRECEDING AND CURRENT ROW),
                   wr AS (PARTITION BY event_type ORDER BY ts, event_id
                          ROWS BETWEEN 9 PRECEDING AND 2 PRECEDING)),
      v AS (SELECT event_type, event_id, value,
              CAST((2 * saa - sa * sa) * 28 AS DOUBLE) /
                CAST(8 * srr - sr * sr AS DOUBLE) AS vol_ratio
            FROM w
            WHERE rn >= 10 AND 8 * srr > sr * sr)
      SELECT event_type, event_id, value, vol_ratio,
             vol_ratio > CAST(4.0 AS DOUBLE) AS is_vol_spike
      FROM v""")),

    // ---- a24: Holt (level + trend) one-step forecast residual — the
    // trend-aware complement to a15's level-only EMA: double
    // exponential smoothing (alpha = beta = 1/2) tracks a drifting
    // series, so the residual value − forecast isolates genuine jumps
    // from steady drift that inflates fixed-baseline detectors. The
    // recurrence is unrolled over the [[HoltHorizon]] points PRECEDING
    // each row into one linear filter: forecast = Σ_j f_j · x_j with
    // f_j the exact dyadic coefficient of the j-th oldest point in
    // l + b after folding from zero state (truncation transient decays
    // as |λ|^H = 2^-H/2 ≈ 0.4% at H = 16 — documented, and pinned by
    // the constant-series bound in AnomalySpec). Determinism: the
    // coefficients are finite-decimal dyadics embedded as identical
    // literals in both engines (each is an exact double: ≤ 34-bit
    // numerators), and the dot product is an explicit left-fold array
    // aggregate — never a windowed SUM, whose segment-tree association
    // DuckDB may reassociate — so both engines run the identical IEEE
    // op sequence; outputs emitted unrounded. One series-key shuffle.
    Entry("a24_holt_resid", (s, dir) => {
      val h = HoltHorizon
      val cs = holtCoefs.map(_.toPlainString)
      val wS = seriesOrder
      val frame = wS.rowsBetween(-h, -1)
      Tables.events(s, dir)
        .select(col("event_type"), col("event_id"), col("ts"),
          col("value"),
          Micro.of("value").as("v6"))
        .withColumn("rn", row_number().over(wS))
        .withColumn("arr", collect_list(col("v6")).over(frame))
        .filter(col("rn") >= h + 1)
        .select(col("event_type"), col("event_id"), col("value"),
          expr(s"aggregate(zip_with(arr, " +
            s"array(${cs.mkString("D, ")}D), (x, y) -> x * y), 0D, " +
            s"(a, x) -> a + x) / 1e6").as("forecast_v"))
        .withColumn("resid_v", col("value") - col("forecast_v"))
    }, Some {
      val h = HoltHorizon
      // each coefficient goes through a VARCHAR -> DOUBLE cast: a bare
      // literal parses as DECIMAL(38,32) (whose bigint multiply
      // overflows), and DECIMAL -> DOUBLE double-rounds (hugeint times
      // a float 1e-32) — off by an ulp from Spark's correctly-rounded
      // literal parse. strtod on the string is correctly rounded and
      // lands on the identical doubles (values are 34-bit dyadics).
      val cs = holtCoefs.map(c => s"CAST('${c.toPlainString}' AS DOUBLE)")
      s"""
      WITH base AS (
        SELECT event_type, event_id, value,
               row_number() OVER win AS rn,
               array_agg(${Micro.sql("value")}) OVER (
                 win ROWS BETWEEN $h PRECEDING AND 1 PRECEDING) AS arr
        FROM events
        WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id)),
      f AS (
        SELECT event_type, event_id, value,
               list_reduce(list_transform(range(1, ${h + 1}),
                 j -> arr[j] * ${cs.mkString("[", ",", "]")}[j]),
                 (a, b) -> a + b) / 1e6 AS forecast_v
        FROM base WHERE rn >= ${h + 1})
      SELECT event_type, event_id, value, forecast_v,
             value - forecast_v AS resid_v
      FROM f"""
    }),

    // ---- a25: Grubbs' test statistic (maximum studentized deviate) —
    // the classic single-outlier test the reference's magnitude test
    // approximates: over the trailing w=20 window, G = max|x − x̄| / s.
    // Exactness: multiply-through by w keeps the deviation integer
    // (max_j |w·x6_j − S| with S = Σx6, all int64-safe), and the
    // variance numerator w·Sxx − S² is exact in DECIMAL(38,0)/HUGEINT
    // (a18's discipline). The final G is three double ops in identical
    // order — convert, divide by w, divide by sqrt(varnum/(w·(w−1))) —
    // so outputs ship UNROUNDED (a20's reasoning). Zero-variance
    // windows are excluded by an integer predicate. is_anom compares
    // against the one-sided α=0.05 critical value for n=20 (2.708), a
    // literal identical in both engines. One series-key shuffle,
    // O(w) per row.
    Entry("a25_grubbs", (s, dir) => {
      val w = 20
      val frame = trailingFrame(w)
      Tables.events(s, dir)
        .select(col("event_type"), col("event_id"), col("ts"),
          Micro.of("value").as("v6"))
        .transform(withTrailing(_, "v6", w))
        .withColumn("sx", sum(col("v6")).over(frame))
        .withColumn("sxx", sum(dec(col("v6")) * col("v6")).over(frame))
        .filter(col("rn") >= w)
        .withColumn("varnum", lit(w) * col("sxx") - dec(col("sx")) * col("sx"))
        .filter(col("varnum") =!= lit(0))
        .withColumn("maxdev", expr(
          s"array_max(transform(arr, x -> abs($w * x - sx)))"))
        .select(col("event_type"), col("event_id"),
          (col("maxdev").cast("double") / lit(w.toDouble) /
            sqrt(col("varnum").cast("double") / lit((w * (w - 1)).toDouble)))
            .as("grubbs_g"))
        .withColumn("is_anom", col("grubbs_g") > lit(2.708))
    }, Some(s"""
      WITH base AS (
        SELECT event_type, event_id,
               row_number() OVER win AS rn,
               array_agg(${Micro.sql("value")}) OVER (
                 win ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS arr,
               CAST(sum(${Micro.sql("value")}) OVER (
                 win ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS sx,
               sum(CAST(${Micro.sql("value")} AS HUGEINT)
                   * ${Micro.sql("value")}) OVER (
                 win ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS sxx
        FROM events
        WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id)),
      f AS (SELECT event_type, event_id, arr, sx,
              20 * sxx - CAST(sx AS HUGEINT) * sx AS varnum
            FROM base WHERE rn >= 20),
      g AS (SELECT event_type, event_id,
              CAST(list_max(list_transform(arr,
                x -> abs(20 * x - sx))) AS DOUBLE) / 20.0
                / sqrt(CAST(varnum AS DOUBLE) / 380.0) AS grubbs_g
            FROM f WHERE varnum <> 0)
      SELECT event_type, event_id, grubbs_g,
             grubbs_g > 2.708 AS is_anom
      FROM g""")),

    // ---- a26: Page–Hinkley drift statistic — the sequential
    // change-detection complement of a17's windowed CUSUM: per series,
    // m_T = Σ_{i≤T} (x_i − x̄_i − δ) with x̄_i the running prefix mean,
    // and the alarm statistic PH_T = m_T − min_{s≤T} m_s, which grows
    // only while the series runs persistently ABOVE its own historical
    // mean by more than the drift allowance δ. Exactness: the per-step
    // deviation (i·x6_i − S_i)/i has an integer numerator (prefix sums
    // of 1e-6 fixed-point values, int64-safe at 1e14), converts to
    // double exactly (< 2^53), and one correctly-rounded division +
    // round() fixes it back to an integer micro-unit — from there the
    // cumulative sum and running min are pure int64, so the statistic
    // is partition-order independent and hash-matches. δ = 0.005
    // (5000 micro-units), alarm λ = 5.0. One series-key shuffle; three
    // stacked unbounded-preceding windows over the same sort order
    // (Spark runs them in a single WindowExec).
    Entry("a26_page_hinkley", (s, dir) => {
      val wS = seriesOrder
      val cum = wS.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      Tables.events(s, dir)
        .select(col("event_type"), col("event_id"), col("ts"),
          Micro.of("value").as("v6"))
        .withColumn("rn", row_number().over(wS))
        .withColumn("sp", sum(col("v6")).over(cum))
        // rn*v6 in DECIMAL: the bigint product scales with series
        // length and overflows for a long, large-valued series (the
        // decimal is the same integer, so the double cast is identical)
        .withColumn("t6", expr(
          "cast(round(cast(cast(rn as decimal(38,0)) * v6 - sp as double)" +
            " / rn) as bigint) - 5000"))
        .withColumn("mt", sum(col("t6")).over(cum))
        .withColumn("mmin", min(col("mt")).over(cum))
        .select(col("event_type"), col("event_id"),
          ((col("mt") - col("mmin")).cast("double") / lit(1e6)).as("ph_v"))
        .withColumn("is_drift", col("ph_v") > lit(5.0))
    }, Some(s"""
      WITH e AS (SELECT event_type, event_id, ts,
                   ${Micro.sql("value")} AS v6 FROM events),
      p AS (SELECT event_type, event_id, ts, v6,
              row_number() OVER win AS rn,
              CAST(sum(v6) OVER (win ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS BIGINT) AS sp
            FROM e
            WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id)),
      t AS (SELECT event_type, event_id, ts,
              CAST(round(CAST(CAST(rn AS HUGEINT) * v6 - sp AS DOUBLE)
                / rn) AS BIGINT) - 5000 AS t6
            FROM p),
      c AS (SELECT event_type, event_id, ts,
              CAST(sum(t6) OVER (win ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS BIGINT) AS mt
            FROM t
            WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id)),
      m AS (SELECT event_type, event_id, mt,
              CAST(min(mt) OVER (win ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS BIGINT) AS mmin
            FROM c
            WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id))
      SELECT event_type, event_id,
             CAST(mt - mmin AS DOUBLE) / 1e6 AS ph_v,
             CAST(mt - mmin AS DOUBLE) / 1e6 > 5.0 AS is_drift
      FROM m""")),

    // ---- a27: Benford first-digit χ² — the data-integrity screen for
    // fabricated or truncated feeds: per series, the χ² distance of the
    // first-significant-digit distribution from Benford's law. Digit
    // extraction avoids log10/pow entirely (library log10 can differ by
    // ulps across engines near powers of ten): value > 0 micro-fixes to
    // int64 and the first CHARACTER of the integer's decimal string is
    // the first significant digit — integer→string is identical
    // everywhere. The 9 digit counts are conditional sums (one groupBy,
    // map-side combined), and the χ² is an EXPLICIT 9-term addition
    // chain in digit order with the Benford expectations embedded as
    // identical shortest-repr double literals in both engines; counts
    // and n convert to double exactly. One shuffle keyed by series;
    // O(series) output.
    Entry("a27_benford", (s, dir) => {
      val aggs = count(lit(1)).as("n") +: (1 to 9).map(d =>
        sum(when(col("digit") === d, 1L).otherwise(0L)).as(s"c$d"))
      // chi2 = Σ_d (c_d − n·p_d)²/(n·p_d), left-assoc in digit order
      val chi2 = (1 to 9).map { d =>
        val p = BenfordP(d - 1).toString
        s"((cast(c$d as double) - nd * $p) * (cast(c$d as double) " +
          s"- nd * $p)) / (nd * $p)"
      }.mkString(" + ")
      Tables.events(s, dir)
        .select(col("event_type"), expr(
          s"cast(substring(cast(${Micro.sql("value")} " +
            "as string), 1, 1) as int)").as("digit"))
        .groupBy("event_type")
        .agg(aggs.head, aggs.tail: _*)
        .withColumn("nd", col("n").cast("double"))
        // round(6): the 9-term chain is FMA-contractable (a*b − c) in a
        // compiled engine, so the raw double can differ by 1 ulp across
        // engines; the flag compares the ROUNDED value for lockstep
        .withColumn("chi2", round(expr(chi2), 6))
        .select(col("event_type"), col("n"), col("chi2"),
          (col("chi2") > lit(20.09)).as("is_nonbenford"))
    }, Some {
      val counts = (1 to 9).map(d =>
        s"CAST(sum(CASE WHEN digit = $d THEN 1 ELSE 0 END) AS BIGINT) " +
          s"AS c$d").mkString(", ")
      val chi2 = (1 to 9).map { d =>
        val p = BenfordP(d - 1).toString
        s"((CAST(c$d AS DOUBLE) - nd * $p) * (CAST(c$d AS DOUBLE) " +
          s"- nd * $p)) / (nd * $p)"
      }.mkString(" + ")
      s"""
      WITH v AS (SELECT event_type,
                   CAST(substr(CAST(${Micro.sql("value")}
                     AS VARCHAR), 1, 1) AS INT) AS digit
                 FROM events),
      c AS (SELECT event_type, count(*) AS n, $counts
            FROM v GROUP BY event_type),
      d AS (SELECT *, CAST(n AS DOUBLE) AS nd FROM c),
      x AS (SELECT event_type, n, round($chi2, 6) AS chi2 FROM d)
      SELECT event_type, n, chi2, chi2 > 20.09 AS is_nonbenford
      FROM x"""
    }),

    // ---- a28: Wald–Wolfowitz runs test — the serial-randomness screen
    // that catches stuck sensors and batched writes a distribution test
    // never sees: per series, the count of runs of values above/below
    // the series median vs its null expectation. Everything up to the
    // z-score is exact integer arithmetic: the median is a SORT-PICKED
    // element (row_number == (n+1) div 2 over a total order — no
    // interpolation), rows AT the median are excluded (standard
    // convention), run count = 1 + sign changes via lag, and the
    // variance ratio's numerator/denominator are products of counts
    // (≤ ~4e12·n — int64-safe, DECIMAL/HUGEINT-held). One double
    // division, sqrt, and subtraction chain in pinned order, round(6).
    // Two series-key shuffles (median pick + ordered lag).
    Entry("a28_runs_test", (s, dir) => {
      val wV = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy(col("value"), col("event_id"))
      val wT = seriesOrder
      val ev = Tables.events(s, dir)
      val meds = ev
        .withColumn("rnv", row_number().over(wV))
        .withColumn("cnt", count(lit(1))
          .over(org.apache.spark.sql.expressions.Window
            .partitionBy("event_type")))
        .filter(col("rnv") === expr("(cnt + 1) div 2"))
        .select(col("event_type"), col("value").as("med"))
      val signs = ev.join(broadcast(meds), "event_type")
        .filter(col("value") =!= col("med"))
        .withColumn("s", (col("value") > col("med")).cast("int"))
        .withColumn("chg",
          when(lag(col("s"), 1).over(wT).isNull, 0)
            .when(lag(col("s"), 1).over(wT) =!= col("s"), 1)
            .otherwise(0))
      signs.groupBy("event_type")
        .agg((sum(col("chg")) + lit(1)).as("runs"),
          sum(col("s")).cast("long").as("n1"),
          (count(lit(1)) - sum(col("s"))).cast("long").as("n2"))
        .withColumn("n", col("n1") + col("n2"))
        .withColumn("p2", (col("n1") * col("n2") * lit(2L))
          .cast("decimal(38,0)"))
        .withColumn("z", round(
          (col("runs").cast("double") -
            (lit(1.0) + col("p2").cast("double") / col("n").cast("double"))) /
            sqrt((col("p2") * (col("p2") - col("n")))
              .cast("double") /
              (col("n").cast("decimal(38,0)") * col("n") * (col("n") - 1))
                .cast("double")), 6))
        .select(col("event_type"), col("n1"), col("n2"), col("runs"),
          col("z"), (abs(col("z")) > lit(2.576)).as("is_nonrandom"))
    }, Some("""
      WITH ev AS (SELECT event_type, event_id, ts, value FROM events),
      med AS (SELECT event_type, value AS med FROM (
                SELECT event_type, value,
                       row_number() OVER (PARTITION BY event_type
                         ORDER BY value, event_id) AS rnv,
                       count(*) OVER (PARTITION BY event_type) AS cnt
                FROM ev)
              WHERE rnv = (cnt + 1) // 2),
      sg AS (SELECT e.event_type, e.ts, e.event_id,
               CAST(e.value > m.med AS INT) AS s
             FROM ev e JOIN med m USING (event_type)
             WHERE e.value <> m.med),
      ch AS (SELECT event_type, s,
               CASE WHEN lag(s, 1) OVER (PARTITION BY event_type
                      ORDER BY ts, event_id) IS NULL THEN 0
                    WHEN lag(s, 1) OVER (PARTITION BY event_type
                      ORDER BY ts, event_id) <> s THEN 1
                    ELSE 0 END AS chg
             FROM sg),
      ag AS (SELECT event_type,
               CAST(sum(chg) + 1 AS BIGINT) AS runs,
               CAST(sum(s) AS BIGINT) AS n1,
               CAST(count(*) - sum(s) AS BIGINT) AS n2
             FROM ch GROUP BY event_type),
      st AS (SELECT *, n1 + n2 AS n,
               CAST(n1 * n2 * 2 AS HUGEINT) AS p2
             FROM ag)
      SELECT event_type, n1, n2, runs,
             round((CAST(runs AS DOUBLE) -
               (1.0 + CAST(p2 AS DOUBLE) / CAST(n AS DOUBLE))) /
               sqrt(CAST(p2 * (p2 - n) AS DOUBLE) /
                 CAST(CAST(n AS HUGEINT) * n * (n - 1) AS DOUBLE)), 6)
               AS z,
             abs(round((CAST(runs AS DOUBLE) -
               (1.0 + CAST(p2 AS DOUBLE) / CAST(n AS DOUBLE))) /
               sqrt(CAST(p2 * (p2 - n) AS DOUBLE) /
                 CAST(CAST(n AS HUGEINT) * n * (n - 1) AS DOUBLE)), 6))
               > 2.576 AS is_nonrandom
      FROM st""")),

    // ---- a29: windowed Mann–Kendall trend test — the nonparametric
    // monotone-trend detector the reference's level-shift tests can't
    // express: over each trailing 20-point window, S = Σ_{i<j}
    // sign(x_j − x_i) counts concordant minus discordant pairs, and the
    // tie-corrected normal approximation z = (S ∓ 1)/sqrt(Var S) flags
    // sustained drifts even when every individual step is tiny.
    // Exactness: values micro-fix to int64, so every pair sign and the
    // tie term Σ_t t(t−1)(2t+5) are pure integers; Var·18 stays an
    // integer (n(n−1)(2n+5) − ties); the only FP is one division by
    // 18.0, one sqrt, one division — identical op order both engines,
    // round(6). All-tied windows (Var = 0) emit z = 0 by the same
    // guard. O(w²) = 190 comparisons per row of pure-integer lambda
    // arithmetic; one series-key shuffle feeding a single WindowExec,
    // array math shuffle-free per row.
    Entry("a29_mann_kendall", (s, dir) => {
      val w = MkWindow
      val varMax = w.toLong * (w - 1) * (2 * w + 5)
      Tables.events(s, dir)
        .select(col("event_type"), col("event_id"), col("ts"),
          Micro.of("value").as("v6"))
        .transform(trailing(_, "v6", w))
        // native kernel (one primitive-array pass) — the interpreted
        // nested-aggregate lambda form of the same integer arithmetic
        // cost ~1 ms/row and dominated the entry's wall time
        .withColumn("mk",
          graft.functions.SeriesKernelFunctions.mann_kendall_stats(
            col("arr")))
        .withColumn("s_stat", col("mk.s_stat"))
        .withColumn("var18", lit(varMax) - col("mk.tie_term"))
        .withColumn("z", round(
          when(col("s_stat") === 0L || col("var18") === 0L, lit(0.0))
            .otherwise(
              (col("s_stat").cast("double") -
                when(col("s_stat") > 0, lit(1.0)).otherwise(lit(-1.0))) /
                sqrt(col("var18").cast("double") / lit(18.0))), 6))
        .select(col("event_type"), col("event_id"), col("s_stat"),
          col("var18"), col("z"), (abs(col("z")) > lit(2.576)).as("is_trend"))
    }, Some {
      val w = MkWindow
      val varMax = w.toLong * (w - 1) * (2 * w + 5)
      s"""
      WITH ${trailingMicroSql(w)},
      st AS (SELECT event_type, event_id,
               CAST(list_sum(list_transform(range(1, $w), i ->
                 list_sum(list_transform(range(i + 1, ${w + 1}), j ->
                   CASE WHEN arr[j] > arr[i] THEN 1
                        WHEN arr[j] < arr[i] THEN -1
                        ELSE 0 END)))) AS BIGINT) AS s_stat,
               $varMax - CAST(list_sum(list_transform(list_distinct(arr),
                 v -> len(list_filter(arr, x -> x = v)) *
                      (len(list_filter(arr, x -> x = v)) - 1) *
                      (2 * len(list_filter(arr, x -> x = v)) + 5)))
                 AS BIGINT) AS var18
             FROM win WHERE rn >= $w)
      SELECT event_type, event_id, s_stat, var18,
             CASE WHEN s_stat = 0 OR var18 = 0 THEN 0.0
                  ELSE round((CAST(s_stat AS DOUBLE) -
                    CASE WHEN s_stat > 0 THEN 1.0 ELSE -1.0 END) /
                    sqrt(CAST(var18 AS DOUBLE) / 18.0), 6) END AS z,
             abs(CASE WHEN s_stat = 0 OR var18 = 0 THEN 0.0
                  ELSE round((CAST(s_stat AS DOUBLE) -
                    CASE WHEN s_stat > 0 THEN 1.0 ELSE -1.0 END) /
                    sqrt(CAST(var18 AS DOUBLE) / 18.0), 6) END) > 2.576
               AS is_trend
      FROM st"""
    }),

    // ---- a30: windowed Theil–Sen slope — the robust trend-MAGNITUDE
    // estimator paired with a29's trend-EXISTENCE test: over each
    // trailing 10-point window (the ensemble geometry), the slope is
    // the median of all 45 pairwise slopes (x_j − x_i)/(j − i) — one
    // wild outlier perturbs at most 9 of 45 pairs, so the estimate
    // barely moves where an OLS slope would swing. Exactness: numerator
    // micro-int, denominator a small int; each slope is ONE correctly-
    // rounded double division (identical IEEE result both engines);
    // 45 is odd, so the median is a SORT-PICKED element of the sorted
    // slope array — no interpolation, and value-sorting doubles is
    // total here (no NaN/−0 sources: denominators are positive ints).
    // round(6) at the boundary. One series shuffle; O(w²) per-row array
    // math, shuffle-free.
    Entry("a30_theil_sen", (s, dir) => {
      val w = spec.windowSize // 10 → 45 pairs, median = 23rd (1-based)
      val nPairs = w * (w - 1) / 2
      val midIdx = (nPairs + 1) / 2
      Tables.events(s, dir)
        .select(col("event_type"), col("event_id"), col("ts"),
          Micro.of("value").as("v6"))
        .transform(trailing(_, "v6", w))
        // native kernel — same slope multiset, sort, and midIdx pick as
        // the flatten/transform/array_sort lambda pipeline it replaces,
        // without materializing a 45-element array per row interpreted
        .withColumn("slope_micro", round(
          graft.functions.SeriesKernelFunctions
            .theil_sen_median_slope(col("arr")), 6))
        .select(col("event_type"), col("event_id"), col("slope_micro"),
          (abs(col("slope_micro")) > lit(50000.0)).as("is_steep"))
    }, Some {
      val w = spec.windowSize
      val nPairs = w * (w - 1) / 2
      val midIdx = (nPairs + 1) / 2
      s"""
      WITH ${trailingMicroSql(w)},
      sl AS (SELECT event_type, event_id,
               flatten(list_transform(range(1, $w), i ->
                 list_transform(range(i + 1, ${w + 1}), j ->
                   CAST(arr[j] - arr[i] AS DOUBLE) /
                   CAST(j - i AS DOUBLE)))) AS slopes
             FROM win WHERE rn >= $w),
      md AS (SELECT event_type, event_id,
               round(list_sort(slopes)[$midIdx], 6) AS slope_micro
             FROM sl)
      SELECT event_type, event_id, slope_micro,
             abs(slope_micro) > 50000.0 AS is_steep
      FROM md"""
    }),

    // ---- a31: diurnal periodogram — per-series DFT amplitude at the
    // 24h fundamental and its first two harmonics (12h, 8h), the
    // frequency-domain seasonality profile behind the reference's
    // NSeasons knob: a series whose amp24 dominates genuinely has the
    // daily cycle the seasonal window split assumes. NO cross-engine
    // trig: cos/sin are pre-fixed to integer micro-units at BUILD time
    // and embedded as the same 24 literals in both engines, indexed by
    // (k·hour) mod 24 — so each contribution v6·c6 is an exact int64
    // product (≤6e14) and the per-series sums are exact 128-bit
    // integers (DECIMAL(38,0)/HUGEINT: order/partition independent,
    // one map-side-combined shuffle on the series key, O(series)
    // output). The only FP: two correctly-rounded int→double casts per
    // sum, square + add + sqrt + two divisions in identical order,
    // round(6).
    Entry("a31_periodogram", (s, dir) => {
      def sumK(k: Int, arr: Seq[Long], nm: String) =
        // cast-then-multiply: bigint v6*trig overflows int64 for
        // in-domain |v6| > ~9.2e12 (trig entries are 1e6-scale)
        sum(expr(s"cast(v6 as decimal(38,0)) * element_at(array(" +
          s"${arr.mkString(",")}), " +
          s"cast(($k * hod) % 24 + 1 as int))")).as(nm)
      def amp(k: Int) = {
        val (c, sn) = (col(s"sc$k").cast("double"), col(s"ss$k").cast("double"))
        round((lit(2.0) * sqrt(c * c + sn * sn) / col("n")) / lit(1e12), 6)
          .as(s"amp${24 / k}h")
      }
      Tables.events(s, dir)
        .select(col("event_type"), hour(col("ts")).cast("long").as("hod"),
          Micro.of("value").as("v6"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sumK(1, Cos6, "sc1"), sumK(1, Sin6, "ss1"),
          sumK(2, Cos6, "sc2"), sumK(2, Sin6, "ss2"),
          sumK(3, Cos6, "sc3"), sumK(3, Sin6, "ss3"))
        .select(col("event_type"), col("n"), amp(1), amp(2), amp(3))
    }, Some {
      def sumK(k: Int, arr: Seq[Long], nm: String) =
        s"""sum(CAST(v6 AS HUGEINT) * ([${arr.mkString(",")}])[($k * hod) % 24 + 1]) AS $nm"""
      def amp(k: Int) =
        s"""round((2.0 * sqrt(CAST(sc$k AS DOUBLE) * CAST(sc$k AS DOUBLE)
              + CAST(ss$k AS DOUBLE) * CAST(ss$k AS DOUBLE)) / n) / 1e12, 6)
            AS amp${24 / k}h"""
      s"""
      WITH e AS (SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
                   ${Micro.sql("value")} AS v6 FROM events),
      agg AS (SELECT event_type, count(*) AS n,
                ${sumK(1, Cos6, "sc1")}, ${sumK(1, Sin6, "ss1")},
                ${sumK(2, Cos6, "sc2")}, ${sumK(2, Sin6, "ss2")},
                ${sumK(3, Cos6, "sc3")}, ${sumK(3, Sin6, "ss3")}
              FROM e GROUP BY event_type)
      SELECT event_type, n, ${amp(1)}, ${amp(2)}, ${amp(3)}
      FROM agg"""
    }),

    // ---- a32: seasonal strength — Hyndman's F_s = 1 −
    // Var(residual)/Var(total) with the hour-of-day profile as the
    // seasonal component, computed via the EXACT one-way ANOVA
    // decomposition instead of materializing residuals: within-group
    // SS = Σv6² − Σ_h S_h²/n_h. Everything that crosses a shuffle is
    // an exact integer (per-(series,hod) n_h, S_h, Σv6² in
    // DECIMAL(38,0)/HUGEINT); the 24 rational S_h²/n_h terms are each
    // ONE double mul+div, then folded in explicit hod order on both
    // engines (collect→sort→left-fold — never an unordered SUM over
    // doubles), so the result is bit-stable under any partitioning.
    // Two shuffles on (series,hod) then series; O(series) output.
    Entry("a32_seasonal_strength", (s, dir) => {
      Tables.events(s, dir)
        .select(col("event_type"), hour(col("ts")).cast("long").as("hod"),
          Micro.of("value").as("v6"))
        .groupBy("event_type", "hod")
        .agg(count(lit(1)).as("nh"),
          sum(col("v6")).as("sh"),
          // cast-then-multiply (see a14): bigint v6*v6 overflows first
          sum(expr("cast(v6 as decimal(38,0)) * v6")).as("ssh"))
        .withColumn("t", (col("sh").cast("double") * col("sh").cast("double"))
          / col("nh").cast("double"))
        .groupBy("event_type")
        .agg(sum("nh").as("n"),
          sum(col("sh").cast("decimal(38,0)")).as("stot"),
          sum("ssh").as("ss2"),
          aggregate(array_sort(collect_list(struct(col("hod"), col("t")))),
            lit(0.0), (acc, x) => acc + x.getField("t")).as("between"))
        .select(col("event_type"), col("n"),
          round(
            when(col("ss2").cast("double") -
              (col("stot").cast("double") * col("stot").cast("double"))
                / col("n") === 0.0, 0.0)
            .otherwise(greatest(lit(0.0), lit(1.0) -
              (col("ss2").cast("double") - col("between")) /
              (col("ss2").cast("double") -
                (col("stot").cast("double") * col("stot").cast("double"))
                  / col("n")))), 6).as("seasonal_strength"))
    }, Some(s"""
      WITH e AS (SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
                   ${Micro.sql("value")} AS v6 FROM events),
      byhod AS (SELECT event_type, hod, count(*) AS nh,
                  CAST(sum(v6) AS BIGINT) AS sh,
                  sum(CAST(v6 AS HUGEINT) * v6) AS ssh
                FROM e GROUP BY event_type, hod),
      terms AS (SELECT *, (CAST(sh AS DOUBLE) * CAST(sh AS DOUBLE))
                          / CAST(nh AS DOUBLE) AS t
                FROM byhod),
      agg AS (SELECT event_type, CAST(sum(nh) AS BIGINT) AS n,
                sum(sh) AS stot, sum(ssh) AS ss2,
                list_reduce(list(t ORDER BY hod), (a, b) -> a + b) AS between
              FROM terms GROUP BY event_type)
      SELECT event_type, n,
             round(CASE WHEN CAST(ss2 AS DOUBLE) -
                 (CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE)) / n = 0.0
               THEN 0.0
               ELSE greatest(0.0, 1.0 -
                 (CAST(ss2 AS DOUBLE) - between) /
                 (CAST(ss2 AS DOUBLE) -
                   (CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE)) / n))
               END, 6) AS seasonal_strength
      FROM agg""")),

    // ---- a33: lead–lag cross-correlation grid — for every ordered
    // series pair, Pearson correlation of hourly totals at lags −3..+3
    // hours, with the argmax flagged: "errors lead clicks by 2h" is the
    // causal-direction signal a fleet dashboard wants next to a18's
    // contemporaneous correlation. Scale shape: the ONLY corpus-sized
    // work is the hourly pre-aggregate (one map-side-combined shuffle);
    // the lag join runs on the O(series × hours) dim table with the
    // shifted hour as a derived EQUI key (hsx + lag·3600 = hsy — no
    // range join, no cross join), and the grid is O(series² × lags)
    // rows. Exactness: all five co-moment sums are exact 128-bit
    // integers; each correlation is ONE double expression in pinned op
    // order, round(6); zero-variance slices emit 0 by an integer
    // predicate. The argmax window orders by (corr DESC, |lag|, lag) —
    // total, engine-independent.
    Entry("a33_leadlag", (s, dir) => {
      val hs = Tables.events(s, dir)
        .select(col("event_type"),
          date_trunc("hour", col("ts")).cast("long").as("hsec"),
          Micro.of("value").as("v6"))
        .groupBy("event_type", "hsec").agg(sum("v6").as("s6"))
      val x = hs.toDF("ta", "hsx", "x6")
        .withColumn("lag", explode(sequence(lit(-3L), lit(3L))))
      val y = hs.toDF("tb", "hsy", "y6")
      val g = x.join(y, col("hsx") + col("lag") * 3600L === col("hsy") &&
          col("ta") < col("tb"))
        .groupBy("ta", "tb", "lag")
        .agg(count(lit(1)).as("n"),
          sum(dec(col("x6"))).as("sx"), sum(dec(col("y6"))).as("sy"),
          sum(dec(col("x6")) * col("x6")).as("sxx"),
          sum(dec(col("y6")) * col("y6")).as("syy"),
          sum(dec(col("x6")) * col("y6")).as("sxy"))
        .withColumn("vx", dec(col("n")) * col("sxx") - col("sx") * col("sx"))
        .withColumn("vy", dec(col("n")) * col("syy") - col("sy") * col("sy"))
        .withColumn("corr", round(
          when(col("vx") === 0 || col("vy") === 0, 0.0).otherwise(
            (dec(col("n")) * col("sxy") - col("sx") * col("sy"))
              .cast("double") /
              (sqrt(col("vx").cast("double")) *
                sqrt(col("vy").cast("double")))), 6))
      val wB = org.apache.spark.sql.expressions.Window
        .partitionBy("ta", "tb")
        .orderBy(col("corr").desc, abs(col("lag")), col("lag"))
      g.withColumn("rk", row_number().over(wB))
        .select(concat(col("ta"), lit("~"), col("tb")).as("pair"),
          col("lag"), col("n").as("n_overlap"), col("corr"),
          (col("rk") === 1).as("is_best"))
    }, Some(s"""
      WITH e AS (SELECT event_type,
                   CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hsec,
                   ${Micro.sql("value")} AS v6 FROM events),
      h AS (SELECT event_type, hsec, CAST(sum(v6) AS BIGINT) AS s6
            FROM e GROUP BY 1, 2),
      x AS (SELECT event_type AS ta, hsec AS hsx, s6 AS x6, l.lag
            FROM h, (SELECT UNNEST(range(-3, 4)) AS lag) l),
      g AS (SELECT ta, tb, lag, count(*) AS n,
              sum(CAST(x6 AS HUGEINT)) AS sx,
              sum(CAST(y6 AS HUGEINT)) AS sy,
              sum(CAST(x6 AS HUGEINT) * x6) AS sxx,
              sum(CAST(y6 AS HUGEINT) * y6) AS syy,
              sum(CAST(x6 AS HUGEINT) * y6) AS sxy
            FROM x JOIN (SELECT event_type AS tb, hsec AS hsy, s6 AS y6
                         FROM h) y
              ON x.hsx + x.lag * 3600 = y.hsy AND x.ta < y.tb
            GROUP BY ta, tb, lag),
      c AS (SELECT ta, tb, lag, n,
              CAST(n AS HUGEINT) * sxx - sx * sx AS vx,
              CAST(n AS HUGEINT) * syy - sy * sy AS vy,
              round(CASE WHEN CAST(n AS HUGEINT) * sxx - sx * sx = 0
                           OR CAST(n AS HUGEINT) * syy - sy * sy = 0
                    THEN 0.0
                    ELSE CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
                         / (sqrt(CAST(CAST(n AS HUGEINT) * sxx - sx * sx
                              AS DOUBLE))
                            * sqrt(CAST(CAST(n AS HUGEINT) * syy - sy * sy
                                AS DOUBLE)))
                    END, 6) AS corr
            FROM g)
      SELECT ta || '~' || tb AS pair, lag, n AS n_overlap, corr,
             row_number() OVER (PARTITION BY ta, tb
               ORDER BY corr DESC, abs(lag), lag) = 1 AS is_best
      FROM c""")),

    // ---- a34: variance-time Hurst estimator — long-range dependence,
    // the burstiness property none of the point/window tests see: slice
    // each series into blocks of m ∈ {4,16,64} consecutive points,
    // regress ln Var(block means) on ln m; slope = 2H−2, H > 0.5 marks
    // persistent (self-similar) load, H ≈ 0.5 short-memory noise.
    // Exactness: block sums and both variance moments are exact 128-bit
    // integers, so Var_m = (B·ΣS² − (ΣS)²)/(m²B²) reaches the double
    // world as ONE division of two exact ints; ln is the only libm call
    // and is round(6)-micro-fixed immediately (p46's discipline — ulp
    // differences cannot survive), with ln m embedded as build-time
    // integer literals. The 3-point OLS is then pure int64 arithmetic
    // with one final division. Shuffles: the rn sort on the series key,
    // then (series, m, block) and (series, m) aggregates that ride it —
    // block slicing by row index needs no resampling join.
    Entry("a34_hurst", (s, dir) => {
      val wRn = seriesOrder
      val xs = VtScales.map(m => math.round(1e6 * math.log(m.toDouble)))
      val (sx, sxx) = (xs.sum, xs.map(x => x * x).sum)
      val pts = Tables.events(s, dir)
        .select(col("event_type"), col("ts"), col("event_id"),
          Micro.of("value").as("v6"))
        .withColumn("rn", row_number().over(wRn))
        .withColumn("m", explode(array(VtScales.map(lit): _*)))
        .withColumn("blk", expr("(rn - 1) div m"))
        .groupBy("event_type", "m", "blk")
        .agg(count(lit(1)).as("bn"), sum("v6").as("sb"))
        .filter(col("bn") === col("m"))
        .groupBy("event_type", "m")
        .agg(count(lit(1)).as("nb"),
          sum(dec(col("sb"))).as("s1"), sum(dec(col("sb")) * col("sb")).as("s2"))
        .withColumn("num", dec(col("nb")) * col("s2") - col("s1") * col("s1"))
        .withColumn("den",
          dec(col("m")) * col("m") * col("nb") * col("nb"))
        .filter(col("num") > 0)
        .withColumn("l6", expr(
          "cast(round(1e6 * ln(cast(num as double) / cast(den as double))) " +
            "as bigint)"))
        .withColumn("x6", expr(s"element_at(array(${xs.mkString(",")}), " +
          s"cast(array_position(array(${VtScales.mkString(",")}), m) as int))"))
      pts.groupBy("event_type")
        .agg(count(lit(1)).as("np"), sum("l6").as("sy"),
          sum(col("x6") * col("l6")).as("sxy"))
        .filter(col("np") === VtScales.length)
        .select(col("event_type"),
          round((((col("sxy") * 3 - lit(sx) * col("sy")).cast("double") /
            lit((3L * sxx - sx * sx).toDouble)) / lit(2.0) + lit(1.0)), 6)
            .as("hurst"))
    }, Some {
      val xs = VtScales.map(m => math.round(1e6 * math.log(m.toDouble)))
      val (sx, sxx) = (xs.sum, xs.map(x => x * x).sum)
      val xcase = VtScales.zip(xs).map { case (m, x) =>
        s"WHEN m = $m THEN $x" }.mkString(" ")
      s"""
      WITH e AS (SELECT event_type, ts, event_id,
                   ${Micro.sql("value")} AS v6 FROM events),
      rn AS (SELECT event_type, v6, row_number() OVER (
               PARTITION BY event_type ORDER BY ts, event_id) AS rn
             FROM e),
      blk AS (SELECT event_type, m.m, (rn - 1) // m.m AS blk,
                count(*) AS bn, CAST(sum(v6) AS BIGINT) AS sb
              FROM rn, (SELECT UNNEST([${VtScales.mkString(",")}]) AS m) m
              GROUP BY 1, 2, 3),
      agg AS (SELECT event_type, m, count(*) AS nb,
                sum(CAST(sb AS HUGEINT)) AS s1,
                sum(CAST(sb AS HUGEINT) * sb) AS s2
              FROM blk WHERE bn = m GROUP BY 1, 2),
      pt AS (SELECT event_type, m, nb,
               CAST(nb AS HUGEINT) * s2 - s1 * s1 AS num,
               CAST(m AS HUGEINT) * m * nb * nb AS den
             FROM agg),
      l AS (SELECT event_type,
              CAST(round(1e6 * ln(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)))
                AS BIGINT) AS l6,
              CASE $xcase END AS x6
            FROM pt WHERE num > 0),
      ols AS (SELECT event_type, count(*) AS np,
                CAST(sum(l6) AS BIGINT) AS sy,
                CAST(sum(x6 * l6) AS BIGINT) AS sxy
              FROM l GROUP BY event_type)
      SELECT event_type,
             round((CAST(sxy * 3 - $sx * sy AS DOUBLE) /
               ${3L * sxx - sx * sx}.0) / 2.0 + 1.0, 6) AS hurst
      FROM ols WHERE np = ${VtScales.length}"""
    }),

    // ---- a35: inter-arrival burstiness — the POINT-PROCESS companion
    // to a34's count-series Hurst: CV² of the gaps between consecutive
    // events per series (CV² = 1 ⇒ Poisson arrivals, > 1 bursty,
    // < 1 pacemaker-regular). Arrival-pattern shifts precede value
    // anomalies in most fleets, and none of the value-window tests can
    // see them. Gaps are exact integer MICROSECONDS from one lag over
    // the series sort; the two moment sums are exact 128-bit integers,
    // so CV² = (n·Σg² − (Σg)²)/(Σg)² reaches FP as ONE division of two
    // exact ints, round(6). One series shuffle; O(series) output.
    Entry("a35_interarrival", (s, dir) => {
      val wRn = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy(col("tus"), col("event_id"))
      Tables.events(s, dir)
        .select(col("event_type"), col("event_id"),
          expr("unix_micros(ts)").as("tus"))
        .withColumn("gap", col("tus") - lag(col("tus"), 1).over(wRn))
        .filter(col("gap").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_gaps"),
          sum(dec(col("gap"))).as("sg"),
          sum(dec(col("gap")) * col("gap")).as("sgg"))
        .filter(col("sg") > 0)
        .select(col("event_type"), col("n_gaps"),
          round((dec(col("n_gaps")) * col("sgg") - col("sg") * col("sg"))
            .cast("double") /
            (col("sg") * col("sg")).cast("double"), 6).as("cv2"),
          round(col("sg").cast("double") / col("n_gaps") / 1e6, 6)
            .as("mean_gap_sec"))
    }, Some("""
      WITH e AS (SELECT event_type, event_id,
                   epoch_us(ts) AS tus FROM events),
      g AS (SELECT event_type,
              tus - lag(tus) OVER (PARTITION BY event_type
                ORDER BY tus, event_id) AS gap
            FROM e),
      agg AS (SELECT event_type, count(*) AS n_gaps,
                sum(CAST(gap AS HUGEINT)) AS sg,
                sum(CAST(gap AS HUGEINT) * gap) AS sgg
              FROM g WHERE gap IS NOT NULL GROUP BY event_type)
      SELECT event_type, n_gaps,
             round(CAST(CAST(n_gaps AS HUGEINT) * sgg - sg * sg AS DOUBLE)
               / CAST(sg * sg AS DOUBLE), 6) AS cv2,
             round(CAST(sg AS DOUBLE) / n_gaps / 1e6, 6) AS mean_gap_sec
      FROM agg WHERE sg > 0""")),

    // ---- a36: generalized ESD (Rosner) — the iterative extension of
    // a25's single-shot Grubbs: k=3 unrolled rounds over the trailing
    // 20-point window, each computing the max studentized deviation
    // R_r, then REMOVING that point (first index on ties — one
    // deterministic rule on both engines) and re-testing the remainder;
    // n_anom = the largest r with R_r above its critical value, the
    // masking-proof count a single Grubbs pass cannot give (two spikes
    // inflate the stddev and hide each other). Exactness mirrors a25:
    // micro-fixed int64 values, window sums reused across rounds by
    // integer SUBTRACTION of the removed point (no re-aggregation —
    // each round is O(w) array math on the row), 128-bit variance
    // numerators, and R_r built from the same integer operands by the
    // same double ops on both engines. One series-key shuffle total;
    // rows where any round's remainder is constant (varnum=0) are
    // excluded, as in a25.
    Entry("a36_esd", (s, dir) => {
      Tables.events(s, dir)
        .select(col("event_type"), col("event_id"), col("ts"),
          Micro.of("value").as("v6"))
        .transform(esdRounds(_, "v6"))
        .select(Seq(col("event_type"), col("event_id")) ++ esdCols: _*)
    }, Some {
      val w = EsdWindow
      val k = EsdRounds
      s"""
      WITH base AS (
        SELECT event_type, event_id,
               row_number() OVER win AS rn,
               array_agg(${Micro.sql("value")}) OVER (
                 win ROWS BETWEEN ${w - 1} PRECEDING AND CURRENT ROW)
                 AS arr0,
               CAST(sum(${Micro.sql("value")}) OVER (
                 win ROWS BETWEEN ${w - 1} PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS sx0,
               sum(CAST(${Micro.sql("value")} AS HUGEINT)
                   * ${Micro.sql("value")}) OVER (
                 win ROWS BETWEEN ${w - 1} PRECEDING AND CURRENT ROW)
                 AS sxx0
        FROM events
        WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id)),
      f0 AS (SELECT * FROM base WHERE rn >= $w)${esdRoundsSql("")}
      SELECT event_type, event_id, r1, r2, r3,
             $esdAnomSql
      FROM g${k - 1}"""
    }),

    binsegEntry,
    maseEntry,
    sesdEntry,
    spectralEntry,
    rollupDetectEntry,
    sketchQuantileEntry,
    evtTailEntry,
    distDriftEntry,
    incidentCorrEntry,
    alertEpisodesEntry,
    quantileTrendEntry,
    sloBurnEntry,
    ksTwoSeriesEntry,
    stlDecomposeEntry,
    forecastBandEntry,
    discordEntry,
    motifEntry,
    scorecardEntry,
    detectorOverlapEntry,
    thresholdSweepEntry,
    ensembleAblationEntry,
    gateTunerEntry
  )

  /** The ESD rounds over the trailing [[EsdWindow]] of column `v`:
    * the window array `arr0` with its exact sums `sx0`/`sxx0` (128-bit
    * squares), the k rounds as ONE native expression `esd`
    * ([[graft.functions.EsdFunctions]], the tight-loop twin of
    * esdFoldSql, which stays as the SQL-expressible reference; EsdProps
    * pins them bit-identical), full windows with a non-constant
    * remainder only. The SQL fold was semantically right but
    * interpretively ~95 us/row; the native loop is sub-us, so no
    * materialization barrier or extra exchange is needed: one
    * series-key shuffle total.
    */
  private def esdRounds(df: DataFrame, v: String): DataFrame = {
    val w = EsdWindow
    val frame = trailingFrame(w)
    df.transform(withTrailing(_, v, w, arr = "arr0"))
      .withColumn("sx0", sum(col(v)).over(frame))
      .withColumn("sxx0", sum(dec(col(v)) * col(v)).over(frame))
      .filter(col("rn") >= w)
      .withColumn("esd", graft.functions.EsdFunctions.esd_rounds(
        col("arr0"), col("sx0"), col("sxx0"), w, EsdRounds))
      .filter(col("esd.vnz"))
  }

  /** [[esdRounds]]' statistics R1..R3 and n_anom, the largest r whose
    * R_r exceeds its critical value [[EsdLambda]].
    */
  private def esdCols: Seq[Column] = {
    val lam = EsdLambda
    Seq(col("esd.r1").as("r1"), col("esd.r2").as("r2"),
      col("esd.r3").as("r3"),
      when(col("esd.r3") > lam(2), 3L).when(col("esd.r2") > lam(1), 2L)
        .when(col("esd.r1") > lam(0), 1L).otherwise(0L).as("n_anom"))
  }

  /** [[esdRounds]]' DuckDB twin: CTEs g0, f1, g1, … after an `f0`
    * relation with (event_type, event_id, arr0, sx0, sxx0), each round
    * dropping the most extreme point by integer subtraction; `carry`
    * lists extra f0 columns the rounds pass along (e.g. `" res2,"`).
    */
  private def esdRoundsSql(carry: String): String = {
    val w = EsdWindow
    val k = EsdRounds
    (1 to k).map { r =>
      val p = r - 1
      val n = w - p
      val next =
        if (r < k) s""",
        f$r AS (SELECT event_type, event_id,$carry
                  list_concat(arr$p[1:idx$p - 1], arr$p[idx$p + 1:$n])
                    AS arr$r,
                  sx$p - arr$p[idx$p] AS sx$r,
                  sxx$p - CAST(arr$p[idx$p] AS HUGEINT) * arr$p[idx$p]
                    AS sxx$r,
                  ${(1 to r).map(j => s"r$j").mkString(", ")}
                FROM g$p)"""
        else ""
      s""",
        g$p AS (SELECT *,
                  CAST(maxdev$p AS DOUBLE) / $n.0
                    / sqrt(CAST(varnum$p AS DOUBLE) / ${n * (n - 1)}.0)
                    AS r$r
                FROM (SELECT *,
                  $n * sxx$p - CAST(sx$p AS HUGEINT) * sx$p AS varnum$p,
                  list_max(list_transform(arr$p,
                    x -> abs($n * x - sx$p))) AS maxdev$p,
                  list_filter(range(1, ${n + 1}),
                    i -> abs($n * arr$p[i] - sx$p) =
                      list_max(list_transform(arr$p,
                        x -> abs($n * x - sx$p))))[1] AS idx$p
                FROM f$p)
                WHERE varnum$p <> 0)$next"""
    }.mkString("")
  }

  /** [[esdCols]]' n_anom in DuckDB. */
  private def esdAnomSql: String = {
    val lam = EsdLambda
    s"""CASE WHEN r3 > ${lam(2)} THEN 3
                  WHEN r2 > ${lam(1)} THEN 2
                  WHEN r1 > ${lam(0)} THEN 1
                  ELSE 0 END::BIGINT AS n_anom"""
  }

  /** a36's generalized-ESD window, round count, and per-round critical
    * values (fixed constants embedded identically in both engines).
    * lazy: referenced while `entries` (declared above) constructs.
    */
  private[graft] lazy val EsdWindow = 20
  private[graft] lazy val EsdRounds = 3
  private[graft] lazy val EsdLambda: Seq[Double] = Seq(2.71, 2.68, 2.65)

  /** The k generalized-ESD rounds as ONE fold expression over
    * `sequence(1,k)`, accumulator = (arr, sx, sxx, rs, vnz).
    *
    * STATUS: this is the SQL-expressible REFERENCE form; production
    * (a36/a39) uses the bit-identical native
    * [[graft.functions.EsdRounds]] expression (~95 us/row interpreted
    * HOF cost vs sub-us native — measured 42 s vs 6 s per query on a
    * 1M-row corpus). EsdProps pins the two against each other and a
    * sequential Scala reference on random windows. Kept because it
    * documents the semantics in pure Spark SQL and keeps the catalog's
    * logic reproducible without the extension jar.
    *
    * Round-6
    * postmortem: the previous chained-`withColumn` form let Catalyst's
    * projection collapse INLINE round r−1's array expression into every
    * round-r reference, so the tree grew ~7^k-fold, fell out of codegen,
    * and one interpreted task ground a multi-MB expression per row
    * (a36 = 314 s, a39 = 280 s at sf0.01 — the whole driver gate timed
    * out). In the fold, each round's state is a BOUND lambda variable:
    * the shrunk array, its sums, and the per-round statistic each
    * materialize exactly once per iteration, so the tree is fixed-size
    * (~300 nodes) regardless of k and the per-row cost is O(k·w).
    *
    * Inner fold finds (maxdev, first-argmax idx) in one pass — strict
    * `>` keeps the FIRST index on ties, the same rule the DuckDB oracle
    * spells as list_filter(...)[1]; `transform(array(<fold>), m -> …)`
    * then binds that pair once so the removal arithmetic doesn't
    * re-run the scan. All array access is `try_element_at` (total under
    * ANSI) so the expression stays safe if filter pushdown ever
    * evaluates it on a short-frame row; inner zero idx=1 keeps the
    * slice arithmetic in-range on such rows (they never survive the
    * rn >= w conjunct, so totality is all that's needed).
    *
    * Exactness vs the oracle is unchanged from the chained form: same
    * integer operands (bigint devs, decimal(38,0) variance numerators),
    * same double ops in the same order for R_r. The one wrinkle: a
    * CONSTANT round (varnum = 0) makes sqrt(varnum/...) a ZERO double
    * divisor, and ANSI mode throws DIVIDE_BY_ZERO even for doubles —
    * at 100 TB a single flat window anywhere would kill the job
    * (EsdSpec's crafted constant/spike series caught this; the corpus
    * never hits it). R_r therefore goes through try_divide: NULL for
    * rounds the vnz filter excludes anyway, the identical IEEE
    * division everywhere else.
    */
  private[graft] def esdFoldSql(w: Int, k: Int,
      arr: String, sx: String, sxx: String): String = {
    val n = s"(${w + 1} - r)"
    val dev = s"abs($n * try_element_at(acc.arr, i) - acc.sx)"
    val rm = "try_element_at(acc.arr, m.idx)"
    val varnum = s"($n * acc.sxx - cast(acc.sx as decimal(38,0)) * acc.sx)"
    s"""aggregate(
      sequence(1, $k),
      named_struct(
        'arr', $arr, 'sx', $sx, 'sxx', cast($sxx as decimal(38,0)),
        'rs', cast(array() as array<double>), 'vnz', true),
      (acc, r) -> try_element_at(transform(array(
          aggregate(sequence(1, $n),
            named_struct('dev', cast(-1 as bigint), 'idx', 1),
            (b, i) -> if($dev > b.dev, named_struct('dev', $dev, 'idx', i), b))),
        m -> named_struct(
          'arr', concat(slice(acc.arr, 1, m.idx - 1),
                        slice(acc.arr, m.idx + 1, $n - m.idx)),
          'sx', acc.sx - $rm,
          'sxx', acc.sxx - cast($rm as decimal(38,0)) * $rm,
          'rs', concat(acc.rs, array(
            try_divide(cast(m.dev as double) / cast($n as double),
              sqrt(cast($varnum as double)
                   / cast($n * ($n - 1) as double))))),
          'vnz', acc.vnz and $varnum <> 0)), 1),
      acc -> named_struct(
        ${(1 to k).map(i =>
          s"'r$i', try_element_at(acc.rs, $i)").mkString(", ")},
        'vnz', acc.vnz))"""
  }

  /** a37: two-level binary-segmentation changepoint detection — the
    * offline complement of a17's windowed CUSUM and a26's sequential
    * Page–Hinkley: per series, the level-1 split t1 maximizes the
    * CUSUM statistic G(t) = |n·S_t − t·S_n| over the WHOLE series
    * (ties → smallest t, one rule on both engines), then each side is
    * split once more with the same statistic restricted to the
    * segment — the classic top-down changepoint tree, depth 2.
    * Exactness: everything is prefix-sum integer arithmetic on
    * micro-fixed values (G is the a17/a10 multiply-through trick, no
    * division until the final mean-shift magnitude, which is ONE
    * integer HALF_UP division to micro-units). 100 TB shape: ONE
    * series-key shuffle; every level-2 quantity is derived from the
    * SAME prefix sums via stacked whole-partition window aggregates
    * (max / conditional min), so adding a level costs projections,
    * not shuffles — no joins, no re-aggregation, no argmax UDF.
    */
  private[queries] def binsegEntry: Entry =
    Entry("a37_binseg", (s, dir) => {
      val wOrd = seriesOrder
      val wRun = wOrd.rowsBetween(Long.MinValue, 0)
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type")
      // CUSUM products scale with SERIES LENGTH (n·s ~ N²·v6), so they
      // run in DECIMAL(38,0) / HUGEINT on both engines — int64 would
      // overflow for a long, large-valued series long before the
      // domain bound; g/g1/g2 stay decimal through the output
      Tables.events(s, dir)
        .select(col("event_type"), col("event_id"), col("ts"),
          Micro.of("value").as("v6"))
        .withColumn("t", row_number().over(wOrd).cast("long"))
        .withColumn("s", sum(col("v6")).over(wRun))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("sn", sum(col("v6")).over(wAll))
        .withColumn("g", when(col("t") < col("n"),
          abs(dec(col("n")) * col("s") - dec(col("t")) * col("sn"))))
        .withColumn("g1", max(col("g")).over(wAll))
        .withColumn("t1",
          min(when(col("g") === col("g1"), col("t"))).over(wAll))
        .withColumn("s1",
          min(when(col("t") === col("t1"), col("s"))).over(wAll))
        .withColumn("g2",
          when(col("t") < col("t1"),
            abs(dec(col("t1")) * col("s") - dec(col("t")) * col("s1")))
          .when(col("t") > col("t1") && col("t") < col("n"),
            abs(dec(col("n") - col("t1")) * (col("s") - col("s1")) -
              dec(col("t") - col("t1")) * (col("sn") - col("s1")))))
        .withColumn("gl",
          max(when(col("t") < col("t1"), col("g2"))).over(wAll))
        .withColumn("t2l", min(when(col("t") < col("t1") &&
          col("g2") === col("gl"), col("t"))).over(wAll))
        .withColumn("gr",
          max(when(col("t") > col("t1"), col("g2"))).over(wAll))
        .withColumn("t2r", min(when(col("t") > col("t1") &&
          col("g2") === col("gr"), col("t"))).over(wAll))
        .filter(col("t") === col("t1"))
        .withColumn("den", dec(col("t1")) * (col("n") - col("t1")))
        // g1 leaves as DOUBLE: the internal statistic stays exact
        // 128-bit, but a DECIMAL output column is hostile to
        // downstream consumers (and hashers) — casting the same exact
        // integer to IEEE double is identical on any engine.
        .select(col("event_type"), col("n"), col("t1"),
          col("g1").cast("double").as("g1"),
          (expr("(g1 + den div 2) div den") / 1e6).as("mean_shift"),
          col("t2l").as("t2_left"), col("t2r").as("t2_right"))
    }, Some(s"""
      WITH e AS (SELECT event_type, event_id, ts,
                   ${Micro.sql("value")} AS v6 FROM events),
      w AS (SELECT event_type,
              CAST(row_number() OVER win AS BIGINT) AS t,
              CAST(sum(v6) OVER (win ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS s,
              count(*) OVER wall AS n,
              CAST(sum(v6) OVER wall AS BIGINT) AS sn
            FROM e
            WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id),
                   wall AS (PARTITION BY event_type)),
      g AS (SELECT *, CASE WHEN t < n THEN
              abs(CAST(n AS HUGEINT)*s - CAST(t AS HUGEINT)*sn) END AS g
            FROM w),
      l1 AS (SELECT *, max(g) OVER wall AS g1
             FROM g WINDOW wall AS (PARTITION BY event_type)),
      l1a AS (SELECT *, min(CASE WHEN g = g1 THEN t END) OVER wall AS t1
              FROM l1 WINDOW wall AS (PARTITION BY event_type)),
      l1b AS (SELECT *, min(CASE WHEN t = t1 THEN s END) OVER wall AS s1
              FROM l1a WINDOW wall AS (PARTITION BY event_type)),
      g2 AS (SELECT *,
               CASE WHEN t < t1 THEN
                      abs(CAST(t1 AS HUGEINT)*s - CAST(t AS HUGEINT)*s1)
                    WHEN t > t1 AND t < n THEN
                      abs(CAST(n - t1 AS HUGEINT)*(s - s1)
                          - CAST(t - t1 AS HUGEINT)*(sn - s1))
               END AS g2
             FROM l1b),
      l2 AS (SELECT *,
               max(CASE WHEN t < t1 THEN g2 END) OVER wall AS gl,
               max(CASE WHEN t > t1 THEN g2 END) OVER wall AS gr
             FROM g2 WINDOW wall AS (PARTITION BY event_type)),
      l2b AS (SELECT *,
                min(CASE WHEN t < t1 AND g2 = gl THEN t END)
                  OVER wall AS t2l,
                min(CASE WHEN t > t1 AND g2 = gr THEN t END)
                  OVER wall AS t2r
              FROM l2 WINDOW wall AS (PARTITION BY event_type))
      SELECT event_type, n, t1, CAST(g1 AS DOUBLE) AS g1,
             CAST((g1 + (CAST(t1 AS HUGEINT)*(n - t1)) // 2)
               // (CAST(t1 AS HUGEINT)*(n - t1)) AS BIGINT)
               / 1e6 AS mean_shift,
             t2l AS t2_left, t2r AS t2_right
      FROM l2b WHERE t = t1"""))

  /** a38: seasonal-naive predictability (MASE) — the forecast-quality
    * diagnostic that complements a32's variance-based seasonal
    * strength: per series, the mean absolute error of the
    * SEASONAL-naive forecast x̂_t = x_{t−s} (s = 24 positions) divided
    * by the MAE of the random-walk naive x̂_t = x_{t−1}. MASE < 1 ⇒
    * the seasonal pattern genuinely predicts (repeat last season beats
    * repeat last value); ≈1 ⇒ no exploitable seasonality. Exactness:
    * both MAEs are integer micro-sums over lag differences; the ratio
    * folds into ONE integer HALF_UP division of 128-bit products
    * (Σseas·n_naive / Σnaive·n_seas scaled to micro), so nothing
    * floating crosses a shuffle. One series-key shuffle; both lags
    * ride the same sort.
    */
  private[queries] def maseEntry: Entry =
    Entry("a38_mase", (s, dir) => {
      val sLag = 24
      val wOrd = seriesOrder
      Tables.events(s, dir)
        .select(col("event_type"), col("event_id"), col("ts"),
          Micro.of("value").as("v6"))
        .withColumn("e1", abs(col("v6") - lag(col("v6"), 1).over(wOrd)))
        .withColumn("es", abs(col("v6") - lag(col("v6"), sLag).over(wOrd)))
        .groupBy("event_type")
        .agg(count(col("e1")).as("n_naive"),
          sum(dec(col("e1"))).as("sum_naive"),
          count(col("es")).as("n_seas"),
          sum(dec(col("es"))).as("sum_seas"))
        .filter(col("sum_naive") > 0 && col("n_seas") > 0)
        .withColumn("den", col("sum_naive") * col("n_seas"))
        .select(col("event_type"), col("n_naive"), col("n_seas"),
          (expr("(sum_naive * 1000000 + n_naive div 2) div n_naive")
            .cast("long") / 1e6 / 1e6).as("mae_naive"),
          (expr("(sum_seas * 1000000 + n_seas div 2) div n_seas")
            .cast("long") / 1e6 / 1e6).as("mae_seasonal"),
          (expr("(sum_seas * n_naive * 1000000 + den div 2) div den")
            .cast("long") / 1e6).as("mase"))
    }, Some(s"""
      WITH e AS (SELECT event_type, event_id, ts,
                   ${Micro.sql("value")} AS v6 FROM events),
      lagd AS (SELECT event_type,
                 abs(v6 - lag(v6, 1) OVER win) AS e1,
                 abs(v6 - lag(v6, 24) OVER win) AS es
               FROM e
               WINDOW win AS (PARTITION BY event_type
                 ORDER BY ts, event_id)),
      agg AS (SELECT event_type,
                count(e1) AS n_naive,
                sum(CAST(e1 AS HUGEINT)) AS sum_naive,
                count(es) AS n_seas,
                sum(CAST(es AS HUGEINT)) AS sum_seas
              FROM lagd GROUP BY event_type)
      SELECT event_type, n_naive, n_seas,
             CAST((sum_naive * 1000000 + n_naive // 2) // n_naive
               AS BIGINT) / 1e6 / 1e6 AS mae_naive,
             CAST((sum_seas * 1000000 + n_seas // 2) // n_seas
               AS BIGINT) / 1e6 / 1e6 AS mae_seasonal,
             CAST((sum_seas * n_naive * 1000000
                   + (sum_naive * n_seas) // 2) // (sum_naive * n_seas)
               AS BIGINT) / 1e6 AS mase
      FROM agg WHERE sum_naive > 0 AND n_seas > 0"""))

  /** a39: Seasonal-ESD — the S-ESD composition (Twitter's AnomalyDetection
    * shape, Hochenbaum et al. 2017): remove the wall-clock seasonal
    * component first, THEN run a36's generalized-ESD rounds on the
    * residuals, so a diurnal series' legitimate peak hours stop masking
    * (or faking) outliers that the raw-value a36 sees. Seasonal
    * component = the (series, hour-of-day) bucket MEDIAN over the whole
    * corpus (the robust choice — a single spike cannot drag the bucket
    * baseline the way a16's mean does). Exactness: the bucket median of
    * int64 micro-values is a half-integer, so DOUBLED residuals
    * res2 = 2·v6 − med2 (med2 = 2×median, exact integer via interpolated
    * percentile of ints — every FP step exact) keep the entire ESD
    * chain in integers; the studentized statistic R is scale-invariant,
    * so a36's critical values apply unchanged. 100 TB shape: the
    * seasonal dim is O(series × 24) — ONE map-side-combinable aggregate
    * (exact percentile of a bucket is sort-based; at real scale the
    * same dim drops in from quantile summaries) broadcast back; then
    * one series-key shuffle that the rn sort, the window sums, and the
    * round chain all ride — a39 costs exactly one shuffle more than
    * nothing over a36 (the dim agg), and the rounds are row-local
    * array math as in a36.
    */
  private[queries] def sesdEntry: Entry =
    Entry("a39_seasonal_esd", (s, dir) => {
      val base = Tables.events(s, dir)
        .select(col("event_type"), col("event_id"), col("ts"),
          hour(col("ts")).cast("long").as("hod"),
          Micro.of("value").as("v6"))
      val seas = base.groupBy("event_type", "hod")
        .agg((percentile(col("v6"), lit(0.5)) * 2).cast("long").as("med2"))
      // Same native ESD rounds as a36 over the seasonal residuals
      // instead of raw values.
      base
        .join(broadcast(seas), Seq("event_type", "hod"))
        .withColumn("res2", lit(2L) * col("v6") - col("med2"))
        .transform(esdRounds(_, "res2"))
        .select(Seq(col("event_type"), col("event_id"),
          (col("res2").cast("double") / lit(2000000.0)).as("res_v")) ++
          esdCols: _*)
    }, Some {
      val w = EsdWindow
      val k = EsdRounds
      s"""
      WITH e AS (SELECT event_type, event_id, ts,
                   CAST(hour(ts) AS BIGINT) AS hod,
                   ${Micro.sql("value")} AS v6 FROM events),
      seas AS (SELECT event_type, hod,
                 CAST(quantile_cont(v6, 0.5) * 2 AS BIGINT) AS med2
               FROM e GROUP BY event_type, hod),
      rsd AS (SELECT e.event_type, e.event_id, e.ts,
                2 * e.v6 - s.med2 AS res2
              FROM e JOIN seas s USING (event_type, hod)),
      base AS (
        SELECT event_type, event_id, res2,
               row_number() OVER win AS rn,
               array_agg(res2) OVER (
                 win ROWS BETWEEN ${w - 1} PRECEDING AND CURRENT ROW)
                 AS arr0,
               CAST(sum(res2) OVER (
                 win ROWS BETWEEN ${w - 1} PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS sx0,
               sum(CAST(res2 AS HUGEINT) * res2) OVER (
                 win ROWS BETWEEN ${w - 1} PRECEDING AND CURRENT ROW)
                 AS sxx0
        FROM rsd
        WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id)),
      f0 AS (SELECT * FROM base WHERE rn >= $w)${esdRoundsSql(" res2,")}
      SELECT event_type, event_id,
             CAST(res2 AS DOUBLE) / 2000000.0 AS res_v,
             r1, r2, r3,
             $esdAnomSql
      FROM g${k - 1}"""
    })

  /** a40: full-spectrum concentration — a31 generalized from 3 fixed
    * periods to the whole 24-point spectrum (harmonics k = 1..12 of
    * the daily cycle): which period DOMINATES a series and how
    * concentrated its rhythm is. Outputs the dominant harmonic
    * (argmax energy, smallest k on ties), its energy share, and the
    * participation ratio PR = (Σe)²/Σe² — PR ≈ 1 means one clean
    * periodicity, PR ≈ 12 means flat/aperiodic noise; PR drift is the
    * "this series lost its rhythm" alarm that fixed-period amplitude
    * tracking (a31) cannot raise. Exactness: the 24 spectral sums are
    * exact 128-bit integers over the build-time integer trig table
    * (a31's no-cross-engine-trig rule); energies and both ratios are
    * then a FIXED chain of double ops — squares, left-folds in k
    * order (never an unordered SUM over doubles), two divisions,
    * round(6) — identical IEEE sequence on both engines. No ln/exp:
    * concentration is deliberately a ratio statistic, keeping the
    * whole op libm-free (the p41-documented ln boundary-collision
    * class cannot occur). 100 TB shape: ONE map-side-combined series
    * aggregate, O(series) output, 24 integer columns of shuffle
    * payload per series.
    */
  private[queries] def spectralEntry: Entry =
    Entry("a40_spectral_concentration", (s, dir) => {
      val ks = 1 to 12
      def sumK(k: Int, arr: Seq[Long], nm: String) =
        // cast-then-multiply: bigint v6*trig overflows int64 for
        // in-domain |v6| > ~9.2e12 (trig entries are 1e6-scale)
        sum(expr(s"cast(v6 as decimal(38,0)) * element_at(array(" +
          s"${arr.mkString(",")}), " +
          s"cast(($k * hod) % 24 + 1 as int))")).as(nm)
      def eK(k: Int) = {
        val (c, sn) = (col(s"sc$k").cast("double"), col(s"ss$k").cast("double"))
        (c * c + sn * sn).as(s"e$k")
      }
      val eArr = s"array(${ks.map(k => s"e$k").mkString(", ")})"
      Tables.events(s, dir)
        .select(col("event_type"), hour(col("ts")).cast("long").as("hod"),
          Micro.of("value").as("v6"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          ks.flatMap(k => Seq(sumK(k, Cos6, s"sc$k"),
            sumK(k, Sin6, s"ss$k"))): _*)
        .select(col("event_type") +: col("n") +: ks.map(k => eK(k)): _*)
        .withColumn("etot",
          expr(s"aggregate($eArr, 0D, (a, x) -> a + x)"))
        .withColumn("emax", expr(s"array_max($eArr)"))
        .withColumn("dom_k",
          expr(s"cast(element_at(filter(sequence(1, 12), " +
            s"k -> element_at($eArr, k) = emax), 1) as bigint)"))
        .filter(col("etot") > 0.0)
        .select(col("event_type"), col("n"), col("dom_k"),
          round(col("emax") / col("etot"), 6).as("dom_share"),
          round((col("etot") * col("etot")) /
            expr(s"aggregate($eArr, 0D, (a, x) -> a + x * x)"), 6)
            .as("pr"))
    }, Some {
      val ks = 1 to 12
      def sumK(k: Int, arr: Seq[Long], nm: String) =
        s"""sum(CAST(v6 AS HUGEINT) * ([${arr.mkString(",")}])[($k * hod) % 24 + 1]) AS $nm"""
      def eK(k: Int) =
        s"""(CAST(sc$k AS DOUBLE) * CAST(sc$k AS DOUBLE)
            + CAST(ss$k AS DOUBLE) * CAST(ss$k AS DOUBLE)) AS e$k"""
      val eArr = s"[${ks.map(k => s"e$k").mkString(", ")}]"
      s"""
      WITH e AS (SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
                   ${Micro.sql("value")} AS v6 FROM events),
      agg AS (SELECT event_type, count(*) AS n,
                ${ks.flatMap(k => Seq(sumK(k, Cos6, s"sc$k"),
                  sumK(k, Sin6, s"ss$k"))).mkString(",\n                ")}
              FROM e GROUP BY event_type),
      en AS (SELECT event_type, n,
               ${ks.map(eK).mkString(",\n               ")}
             FROM agg),
      st AS (SELECT event_type, n,
               list_reduce(list_prepend(0.0, $eArr), (a, b) -> a + b)
                 AS etot,
               list_reduce(list_prepend(0.0,
                 list_transform($eArr, x -> x * x)), (a, b) -> a + b)
                 AS esq,
               list_max($eArr) AS emax,
               CAST(list_filter(range(1, 13),
                 k -> $eArr[k] = list_max($eArr))[1] AS BIGINT) AS dom_k
             FROM en)
      SELECT event_type, n, dom_k,
             round(emax / etot, 6) AS dom_share,
             round((etot * etot) / esq, 6) AS pr
      FROM st WHERE etot > 0.0"""
    })

  /** a41: aggregate-then-detect — the ops-metrics composition every
    * monitoring stack runs: roll the raw log up to an hourly
    * mean-value series per series key, then run the reference's FULL
    * ensemble (magnitude short-circuit, dynamic weights, fence, cdf)
    * on the derived series. This is the q27/WindowedRollup
    * composition, but driver-ORACLED end to end: the DuckDB side
    * prepends the identical rollup CTE to the SAME probsCte chain
    * a01–a05 are checked against, so the oracle covers the
    * composition, not just the parts. Exactness: the derived value is
    * exact-integer micro-sum / count / 1e6 in the same IEEE order on
    * both engines (bit-equal inputs), after which the a01–a05
    * exactness argument applies verbatim. 100 TB shape: one
    * map-side-combined (series, hour) rollup — output O(series×hours),
    * corpus-independent — then the detector's single series-key
    * shuffle over that small table; detection cost no longer scales
    * with the raw log at all.
    */
  /** a41/a45's shared hourly-rollup detector: (series, hour) mean
    * series (exact micro-sum/count/1e6), scored by the full ensemble.
    * Returns (event_type, hour_id, mean_v, prob_ensemble).
    */
  private def hourlyScored(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val hourly = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("ts"))
      .agg(count(lit(1)).as("cnt"),
        sum(Micro.of("value")).as("s6"))
      .select(col("event_type"), col("ts"),
        col("ts").cast("long").as("event_id"),
        (col("s6").cast("double") / col("cnt") / lit(1e6)).as("value"))
    Detectors.withProbsFused(hourly, col("event_type"), col("ts"),
        Seq(col("event_id")), col("value"), spec)
      .filter(col("rn") >= spec.windowSize)
      .select(col("event_type"), col("event_id").as("hour_id"),
        col("value").as("mean_v"), col("prob_ensemble"))
  }

  /** The DuckDB twin of [[hourlyScored]]'s input CTE, prepended to
    * probsCteFrom("hourly", ...) by the a41/a45 oracles. lazy:
    * referenced while `entries` (declared above) constructs.
    */
  private lazy val hourlyPre: String = s"""hourly AS (
      SELECT event_type,
             CAST(NULL AS BIGINT) AS user_id,
             date_trunc('hour', ts) AS ts,
             CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT)
               AS event_id,
             CAST(sum(${Micro.sql("value")}) AS DOUBLE)
               / count(*) / 1e6 AS value
      FROM events GROUP BY 1, 3, 4),
    """

  private[queries] def rollupDetectEntry: Entry =
    Entry("a41_rollup_detect", (s, dir) => hourlyScored(s, dir),
      Some(s"""${probsCteFrom("hourly", hourlyPre)}
        SELECT event_type, event_id AS hour_id, value AS mean_v,
               prob_ensemble
        FROM scored WHERE rn >= ${spec.windowSize}"""))

  /** a45's alert threshold on the hourly ensemble (round6-hardened on
    * both engines, so the compare cannot flip). Shared with AnomalySpec.
    */
  private[graft] lazy val IncidentThreshold = 0.8

  /** a45: incident correlation — the on-call "is this ONE incident or
    * five" question: for every pair of series, how often do their
    * hourly anomalies (a41's ensemble > threshold) co-occur, beyond
    * what their individual alert rates predict? Per pair over the
    * hours BOTH series have warmed-up scores: flagged-hour counts, the
    * co-occurrence Jaccard |A∩B|/|A∪B|, and the lift
    * P(both)/(P(a)·P(b)) = n_both·n_hours/(n_a·n_b) — both as exact
    * HALF_UP micro-divisions of integer counts, so nothing floating
    * crosses an engine boundary. 100 TB shape: the detector output is
    * O(series×hours) — corpus-independent — and the pair join is
    * hour-keyed over that small flag table; with S series it emits
    * O(S²) pairs per hour, the op's true scale knob (restrict the
    * series universe, not the corpus, when S is large).
    */
  private[queries] def incidentCorrEntry: Entry = {
    def microDiv(num: String, den: String): String =
      s"cast(($num * 1000000L + $den div 2) div $den as bigint)"
    Entry("a45_incident_corr", (s, dir) => {
      val flags = hourlyScored(s, dir)
        .select(col("event_type"), col("hour_id"),
          (col("prob_ensemble") > IncidentThreshold).cast("long")
            .as("flag"))
        // persisted: the pair self-join reads both sides from this
        // frame — uncached, Catalyst re-derives the whole rollup +
        // detector twice
        .persistTracked()
      val x = flags.toDF("type_a", "hour_id", "fa")
      val y = flags.toDF("type_b", "hour_id", "fb")
      x.join(y, Seq("hour_id"))
        .filter(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_hours"),
          sum(col("fa")).as("n_a"), sum(col("fb")).as("n_b"),
          sum(col("fa") * col("fb")).as("n_both"))
        .select(col("type_a"), col("type_b"), col("n_hours"),
          col("n_a"), col("n_b"), col("n_both"),
          when(col("n_a") + col("n_b") - col("n_both") > 0,
            expr(microDiv("n_both", "(n_a + n_b - n_both)")) / lit(1e6))
            .otherwise(lit(0.0)).as("jaccard"),
          when(col("n_a") * col("n_b") > 0,
            expr(microDiv("(n_both * n_hours)", "(n_a * n_b)")) /
              lit(1e6))
            .otherwise(lit(0.0)).as("lift"))
    }, Some {
      def microDivSql(num: String, den: String): String =
        s"CAST(($num * 1000000 + $den // 2) // $den AS BIGINT)"
      s"""${probsCteFrom("hourly", hourlyPre)},
      fl AS (SELECT event_type, event_id AS hour_id,
               CASE WHEN prob_ensemble > $IncidentThreshold
                 THEN 1 ELSE 0 END AS flag
             FROM scored WHERE rn >= ${spec.windowSize}),
      pr AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
               count(*) AS n_hours,
               CAST(sum(x.flag) AS BIGINT) AS n_a,
               CAST(sum(y.flag) AS BIGINT) AS n_b,
               CAST(sum(x.flag * y.flag) AS BIGINT) AS n_both
             FROM fl x JOIN fl y ON x.hour_id = y.hour_id
               AND x.event_type < y.event_type
             GROUP BY 1, 2)
      SELECT type_a, type_b, CAST(n_hours AS BIGINT) AS n_hours,
             n_a, n_b, n_both,
             CASE WHEN (n_a + n_b - n_both) > 0 THEN
               ${microDivSql("n_both", "(n_a + n_b - n_both)")} / 1e6
             ELSE 0.0 END AS jaccard,
             CASE WHEN (n_a * n_b) > 0 THEN
               ${microDivSql("(n_both * n_hours)", "(n_a * n_b)")} / 1e6
             ELSE 0.0 END AS lift
      FROM pr"""
    })
  }

  /** a42's quantile targets (percent). Shared with AnomalySpec so the
    * accuracy pin derives its ranks from the query's own constants.
    */
  private[graft] lazy val SketchQs: Seq[Int] = Seq(50, 90, 99)

  /** a42: mergeable log2-bucket quantile sketch — the DDSketch idea
    * (Masson/Lee/Law, VLDB'19: relative-error log-γ binning with
    * mergeable bucket counts) at γ=2, made exact-integer so both
    * engines bin identically: value → micro int (round(v·1e6)), bucket
    * = bit-length of the micro int (`length(bin(m))` — integer
    * floor(log2)+1 on BOTH engines, no libm), zero/negative → bucket 0.
    * The sketch is the (series, bucket) count table: bounded at ≤64
    * rows per series regardless of corpus size, count-mergeable across
    * partitions / files / days by plain addition — THE 100 TB quantile
    * shape (one map-side-combined shuffle builds it; quantile
    * extraction then runs over sketch rows only, corpus-independent).
    * q-th percentile = first bucket whose cumulative count reaches
    * rank ceil(n·q/100); the answer is bracketed by the bucket edges
    * [2^(b-1), 2^b − 1] micro — a ≤2× relative-error contract pinned
    * in AnomalySpec against the exact order statistic.
    */
  private[queries] def sketchQuantileEntry: Entry = {
    import org.apache.spark.sql.expressions.Window
    Entry("a42_sketch_quantile", (s, dir) => {
      val sketch = Tables.events(s, dir)
        .select(col("event_type"),
          Micro.of("value").as("micro"))
        .withColumn("bkt", when(col("micro") <= 0L, lit(0))
          .otherwise(length(bin(col("micro")))))
        .groupBy(col("event_type"), col("bkt"))
        .agg(count(lit(1)).as("cnt"))
      val wCum = Window.partitionBy("event_type").orderBy("bkt")
      val wAll = Window.partitionBy("event_type")
      sketch
        .withColumn("cum", sum(col("cnt")).over(wCum))
        .withColumn("n", sum(col("cnt")).over(wAll))
        .withColumn("q", explode(array(SketchQs.map(lit(_)): _*)))
        .filter(col("cum") >= expr("(n * q + 99) div 100"))
        .groupBy(col("event_type"), col("q"))
        .agg(min(col("bkt")).as("q_bucket"), max(col("n")).as("n"))
        .select(col("event_type"), col("q").cast("long").as("q"),
          col("n"), col("q_bucket").cast("long").as("q_bucket"),
          when(col("q_bucket") === 0, lit(0L))
            .otherwise(pow(lit(2.0), col("q_bucket") - 1).cast("long"))
            .as("est_micro"),
          when(col("q_bucket") === 0, lit(0L))
            .otherwise(pow(lit(2.0), col("q_bucket")).cast("long") - 1)
            .as("est_hi_micro"))
        .withColumn("est", col("est_micro") / lit(1e6))
    }, Some(s"""
      WITH m AS (SELECT event_type,
                   ${Micro.sql("value")} AS micro
                 FROM events),
      b AS (SELECT event_type,
              CASE WHEN micro <= 0 THEN 0
                   ELSE length(bin(micro)) END AS bkt
            FROM m),
      sk AS (SELECT event_type, bkt, count(*) AS cnt FROM b GROUP BY 1, 2),
      c AS (SELECT event_type, bkt, cnt,
              sum(cnt) OVER (PARTITION BY event_type ORDER BY bkt) AS cum,
              sum(cnt) OVER (PARTITION BY event_type) AS n
            FROM sk),
      qs AS (SELECT unnest([${SketchQs.mkString(", ")}]) AS q),
      hit AS (SELECT c.event_type, qs.q,
                CAST(min(c.bkt) AS BIGINT) AS q_bucket,
                CAST(max(c.n) AS BIGINT) AS n
              FROM c CROSS JOIN qs
              WHERE c.cum >= (c.n * qs.q + 99) // 100
              GROUP BY 1, 2)
      SELECT event_type, CAST(q AS BIGINT) AS q, n, q_bucket,
             CAST(CASE WHEN q_bucket = 0 THEN 0
                  ELSE CAST(pow(2.0, q_bucket - 1) AS BIGINT) END
               AS BIGINT) AS est_micro,
             CAST(CASE WHEN q_bucket = 0 THEN 0
                  ELSE CAST(pow(2.0, q_bucket) AS BIGINT) - 1 END
               AS BIGINT) AS est_hi_micro,
             CAST(CASE WHEN q_bucket = 0 THEN 0
                  ELSE CAST(pow(2.0, q_bucket - 1) AS BIGINT) END
               AS BIGINT) / 1e6 AS est
      FROM hit"""), tier = Tier.Bench())
  }

  /** a43: peaks-over-threshold extreme-tail fit — the EVT operator of
    * the SPOT family (Siffer et al., KDD'17: anomaly thresholds from a
    * generalized-Pareto fit to threshold exceedances) in a one-pass
    * mergeable form: the threshold u is the moment bound mean+std
    * (not an order statistic, so pass 1 is a plain map-side-combined
    * aggregate), and the GPD (ξ, σ) come from the method-of-moments
    * estimator ξ = ½(1 − m²/v), σ = ½m(1 + m²/v) over exceedances
    * y = value − u. Cross-engine exactness: u lives on the micro-int
    * grid (round-to-int of a double both engines build identically),
    * so the exceedance filter is an INTEGER compare that cannot flip
    * on ulps; exceedance moments are exact integer sums (Spark
    * DECIMAL(38) / DuckDB HUGEINT for the squares) cast to double at
    * the very end. 100 TB shape: two corpus scans (threshold, then
    * exceedance moments), both map-side combined; the 5-row threshold
    * dim broadcasts back — no corpus-sized shuffle or join anywhere.
    * The pow-based return-level curve is deliberately NOT in the
    * oracle (data-dependent exponent → libm pow risk); AnomalySpec
    * pins it against a sequential recompute instead.
    */
  private[queries] def evtTailEntry: Entry =
    Entry("a43_evt_tail", (s, dir) => {
      val micro = Tables.events(s, dir)
        .select(col("event_type"),
          Micro.of("value").as("micro"))
      val thr = micro.groupBy("event_type").agg(
          count(lit(1)).as("n"),
          sum(col("micro")).as("s1"),
          sum(col("micro").cast("decimal(19,0)") *
            col("micro").cast("decimal(19,0)")).as("s2"))
        // a tail fit needs >= 2 points: degenerate series emit no row
        // (also keeps the n-1 divisor away from ANSI's x/0 error)
        .filter(col("n") >= 2)
        .select(col("event_type"), col("n"),
          (col("s1").cast("double") / col("n")).as("mean_m"),
          (((col("s2").cast("double") / col("n")) -
            (col("s1").cast("double") / col("n")) *
            (col("s1").cast("double") / col("n"))) * col("n") /
            (col("n") - 1)).as("var_s"))
        .select(col("event_type"), col("n"),
          expr("cast(round(mean_m + sqrt(var_s)) as bigint)")
            .as("u_micro"))
      val exc = micro.join(broadcast(thr), Seq("event_type"))
        .filter(col("micro") > col("u_micro"))
        .withColumn("y", col("micro") - col("u_micro"))
        .groupBy("event_type").agg(
          count(lit(1)).as("k"),
          sum(col("y")).as("e1"),
          sum(col("y").cast("decimal(19,0)") *
            col("y").cast("decimal(19,0)")).as("e2"))
        .select(col("event_type"), col("k"),
          (col("e1").cast("double") / col("k")).as("mean_e"),
          ((col("e2").cast("double") / col("k")) -
            (col("e1").cast("double") / col("k")) *
            (col("e1").cast("double") / col("k"))).as("var_e"))
      thr.join(exc, Seq("event_type"), "left")
        .select(col("event_type"), col("n"),
          round(col("u_micro") / lit(1e6), 6).as("u"),
          coalesce(col("k"), lit(0L)).as("n_exc"),
          round(coalesce(col("k"), lit(0L)).cast("double") / col("n"), 6)
            .as("tail_frac"),
          round(col("mean_e") / lit(1e6), 6).as("mean_exc"),
          when(col("k") >= 2 && col("var_e") > 0,
            round(lit(0.5) * (lit(1.0) -
              col("mean_e") * col("mean_e") / col("var_e")), 6))
            .as("xi"),
          when(col("k") >= 2 && col("var_e") > 0,
            round(lit(0.5) * (col("mean_e") / lit(1e6)) * (lit(1.0) +
              col("mean_e") * col("mean_e") / col("var_e")), 6))
            .as("sigma"))
    }, Some(s"""
      WITH m AS (SELECT event_type,
                   ${Micro.sql("value")} AS micro
                 FROM events),
      t AS (SELECT event_type, count(*) AS n, sum(micro) AS s1,
                   sum(CAST(micro AS HUGEINT) * micro) AS s2
            FROM m GROUP BY 1),
      u AS (SELECT event_type, CAST(n AS BIGINT) AS n,
              CAST(round(CAST(s1 AS DOUBLE) / n +
                sqrt(((CAST(s2 AS DOUBLE) / n -
                  (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
                  * n) / (n - 1))) AS BIGINT) AS u_micro
            FROM t WHERE n >= 2),
      e AS (SELECT m.event_type, count(*) AS k,
                   sum(m.micro - u.u_micro) AS e1,
                   sum(CAST(m.micro - u.u_micro AS HUGEINT) *
                       (m.micro - u.u_micro)) AS e2
            FROM m JOIN u USING (event_type)
            WHERE m.micro > u.u_micro
            GROUP BY 1),
      s AS (SELECT u.event_type, u.n, u.u_micro,
                   CAST(e.k AS BIGINT) AS k,
                   CAST(e.e1 AS DOUBLE) / e.k AS mean_e,
                   CAST(e.e2 AS DOUBLE) / e.k -
                     (CAST(e.e1 AS DOUBLE) / e.k) *
                     (CAST(e.e1 AS DOUBLE) / e.k) AS var_e
            FROM u LEFT JOIN e USING (event_type))
      SELECT event_type, n, round(u_micro / 1e6, 6) AS u,
             coalesce(k, 0) AS n_exc,
             round(CAST(coalesce(k, 0) AS DOUBLE) / n, 6) AS tail_frac,
             round(mean_e / 1e6, 6) AS mean_exc,
             CASE WHEN k >= 2 AND var_e > 0
                  THEN round(0.5 * (1.0 - mean_e * mean_e / var_e), 6)
             END AS xi,
             CASE WHEN k >= 2 AND var_e > 0
                  THEN round(0.5 * (mean_e / 1e6) *
                    (1.0 + mean_e * mean_e / var_e), 6)
             END AS sigma
      FROM s"""))

  /** a44: distribution drift between the first and second half of each
    * series' observation stream, measured on a42's log2 sketch buckets
    * — the population-stability check behind "did this metric's SHAPE
    * change", which mean/variance drift (a14) misses entirely. The
    * drift statistic is total-variation distance ½·Σ|p_b − q_b| kept
    * EXACT-integer until the last step: |p − q| = |cnt1·n2 − cnt2·n1| /
    * (n1·n2), so the summed numerator is an exact BIGINT (≤64 buckets ×
    * n², far under 2^63) and TV is ONE double division — no libm, no
    * rounding, no fold-order sensitivity anywhere. Also emits the
    * argmax drifting bucket (ties → smallest bucket) and its signed
    * second-minus-first numerator. 100 TB shape: the series window
    * (rank split) and the (series, half, bucket) count are the only
    * corpus-sized steps — both one shuffle, the count map-side
    * combined; the TV aggregation runs over sketch rows (≤128/series).
    */
  private[queries] def distDriftEntry: Entry = {
    import org.apache.spark.sql.expressions.Window
    Entry("a44_dist_drift", (s, dir) => {
      val wSer = Window.partitionBy("event_type").orderBy("ts", "event_id")
      val wAll = Window.partitionBy("event_type")
      val halves = Tables.events(s, dir)
        .select(col("event_type"), col("ts"), col("event_id"),
          Micro.of("value").as("micro"))
        .withColumn("rn", row_number().over(wSer))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("half",
          when(col("rn") <= expr("n div 2"), lit(1)).otherwise(lit(2)))
        .withColumn("bkt", when(col("micro") <= 0L, lit(0))
          .otherwise(length(bin(col("micro")))))
        .groupBy(col("event_type"), col("bkt"))
        .agg(sum(when(col("half") === 1, 1L).otherwise(0L)).as("c1"),
          sum(when(col("half") === 2, 1L).otherwise(0L)).as("c2"))
      val wTot = Window.partitionBy("event_type")
      val scored = halves
        .withColumn("n1", sum(col("c1")).over(wTot))
        .withColumn("n2", sum(col("c2")).over(wTot))
        .withColumn("num", col("c1") * col("n2") - col("c2") * col("n1"))
        .withColumn("rk", row_number().over(Window
          .partitionBy("event_type")
          .orderBy(abs(col("num")).desc, col("bkt").asc)))
      scored.groupBy(col("event_type"))
        .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
          sum(abs(col("num"))).as("tv_num"),
          max(when(col("rk") === 1, col("bkt"))).cast("long")
            .as("drift_bucket"),
          max(when(col("rk") === 1, -col("num"))).as("drift_num"))
        .select(col("event_type"), col("n1"), col("n2"), col("tv_num"),
          // one-row series (n1 = 0) have no drift question to answer:
          // NULL tv, and the guard keeps ANSI's x/0 error out
          when(col("n1") > 0 && col("n2") > 0,
            col("tv_num") / (lit(2.0) * col("n1") * col("n2"))).as("tv"),
          col("drift_bucket"), col("drift_num"))
    }, Some(s"""
      WITH m AS (SELECT event_type, ts, event_id,
                   ${Micro.sql("value")} AS micro
                 FROM events),
      r AS (SELECT event_type, micro,
              row_number() OVER (PARTITION BY event_type
                ORDER BY ts, event_id) AS rn,
              count(*) OVER (PARTITION BY event_type) AS n
            FROM m),
      h AS (SELECT event_type,
              CASE WHEN rn <= n // 2 THEN 1 ELSE 2 END AS half,
              CASE WHEN micro <= 0 THEN 0
                   ELSE length(bin(micro)) END AS bkt
            FROM r),
      sk AS (SELECT event_type, bkt,
               CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS c1,
               CAST(sum(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS c2
             FROM h GROUP BY 1, 2),
      t AS (SELECT event_type, bkt, c1, c2,
              sum(c1) OVER (PARTITION BY event_type) AS n1,
              sum(c2) OVER (PARTITION BY event_type) AS n2
            FROM sk),
      d AS (SELECT event_type, bkt, n1, n2,
              c1 * n2 - c2 * n1 AS num,
              row_number() OVER (PARTITION BY event_type
                ORDER BY abs(c1 * n2 - c2 * n1) DESC, bkt ASC) AS rk
            FROM t)
      SELECT event_type,
             CAST(max(n1) AS BIGINT) AS n1,
             CAST(max(n2) AS BIGINT) AS n2,
             CAST(sum(abs(num)) AS BIGINT) AS tv_num,
             CASE WHEN max(n1) > 0 AND max(n2) > 0 THEN
               CAST(sum(abs(num)) AS BIGINT) /
                 (2.0 * CAST(max(n1) AS BIGINT) * CAST(max(n2) AS BIGINT))
             END AS tv,
             CAST(max(CASE WHEN rk = 1 THEN bkt END) AS BIGINT)
               AS drift_bucket,
             CAST(max(CASE WHEN rk = 1 THEN -num END) AS BIGINT)
               AS drift_num
      FROM d GROUP BY 1"""))
  }

  /** a46: alert-episode statistics — the alert-fatigue view of a41's
    * hourly ensemble: maximal runs of CONSECUTIVE flagged hours are one
    * "episode" (the unit on-call actually experiences; a45 asks who
    * alerts together, a46 asks how long and how often each series
    * alerts). Classic gaps-and-islands: island key = hour_id − 3600·rn
    * over flagged hours — constant exactly within a consecutive run —
    * then per-series episode count, HALF_UP micro mean length, max
    * length, and the longest episode's start hour (earliest-start
    * ties). All integer arithmetic. 100 TB shape: the detector output
    * is O(series×hours); both windows and both aggregates ride the
    * series partitioning — corpus-independent beyond a41's rollup.
    */
  private[queries] def alertEpisodesEntry: Entry = {
    import org.apache.spark.sql.expressions.Window
    Entry("a46_alert_episodes", (s, dir) => {
      val wSer = Window.partitionBy("event_type").orderBy("hour_id")
      val flagged = hourlyScored(s, dir)
        .filter(col("prob_ensemble") > IncidentThreshold)
        .withColumn("rn", row_number().over(wSer))
        .withColumn("isl", col("hour_id") - lit(3600L) * col("rn"))
      val episodes = flagged.groupBy(col("event_type"), col("isl"))
        .agg(count(lit(1)).as("len"), min(col("hour_id")).as("start"))
      val wPick = Window.partitionBy("event_type")
        .orderBy(col("len").desc, col("start").asc)
      episodes
        .withColumn("rk", row_number().over(wPick))
        .groupBy(col("event_type"))
        .agg(sum(col("len")).as("n_flagged"),
          count(lit(1)).as("n_episodes"),
          max(col("len")).as("max_len"),
          max(when(col("rk") === 1, col("start"))).as("longest_start"))
        .select(col("event_type"), col("n_flagged"), col("n_episodes"),
          (expr("cast((n_flagged * 1000000L + n_episodes div 2) div " +
            "n_episodes as bigint)") / lit(1e6)).as("mean_len"),
          col("max_len"), col("longest_start"))
    }, Some(s"""${probsCteFrom("hourly", hourlyPre)},
      fl AS (SELECT event_type, event_id AS hour_id,
               row_number() OVER (PARTITION BY event_type
                 ORDER BY event_id) AS rw
             FROM scored
             WHERE rn >= ${spec.windowSize}
               AND prob_ensemble > $IncidentThreshold),
      ep AS (SELECT event_type, hour_id - 3600 * rw AS isl,
               count(*) AS len, min(hour_id) AS start
             FROM fl GROUP BY 1, 2),
      rk AS (SELECT event_type, len, start,
               row_number() OVER (PARTITION BY event_type
                 ORDER BY len DESC, start ASC) AS r
             FROM ep)
      SELECT event_type,
             CAST(sum(len) AS BIGINT) AS n_flagged,
             count(*) AS n_episodes,
             CAST((CAST(sum(len) AS BIGINT) * 1000000 + count(*) // 2)
               // count(*) AS BIGINT) / 1e6 AS mean_len,
             CAST(max(len) AS BIGINT) AS max_len,
             CAST(max(CASE WHEN r = 1 THEN start END) AS BIGINT)
               AS longest_start
      FROM rk GROUP BY 1"""))
  }

  /** a47: quantile trend from merged sketches — the "daily p95 plus
    * trailing-7-day p95" ops panel, computed the way a 100 TB system
    * MUST compute it: the corpus is scanned ONCE into per-(series, day)
    * log2-bucket sketches (a42's binning), the daily p95 reads its
    * day's sketch, and the trailing-7-day p95 comes from MERGING the
    * seven daily sketches by bucket-count addition — never re-reading
    * raw data. The merge join runs over sketch rows (O(series × days ×
    * 64)), so a month of trailing windows costs the same as one. The
    * absent-bucket subtlety is handled by joining the day spine to the
    * sketch (a bucket missing on day d but present on d−3 still counts
    * in d's merged sketch — a rangeBetween window over existing rows
    * would silently drop it). All integer arithmetic; estimates are
    * bucket lower edges, same contract as a42.
    */
  private[queries] def quantileTrendEntry: Entry = {
    import org.apache.spark.sql.expressions.Window
    Entry("a47_quantile_trend", (s, dir) => {
      val daily = Tables.events(s, dir)
        .select(col("event_type"),
          date_trunc("DAY", col("ts")).cast("long").as("day_id"),
          Micro.of("value").as("micro"))
        .withColumn("bkt", when(col("micro") <= 0L, lit(0))
          .otherwise(length(bin(col("micro")))))
        .groupBy(col("event_type"), col("day_id"), col("bkt"))
        .agg(count(lit(1)).as("cnt"))
        // r15 opt (VERDICT r14 #8, guide §2.4): re-key the cached
        // sketch by SERIES once — every downstream stage (both pick()
        // window pairs, their groupBys, the spine distinct, the
        // day-spine merge join and its re-aggregate) clusters on an
        // event_type-prefixed key, so one sketch-sized exchange
        // satisfies them all and SIX post-sketch exchanges collapse
        // away. This was the worst inverse-scaler in the r14 bench
        // (8-core 3x faster than 32-core): each removed exchange was a
        // 32-tiny-task barrier over O(series x days x 64) sketch rows.
        // Scale-safe: partitioning by series is the natural
        // sketch-merge layout (per-series windows), and the frame
        // being repartitioned is the post-aggregation SKETCH, never
        // corpus rows.
        .repartition(col("event_type"))
        .persistTracked() // read twice: the daily path and the merge join
      def pick(sketch: org.apache.spark.sql.DataFrame, dayCol: String)
          : org.apache.spark.sql.DataFrame = {
        val wCum = Window.partitionBy("event_type", dayCol).orderBy("bkt")
        val wAll = Window.partitionBy("event_type", dayCol)
        sketch
          .withColumn("cum", sum(col("cnt")).over(wCum))
          .withColumn("n", sum(col("cnt")).over(wAll))
          .filter(col("cum") >= expr("(n * 95L + 99L) div 100L"))
          .groupBy(col("event_type"), col(dayCol))
          .agg(min(col("bkt")).as("qb"), max(col("n")).as("n"))
          .select(col("event_type"), col(dayCol), col("n"),
            when(col("qb") === 0, lit(0L))
              .otherwise(pow(lit(2.0), col("qb") - 1).cast("long"))
              .as("p95_micro"))
      }
      val dayQ = pick(daily, "day_id")
        .toDF("event_type", "day_id", "n_day", "p95_day_micro")
      val spine = daily.select(col("event_type"), col("day_id")).distinct()
      val merged = spine.toDF("event_type", "d")
        .join(daily, Seq("event_type"))
        .filter(col("day_id") <= col("d") &&
          col("day_id") >= col("d") - lit(6L * 86400L))
        .groupBy(col("event_type"), col("d"), col("bkt"))
        .agg(sum(col("cnt")).as("cnt"))
      val weekQ = pick(merged, "d")
        .toDF("event_type", "day_id", "n_7d", "p95_7d_micro")
      dayQ.join(weekQ, Seq("event_type", "day_id"))
        .select(col("event_type"), col("day_id"), col("n_day"),
          (col("p95_day_micro") / lit(1e6)).as("p95_day"),
          col("n_7d"), (col("p95_7d_micro") / lit(1e6)).as("p95_7d"))
    }, Some(s"""
      WITH m AS (SELECT event_type,
                   CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT)
                     AS day_id,
                   ${Micro.sql("value")} AS micro
                 FROM events),
      daily AS (SELECT event_type, day_id,
                  CASE WHEN micro <= 0 THEN 0
                       ELSE length(bin(micro)) END AS bkt,
                  count(*) AS cnt
                FROM m GROUP BY 1, 2, 3),
      dq AS (SELECT event_type, day_id,
               CAST(max(n) AS BIGINT) AS n_day,
               CAST(min(bkt) AS BIGINT) AS qb
             FROM (SELECT event_type, day_id, bkt, cnt,
                     sum(cnt) OVER (PARTITION BY event_type, day_id
                       ORDER BY bkt) AS cum,
                     sum(cnt) OVER (PARTITION BY event_type, day_id)
                       AS n
                   FROM daily)
             WHERE cum >= (n * 95 + 99) // 100
             GROUP BY 1, 2),
      spine AS (SELECT DISTINCT event_type, day_id AS d FROM daily),
      merged AS (SELECT s.event_type, s.d, x.bkt,
                   CAST(sum(x.cnt) AS BIGINT) AS cnt
                 FROM spine s JOIN daily x ON s.event_type = x.event_type
                   AND x.day_id <= s.d AND x.day_id >= s.d - 6 * 86400
                 GROUP BY 1, 2, 3),
      wq AS (SELECT event_type, d AS day_id,
               CAST(max(n) AS BIGINT) AS n_7d,
               CAST(min(bkt) AS BIGINT) AS qb
             FROM (SELECT event_type, d, bkt, cnt,
                     sum(cnt) OVER (PARTITION BY event_type, d
                       ORDER BY bkt) AS cum,
                     sum(cnt) OVER (PARTITION BY event_type, d) AS n
                   FROM merged)
             WHERE cum >= (n * 95 + 99) // 100
             GROUP BY 1, 2)
      SELECT dq.event_type, dq.day_id, dq.n_day,
             CASE WHEN dq.qb = 0 THEN 0
                  ELSE CAST(pow(2.0, dq.qb - 1) AS BIGINT) END / 1e6
               AS p95_day,
             wq.n_7d,
             CASE WHEN wq.qb = 0 THEN 0
                  ELSE CAST(pow(2.0, wq.qb - 1) AS BIGINT) END / 1e6
               AS p95_7d
      FROM dq JOIN wq USING (event_type, day_id)"""),
      tier = Tier.Bench(heavy = true))
  }

  /** a48's error budget: at most 5% of scored hours may alert. The 5%
    * makes the burn rate an exact integer — burn = frac/0.05 =
    * frac·20 in micro units, no FP division anywhere.
    */
  private[graft] lazy val SloBudgetPct = 5L

  /** a48: SLO error-budget burn rate — the SRE multiwindow pager
    * (Google SRE workbook's multiwindow-multirate policy, public) over
    * a41's hourly alerts: per (series, day), the flagged-hour fraction
    * of the trailing 1-day and 7-day windows, each expressed as a burn
    * MULTIPLE of the 5% budget, and page = both multiples > 2 (the
    * short window confirms the long one — a stale incident can't page
    * forever, a blip can't page at all). Counts are integers, fractions
    * HALF_UP micro-divisions, and the budget division is exact (×20):
    * nothing floating crosses an engine boundary. 100 TB shape: the
    * per-(series, day) flag totals are O(series×days); the trailing
    * sums ride the a47 day-spine join over that dim — corpus-
    * independent beyond the rollup scan.
    */
  private[queries] def sloBurnEntry: Entry = {
    def burn(frac: String) = s"($frac * ${100L / SloBudgetPct})"
    Entry("a48_slo_burn", (s, dir) => {
      val daily = hourlyScored(s, dir)
        .groupBy(col("event_type"),
          expr("cast(hour_id - (hour_id % 86400) as bigint)").as("day_id"))
        .agg(count(lit(1)).as("h"),
          sum((col("prob_ensemble") > IncidentThreshold).cast("long"))
            .as("f"))
        .persistTracked() // spine + two trailing joins read it
      val spine = daily.select(col("event_type"), col("day_id")).distinct()
      def trailing(days: Long, fc: String, hc: String) = spine
        .toDF("event_type", "d")
        .join(daily, Seq("event_type"))
        .filter(col("day_id") <= col("d") &&
          col("day_id") >= col("d") - lit((days - 1) * 86400L))
        .groupBy(col("event_type"), col("d"))
        .agg(sum(col("f")).as(fc), sum(col("h")).as(hc))
      val t1 = trailing(1L, "f1", "h1")
      val t7 = trailing(7L, "f7", "h7")
      t1.join(t7, Seq("event_type", "d"))
        .select(col("event_type"), col("d").as("day_id"),
          col("f1"), col("h1"), col("f7"), col("h7"),
          expr("cast((f1 * 1000000L + h1 div 2) div h1 as bigint)")
            .as("frac1_micro"),
          expr("cast((f7 * 1000000L + h7 div 2) div h7 as bigint)")
            .as("frac7_micro"))
        .select(col("event_type"), col("day_id"), col("f1"), col("h1"),
          col("f7"), col("h7"),
          (expr(burn("frac1_micro")) / lit(1e6)).as("burn_1d"),
          (expr(burn("frac7_micro")) / lit(1e6)).as("burn_7d"),
          (expr(burn("frac1_micro")) > 2000000L &&
            expr(burn("frac7_micro")) > 2000000L).as("page"))
    }, Some(s"""${probsCteFrom("hourly", hourlyPre)},
      fl AS (SELECT event_type,
               event_id - (event_id % 86400) AS day_id,
               count(*) AS h,
               CAST(sum(CASE WHEN prob_ensemble > $IncidentThreshold
                 THEN 1 ELSE 0 END) AS BIGINT) AS f
             FROM scored WHERE rn >= ${spec.windowSize}
             GROUP BY 1, 2),
      spine AS (SELECT DISTINCT event_type, day_id AS d FROM fl),
      t1 AS (SELECT s.event_type, s.d,
               CAST(sum(x.f) AS BIGINT) AS f1,
               CAST(sum(x.h) AS BIGINT) AS h1
             FROM spine s JOIN fl x ON s.event_type = x.event_type
               AND x.day_id = s.d
             GROUP BY 1, 2),
      t7 AS (SELECT s.event_type, s.d,
               CAST(sum(x.f) AS BIGINT) AS f7,
               CAST(sum(x.h) AS BIGINT) AS h7
             FROM spine s JOIN fl x ON s.event_type = x.event_type
               AND x.day_id <= s.d AND x.day_id >= s.d - 6 * 86400
             GROUP BY 1, 2),
      j AS (SELECT t1.event_type, t1.d AS day_id, f1, h1, f7, h7,
              CAST((f1 * 1000000 + h1 // 2) // h1 AS BIGINT)
                AS frac1_micro,
              CAST((f7 * 1000000 + h7 // 2) // h7 AS BIGINT)
                AS frac7_micro
            FROM t1 JOIN t7 ON t1.event_type = t7.event_type
              AND t1.d = t7.d)
      SELECT event_type, day_id, f1, h1, f7, h7,
             ${burn("frac1_micro")} / 1e6 AS burn_1d,
             ${burn("frac7_micro")} / 1e6 AS burn_7d,
             ${burn("frac1_micro")} > 2000000
               AND ${burn("frac7_micro")} > 2000000 AS page
      FROM j"""))
  }

  /** a49: two-sample Kolmogorov–Smirnov distance between every pair of
    * series — "do click and view draw their values from the same
    * distribution?", the cross-SERIES complement of a08/a10's within-
    * series KS (reference algorithms.go ksCore compares active vs
    * reference windows; a49 compares whole series pairwise). EXACT
    * integers throughout: group both series' micro values by value v,
    * cumulative counts per side over v, and D's numerator is
    * max |cum_a·n_b − cum_b·n_a| — a BIGINT; D itself is one double
    * division at the end. Also emits the value where the max gap is
    * attained (smallest-v ties) — where the two distributions actually
    * diverge. 100 TB shape: one series shuffle builds per-(pair, v)
    * counts after a broadcast pair-dim replication (S² blowup is the
    * op's declared scale knob, like a45); the cum windows ride the
    * (pair) partitioning over distinct values, not raw rows.
    */
  private[queries] def ksTwoSeriesEntry: Entry = {
    import org.apache.spark.sql.expressions.Window
    Entry("a49_ks_two_series", (s, dir) => {
      val m = Tables.events(s, dir).select(col("event_type"),
        Micro.of("value").as("v"))
      val tys = m.select(col("event_type")).distinct()
      val prs = tys.toDF("ta")
        .crossJoin(tys.toDF("tb")).filter(col("ta") < col("tb"))
      // two broadcast EQUI-joins instead of one OR-condition nested
      // loop: the OR form evaluates every (event, pair) combination —
      // O(T²) per event as the type count grows — where the equi form
      // is a hash probe per side with identical output rows
      val tagged = m.join(broadcast(prs), col("event_type") === col("ta"))
        .select(col("ta"), col("tb"), col("v"),
          lit(1L).as("isa"), lit(0L).as("isb"))
        .unionAll(
          m.join(broadcast(prs), col("event_type") === col("tb"))
            .select(col("ta"), col("tb"), col("v"),
              lit(0L).as("isa"), lit(1L).as("isb")))
        .groupBy(col("ta"), col("tb"), col("v"))
        .agg(sum(col("isa")).as("ca"), sum(col("isb")).as("cb"))
      val wCum = Window.partitionBy("ta", "tb").orderBy("v")
      val wAll = Window.partitionBy("ta", "tb")
      val gaps = tagged
        .withColumn("cuma", sum(col("ca")).over(wCum))
        .withColumn("cumb", sum(col("cb")).over(wCum))
        .withColumn("na", sum(col("ca")).over(wAll))
        .withColumn("nb", sum(col("cb")).over(wAll))
        .withColumn("gap",
          abs(col("cuma") * col("nb") - col("cumb") * col("na")))
        .withColumn("rk", row_number().over(Window
          .partitionBy("ta", "tb").orderBy(col("gap").desc, col("v").asc)))
      gaps.groupBy(col("ta").as("type_a"), col("tb").as("type_b"))
        .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
          max(col("gap")).as("d_num"),
          max(when(col("rk") === 1, col("v"))).as("ks_at_micro"))
        .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
          col("d_num"),
          (col("d_num") / (lit(1.0) * col("n_a") * col("n_b"))).as("d"),
          col("ks_at_micro"),
          (col("ks_at_micro") / lit(1e6)).as("ks_at"))
    }, Some(s"""
      WITH m AS (SELECT event_type,
                   ${Micro.sql("value")} AS v
                 FROM events),
      tys AS (SELECT DISTINCT event_type FROM m),
      prs AS (SELECT x.event_type AS ta, y.event_type AS tb
              FROM tys x, tys y WHERE x.event_type < y.event_type),
      tagged AS (SELECT p.ta, p.tb, m.v,
                   CAST(sum(CASE WHEN m.event_type = p.ta
                     THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                   CAST(sum(CASE WHEN m.event_type = p.tb
                     THEN 1 ELSE 0 END) AS BIGINT) AS cb
                 FROM m JOIN prs p
                   ON m.event_type = p.ta OR m.event_type = p.tb
                 GROUP BY 1, 2, 3),
      cums AS (SELECT ta, tb, v,
                 sum(ca) OVER (PARTITION BY ta, tb ORDER BY v) AS cuma,
                 sum(cb) OVER (PARTITION BY ta, tb ORDER BY v) AS cumb,
                 sum(ca) OVER (PARTITION BY ta, tb) AS na,
                 sum(cb) OVER (PARTITION BY ta, tb) AS nb
               FROM tagged),
      gaps AS (SELECT ta, tb, v, na, nb,
                 abs(cuma * nb - cumb * na) AS gap,
                 row_number() OVER (PARTITION BY ta, tb
                   ORDER BY abs(cuma * nb - cumb * na) DESC, v ASC)
                   AS rk
               FROM cums)
      SELECT ta AS type_a, tb AS type_b,
             CAST(max(na) AS BIGINT) AS n_a,
             CAST(max(nb) AS BIGINT) AS n_b,
             CAST(max(gap) AS BIGINT) AS d_num,
             CAST(max(gap) AS BIGINT) /
               (1.0 * CAST(max(na) AS BIGINT) * CAST(max(nb) AS BIGINT))
               AS d,
             CAST(max(CASE WHEN rk = 1 THEN v END) AS BIGINT)
               AS ks_at_micro,
             CAST(max(CASE WHEN rk = 1 THEN v END) AS BIGINT) / 1e6
               AS ks_at
      FROM gaps GROUP BY 1, 2"""))
  }

  /** a50: robust trend/seasonal/residual decomposition — STL's shape
    * (Cleveland et al., public) with MEDIANS so spikes cannot drag the
    * components (the same robustness argument as a39): on the hourly
    * mean series, trend = centered 25-hour rolling median (odd window
    * → an exact element pick, no interpolation), seasonal = per
    * hour-of-day median of the detrended values DOUBLED (even groups
    * interpolate to half-integers; 2× keeps every value an exact
    * integer — a39's res2 trick), residual = what's left. The hourly
    * value itself is the HALF_UP micro mean, so every component is an
    * exact dyadic rational emitted by the same division on both
    * engines. 100 TB shape: one map-side-combined rollup, one series
    * window for the trend, and a 24-row-per-series seasonal dim joined
    * back broadcast-style — detection-grade decomposition at
    * O(series×hours), corpus-independent.
    */
  private[queries] def stlDecomposeEntry: Entry = {
    import org.apache.spark.sql.expressions.Window
    val half = 12 // trend window = 2*half+1 = 25 hours, odd
    Entry("a50_stl_decompose", (s, dir) => {
      val wSer = Window.partitionBy("event_type").orderBy("hour_id")
      val hourly = hourlyMicro(s, dir)
      val trended = hourly
        .withColumn("rn", row_number().over(wSer))
        .withColumn("n", count(lit(1)).over(
          Window.partitionBy("event_type")))
        .withColumn("arr", collect_list(col("w")).over(
          wSer.rowsBetween(-half, half)))
        .filter(col("rn") > half && col("rn") <= col("n") - half)
        .withColumn("trend_micro",
          expr(s"element_at(array_sort(arr), ${half + 1})"))
        .withColumn("d", col("w") - col("trend_micro"))
        .select(col("event_type"), col("hour_id"), col("w"), col("d"),
          col("trend_micro"))
        .persistTracked() // seasonal dim + final join both read it
      val seasonal = trended
        .withColumn("hod", expr("(hour_id div 3600) % 24"))
        .groupBy(col("event_type"), col("hod"))
        .agg(expr("array_sort(collect_list(d))").as("ds"))
        .select(col("event_type"), col("hod"),
          expr("case when size(ds) % 2 = 1 " +
            "then 2L * element_at(ds, cast((size(ds) + 1) div 2 as int)) " +
            "else element_at(ds, cast(size(ds) div 2 as int)) + " +
            "element_at(ds, cast(size(ds) div 2 + 1 as int)) end")
            .as("s2"))
      trended
        .withColumn("hod", expr("(hour_id div 3600) % 24"))
        .join(broadcast(seasonal), Seq("event_type", "hod"))
        .select(col("event_type"), col("hour_id"),
          (col("w") / lit(1e6)).as("v"),
          (col("trend_micro") / lit(1e6)).as("trend"),
          (col("s2") / lit(2e6)).as("seasonal"),
          ((lit(2L) * col("d") - col("s2")) / lit(2e6)).as("residual"))
    }, Some(s"""
      WITH $hourlyMicroSql,
      tr AS (SELECT event_type, hour_id, w,
               row_number() OVER win AS rn,
               count(*) OVER (PARTITION BY event_type) AS n,
               list_sort(array_agg(w) OVER (win ROWS BETWEEN $half
                 PRECEDING AND $half FOLLOWING)) AS arr
             FROM hourly
             WINDOW win AS (PARTITION BY event_type ORDER BY hour_id)),
      inner_rows AS (SELECT event_type, hour_id, w,
               arr[${half + 1}] AS trend_micro,
               w - arr[${half + 1}] AS d,
               (hour_id // 3600) % 24 AS hod
             FROM tr WHERE rn > $half AND rn <= n - $half),
      seas AS (SELECT event_type, hod,
                 CASE WHEN len(ds) % 2 = 1
                   THEN 2 * ds[(len(ds) + 1) // 2]
                   ELSE ds[len(ds) // 2] + ds[len(ds) // 2 + 1] END AS s2
               FROM (SELECT event_type, hod,
                       list_sort(array_agg(d)) AS ds
                     FROM inner_rows GROUP BY 1, 2))
      SELECT i.event_type, i.hour_id,
             i.w / 1e6 AS v,
             i.trend_micro / 1e6 AS trend,
             s.s2 / 2e6 AS seasonal,
             (2 * i.d - s.s2) / 2e6 AS residual
      FROM inner_rows i JOIN seas s
        ON i.event_type = s.event_type AND i.hod = s.hod"""))
  }

  /** a51: seasonal-naive forecast with an empirical prediction band —
    * the "is this hour's value surprising GIVEN yesterday" check a38
    * motivates (its MASE proves the x_{t−24h} forecast is the one to
    * beat here): forecast = the value 24 hours ago, band = forecast +
    * [q05, q95] of the series' own historical seasonal residuals
    * r_t = w_t − w_{t−24h}, flag = outside the band. Quantiles are
    * TYPE-1 (exact element pick at rank ceil(q·n/100) on sorted
    * integer residuals — no interpolation, no FP), so the band edges
    * are exact micro integers and the flag is an integer compare on
    * both engines. 100 TB shape: one series-window pass builds the
    * residuals, the per-series [q05, q95] dim (2 ints/series) joins
    * back broadcast-style — O(series×hours), corpus-independent
    * beyond the rollup. (The band uses the full-series residual
    * distribution — a backtest view; an online variant would restrict
    * to residuals before t.)
    */
  private[queries] def forecastBandEntry: Entry = {
    import org.apache.spark.sql.expressions.Window
    Entry("a51_forecast_band", (s, dir) => {
      val wSer = Window.partitionBy("event_type").orderBy("hour_id")
      val hourly = hourlyMicro(s, dir)
      val resid = hourly
        .withColumn("fc", lag(col("w"), 24).over(wSer))
        .filter(col("fc").isNotNull)
        .withColumn("r", col("w") - col("fc"))
        .persistTracked() // band dim + final scoring both read it
      val band = resid.groupBy(col("event_type"))
        .agg(expr("array_sort(collect_list(r))").as("rs"),
          count(lit(1)).as("n"))
        .select(col("event_type"),
          expr("element_at(rs, cast((n * 5 + 99) div 100 as int))")
            .as("q05"),
          expr("element_at(rs, cast((n * 95 + 99) div 100 as int))")
            .as("q95"))
      resid.join(broadcast(band), Seq("event_type"))
        .select(col("event_type"), col("hour_id"),
          (col("w") / lit(1e6)).as("v"),
          (col("fc") / lit(1e6)).as("forecast"),
          ((col("fc") + col("q05")) / lit(1e6)).as("lo"),
          ((col("fc") + col("q95")) / lit(1e6)).as("hi"),
          (col("w") < col("fc") + col("q05") ||
            col("w") > col("fc") + col("q95")).as("flag_out"))
    }, Some(s"""
      WITH $hourlyMicroSql,
      resid AS (SELECT event_type, hour_id, w,
                  lag(w, 24) OVER (PARTITION BY event_type
                    ORDER BY hour_id) AS fc
                FROM hourly),
      r2 AS (SELECT event_type, hour_id, w, fc, w - fc AS r
             FROM resid WHERE fc IS NOT NULL),
      band AS (SELECT event_type,
                 rs[CAST((n * 5 + 99) // 100 AS INT)] AS q05,
                 rs[CAST((n * 95 + 99) // 100 AS INT)] AS q95
               FROM (SELECT event_type,
                       list_sort(array_agg(r)) AS rs,
                       count(*) AS n
                     FROM r2 GROUP BY 1))
      SELECT r2.event_type, r2.hour_id,
             r2.w / 1e6 AS v,
             r2.fc / 1e6 AS forecast,
             (r2.fc + b.q05) / 1e6 AS lo,
             (r2.fc + b.q95) / 1e6 AS hi,
             r2.w < r2.fc + b.q05 OR r2.w > r2.fc + b.q95 AS flag_out
      FROM r2 JOIN band b ON r2.event_type = b.event_type"""))
  }

  /** a34's variance-time block sizes. lazy: referenced while `entries`
    * (declared above) constructs.
    */
  private[queries] lazy val VtScales: Seq[Long] = Seq(4L, 16L, 64L)

  /** Integer-micro-fixed cos/sin tables for a31's diurnal DFT —
    * round(1e6·cos(2πp/24)), p = 0..23, computed once at build time and
    * embedded as the SAME literals in both engines (no cross-engine
    * trig). lazy: referenced while `entries` (declared above)
    * constructs.
    */
  private[queries] lazy val Cos6: Seq[Long] =
    Seq.tabulate(24)(p => math.round(1e6 * math.cos(2 * math.Pi * p / 24)))
  private[queries] lazy val Sin6: Seq[Long] =
    Seq.tabulate(24)(p => math.round(1e6 * math.sin(2 * math.Pi * p / 24)))

  /** a29's Mann–Kendall window length; shared with AnomalySpec.
    * lazy: referenced while `entries` (declared above) constructs.
    */
  private[graft] lazy val MkWindow = 20

  /** Benford first-digit expectations log10(1 + 1/d), d = 1..9 —
    * computed once and embedded as identical shortest-repr literals in
    * both engines' a27 expressions.
    */
  // lazy: referenced while `entries` (declared above) constructs
  private[queries] lazy val BenfordP: Array[Double] =
    Array.tabulate(9)(i => math.log10(1.0 + 1.0 / (i + 1)))

  /** lcm helper for the KS grid scale factor. */
  private[queries] object KsGrid {
    @scala.annotation.tailrec
    def gcd(x: Int, y: Int): Int = if (y == 0) x else gcd(y, x % y)
    def lcm(x: Int, y: Int): Int = x / gcd(x, y) * y
  }

  // ---- a52/a53: bounded-horizon matrix profile (discords + motifs).
  // Subsequence length, window stride, and the neighbor horizon (in
  // row positions) of the profile. |Δpos| ≤ MpHorizon keeps the pair
  // volume LINEAR in series length — windows × ≤2·(horizon/stride)
  // neighbors — instead of the full profile's quadratic blowup; the
  // trivial-match exclusion |Δpos| ≥ MpW is the standard one.
  private[graft] lazy val MpW = 16
  private[graft] lazy val MpStride = 8
  private[graft] lazy val MpHorizon = 512

  /** Stride-sampled subsequence windows of the event series: one row
    * per (series, start position ≡ 0 mod [[MpStride]]) holding the
    * [[MpW]] micro-fixed values and their sum — the shared base of the
    * a52/a53 profile. One ordered window pass per series, no explode.
    */
  private def mpWindows(s: SparkSession, dir: String): DataFrame = {
    val frame = trailingFrame(MpW)
    Tables.events(s, dir)
      .select(col("event_type"), col("ts"), col("event_id"),
        Micro.of("value").as("v6"))
      .transform(withTrailing(_, "v6", MpW))
      .withColumn("sa", sum(col("v6")).over(frame))
      .filter(col("rn") >= MpW &&
        ((col("rn") - MpW) % MpStride) === 0)
      .select(col("event_type"),
        (col("rn") - MpW).cast("long").as("pos"), col("arr"), col("sa"))
  }

  /** Directed window pairs within the horizon, with the exact integer
    * profile distance. Distance = Σ_i |w·(a_i − b_i) − (Sa − Sb)| —
    * the w-scaled MEAN-CENTERED Manhattan distance: multiplying the
    * centered values (x − mean) by w clears the /w of the mean, so
    * every term is int64-exact on both engines (|w·Δx − ΔS| ≤ 2·w·1e15
    * < 2^63/w under the events domain contract; an L2 profile would
    * square micro values past int64 and force DECIMAL into the hot
    * lambda). Centering makes the profile level-invariant — a
    * subsequence is a discord for its SHAPE, not its offset (level
    * shifts are a17 CUSUM's job).
    *
    * The horizon predicate is a BANDED equi-join (q28's range-join
    * shape): left windows explode to bands {b−1, b, b+1} of width
    * [[MpHorizon]], right windows sit at their own band, the range
    * check is a residual filter. Since band width = horizon, a
    * qualifying pair meets in EXACTLY one band row — no dedup — and
    * the shuffle key (series, band) restores series × length/horizon
    * parallelism where a plain per-series join would cap at the series
    * count.
    */
  private def mpPairs(s: SparkSession, dir: String): DataFrame = {
    val win = mpWindows(s, dir)
    val lhs = win.withColumn("band", explode(array(
      (-1 to 1).map(d => expr(s"pos div $MpHorizon") + d): _*)))
    val rhs = win.select(col("event_type"),
      expr(s"pos div $MpHorizon").as("band"), col("pos").as("npos"),
      col("arr").as("narr"), col("sa").as("nsa"))
    lhs.join(rhs, Seq("event_type", "band"))
      .filter(abs(col("npos") - col("pos"))
        .between(MpW.toLong, MpHorizon.toLong))
      .select(col("event_type"), col("pos"), col("npos"),
        // native kernel — the zip_with/aggregate lambda form evaluates
        // interpreted per pair element; this is the pair-join hot path
        graft.functions.SeriesKernelFunctions.scaled_l1_dist(
          col("arr"), col("narr"), col("sa") - col("nsa"), MpW).as("d1"))
  }

  /** Shared DuckDB CTE chain: windows + in-horizon directed pairs with
    * the same exact integer distance (native BIGINT lambda — no
    * HUGEINT in the hot path). The oracle states the range join
    * directly; banding is the engine's scale concern, not the
    * semantics'.
    */
  private lazy val mpPairsCte: String = s"""
      WITH base AS (
        SELECT event_type,
               row_number() OVER win AS rn,
               array_agg(${Micro.sql("value")}) OVER (
                 win ROWS BETWEEN ${MpW - 1} PRECEDING AND CURRENT ROW)
                 AS arr,
               sum(${Micro.sql("value")}) OVER (
                 win ROWS BETWEEN ${MpW - 1} PRECEDING AND CURRENT ROW)
                 AS sa
        FROM events
        WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id)),
      w AS (SELECT event_type, CAST(rn - $MpW AS BIGINT) AS pos, arr, sa
            FROM base WHERE rn >= $MpW AND (rn - $MpW) % $MpStride = 0),
      pr AS (SELECT a.event_type, a.pos, b.pos AS npos,
               list_sum(list_transform(range(1, ${MpW + 1}),
                 i -> abs($MpW * (a.arr[i] - b.arr[i]) - (a.sa - b.sa))))
                 AS d1
             FROM w a JOIN w b ON a.event_type = b.event_type
              AND abs(a.pos - b.pos) BETWEEN $MpW AND $MpHorizon)"""

  /** a52: top-3 DISCORDS per series — the subsequences farthest from
    * their nearest in-horizon neighbor (matrix-profile maxima; Yeh et
    * al. 2016's profile, Keogh et al. 2005's discord notion), the
    * "which stretch of this metric looks like nothing else around it"
    * detector complementing the point-wise tests a01-a13: a discord
    * window can contain no individually-outlying point at all.
    * Nearest neighbor ties break toward the smaller position on both
    * engines; dev_unit restates the profile as mean per-point absolute
    * deviation in original units (exact integer ÷ exact double
    * constant, rounded at the boundary only).
    */
  private[queries] def discordEntry: Entry =
    Entry("a52_discord_profile", (s, dir) => {
      val prof = mpPairs(s, dir).groupBy("event_type", "pos")
        .agg(min(struct(col("d1"), col("npos"))).as("m"))
        .select(col("event_type"), col("pos"),
          col("m.d1").as("profile"), col("m.npos").as("nn_pos"))
      val wr = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type")
        .orderBy(col("profile").desc, col("pos"))
      prof.withColumn("rk", row_number().over(wr).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("event_type"), col("rk"), col("pos").as("w_pos"),
          col("nn_pos"), col("profile"),
          round(col("profile").cast("double") /
            lit(MpW.toDouble * MpW * 1e6), 6).as("dev_unit"))
    }, Some(s"""$mpPairsCte,
      nn AS (SELECT event_type, pos, npos, d1 FROM (
               SELECT *, row_number() OVER (
                 PARTITION BY event_type, pos ORDER BY d1, npos) AS r
               FROM pr) WHERE r = 1)
      SELECT event_type, CAST(rk AS BIGINT) AS rk, pos AS w_pos,
             npos AS nn_pos, CAST(d1 AS BIGINT) AS profile,
             round(CAST(d1 AS DOUBLE) / ${MpW * MpW}e6, 6) AS dev_unit
      FROM (SELECT *, row_number() OVER (
              PARTITION BY event_type ORDER BY d1 DESC, pos) AS rk
            FROM nn)
      WHERE rk <= 3"""),
      tier = Tier.Swept(Sweep.Linear))

  /** a53: top-3 MOTIFS per series — the closest non-trivial in-horizon
    * window pairs (matrix-profile minima): recurring shapes whose
    * existence calibrates how repetitive a series is, the baseline a
    * discord is judged against. Same pair base as a52; each unordered
    * pair counted once (pos < npos), rank ties toward the earlier
    * pair.
    */
  private[queries] def motifEntry: Entry =
    Entry("a53_motif_pairs", (s, dir) => {
      val wr = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type")
        .orderBy(col("d1"), col("pos"), col("npos"))
      mpPairs(s, dir).filter(col("pos") < col("npos"))
        .withColumn("rk", row_number().over(wr).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("event_type"), col("rk"), col("pos").as("pos_a"),
          col("npos").as("pos_b"), col("d1").as("dist"),
          round(col("d1").cast("double") /
            lit(MpW.toDouble * MpW * 1e6), 6).as("dist_unit"))
    }, Some(s"""$mpPairsCte
      SELECT event_type, CAST(rk AS BIGINT) AS rk, pos AS pos_a,
             npos AS pos_b, CAST(d1 AS BIGINT) AS dist,
             round(CAST(d1 AS DOUBLE) / ${MpW * MpW}e6, 6) AS dist_unit
      FROM (SELECT *, row_number() OVER (
              PARTITION BY event_type ORDER BY d1, pos, npos) AS rk
            FROM pr WHERE pos < npos)
      WHERE rk <= 3"""))

  /** a54: detector scorecard — precision/recall/F1 of three detector
    * families against a DECLARED deterministic spike ground truth,
    * answering the operator's question the individual detectors can't:
    * "which test should I trust on MY data". Truth convention: within
    * the scoreable universe (rows with a full 25-window, so every
    * detector sees the same rows), the top-20 rows per series by
    * |value − series lower median|, deviation ties broken (ts,
    * event_id). Detectors scored: rolling IQR fence (a21's rule),
    * rolling MAD robust-z at the Iglewicz–Hoaglin 3.5 gate (a20's
    * statistic; a zero MAD degenerates to value ≠ window median,
    * avoiding cross-engine NaN-ordering semantics), and a global
    * 3-sigma z-score whose mean/variance come from exact integer
    * micro-sums (the a23 discipline: |n·v6 − s1| > 3·sqrt(n·s2 − s1²),
    * multiplied through so ONE sqrt and ONE comparison of exact
    * integers decide the flag — no mean/std doubles cross the plan).
    * Counts are integers; precision/recall/F1 are single double
    * divisions of exact integers (F1 = 2tp/(2tp+fp+fn), never derived
    * from the rounded P and R). A detector that flags nothing reports
    * NULL precision rather than 0/0. Shape at 100 TB: ONE series-key
    * shuffle carries the rolling windows, the series-median rank, the
    * truth rank, and the global sums as stacked window functions over
    * the same partitioning; the 3-way detector stack is a projection
    * (explode of a 3-element literal array), and the final aggregate
    * is series × 3 rows.
    */
  /** DuckDB CTE chain ending in `flags(event_type, is_true, iqr_flag,
    * mad_flag, z_flag)` — the oracle twin of [[scorecardFlags]],
    * shared by a54 and a55 so both score definitionally identical
    * flags. lazy: referenced while `entries` constructs.
    */
  private lazy val scorecardFlagsCtes: String = s"""base AS (
        ${trailingSql("event_type, event_id, ts, value", "value", 25)}),
      u AS (SELECT event_type, event_id, ts, value,
              list_sort(arr) AS sarr, arr,
              ${Micro.sql("value")} AS v6
            FROM base WHERE rn >= 25),
      roll AS (SELECT *, sarr[13] AS med25,
                 list_sort(list_transform(arr, x -> abs(x - sarr[13])))[13]
                   AS mad25,
                 sarr[7] AS q1_v, sarr[19] AS q3_v
               FROM u),
      gstat AS (SELECT *,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY value, ts, event_id) AS wv,
                  count(*) OVER wall AS n_u,
                  CAST(sum(v6) OVER wall AS BIGINT) AS s1,
                  sum(CAST(v6 AS HUGEINT) * v6) OVER wall AS s2
                FROM roll WINDOW wall AS (PARTITION BY event_type)),
      gmed AS (SELECT *, max(CASE WHEN wv = (n_u + 1) // 2
                   THEN value END) OVER (PARTITION BY event_type) AS gm
               FROM gstat),
      truth AS (SELECT *, row_number() OVER (PARTITION BY event_type
                  ORDER BY abs(value - gm) DESC, ts, event_id) <= 20
                  AS is_true
                FROM gmed),
      flags AS (SELECT event_type, is_true,
                  (value < q1_v - 1.5 * (q3_v - q1_v) OR
                   value > q3_v + 1.5 * (q3_v - q1_v)) AS iqr_flag,
                  CASE WHEN mad25 = 0 THEN value <> med25
                       ELSE abs(0.6745 * (value - med25) / mad25) > 3.5
                  END AS mad_flag,
                  abs(CAST(CAST(n_u AS HUGEINT) * v6 - s1 AS DOUBLE)) >
                    3.0 * sqrt(CAST(CAST(n_u AS HUGEINT) * s2 -
                      CAST(s1 AS HUGEINT) * s1 AS DOUBLE)) AS z_flag,
                  abs(CAST(CAST(n_u AS HUGEINT) * v6 - s1 AS DOUBLE))
                    AS z_abs,
                  sqrt(CAST(CAST(n_u AS HUGEINT) * s2 -
                    CAST(s1 AS HUGEINT) * s1 AS DOUBLE)) AS z_sig
                FROM truth)"""

  /** The a54/a55 shared flag frame: per scoreable row (full 25-window
    * universe), the declared spike truth and the three detector flags.
    * One series-key shuffle carrying all five stacked window passes.
    */
  private[queries] def scorecardFlags(
      s: SparkSession, dir: String): DataFrame = {
    val w = 25
    val mid = 13
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type")
    val wVal = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type")
      .orderBy(col("value"), col("ts"), col("event_id"))
    val wDev = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type")
      .orderBy(col("dev").desc, col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("event_type"), col("event_id"), col("ts"), col("value"))
      .transform(trailing(_, "value", w))
      // one fused kernel pass instead of the interpreted array_sort +
      // transform(x -> abs(x - med)) + array_sort chain per row (the
      // r10 lambda-kernel rule; bit-identical, see RobustWindowStats)
      .withColumn("rs", graft.functions.SeriesKernelFunctions
        .robust_window_stats(col("arr"), mid, 7, 19))
      .withColumn("med25", col("rs.med"))
      .withColumn("mad25", col("rs.mad"))
      .withColumn("q1_v", col("rs.q1"))
      .withColumn("q3_v", col("rs.q3"))
      .withColumn("v6", Micro.of("value"))
      .withColumn("wv", row_number().over(wVal).cast("long"))
      .withColumn("n_u", count(lit(1)).over(wAll))
      .withColumn("gmed", max(when(
        col("wv") === expr("(n_u + 1) div 2"), col("value"))).over(wAll))
      .withColumn("s1", sum(col("v6")).over(wAll))
      .withColumn("s2", sum(dec(col("v6")) * col("v6")).over(wAll))
      .withColumn("dev", abs(col("value") - col("gmed")))
      .withColumn("tr", row_number().over(wDev))
      .withColumn("is_true", col("tr") <= 20)
      .withColumn("iqr_flag",
        col("value") < col("q1_v") - lit(1.5) * (col("q3_v") - col("q1_v")) ||
        col("value") > col("q3_v") + lit(1.5) * (col("q3_v") - col("q1_v")))
      .withColumn("mad_flag",
        when(col("mad25") === 0.0, col("value") =!= col("med25"))
          .otherwise(abs(lit(0.6745) * (col("value") - col("med25")) /
            col("mad25")) > 3.5))
      // the raw z pieces ride along for a56's threshold sweep:
      // z_abs is the exact integer |n·v6 − s1|, z_sig the one sqrt of
      // the exact variance numerator — a gate t flags when
      // z_abs > t·z_sig (multiplied-through, no mean/std doubles).
      // n·v6 is 128-bit like the s2 terms: at ~1e7 rows with |v6|~1e12
      // the plain int64 product wraps silently in Spark while DuckDB
      // raises — same discipline as the variance numerator below
      .withColumn("z_abs",
        abs(dec(col("n_u")) * col("v6") - col("s1")).cast("double"))
      .withColumn("z_sig",
        sqrt((dec(col("n_u")) * col("s2") -
          dec(col("s1")) * col("s1")).cast("double")))
      .withColumn("z_flag", col("z_abs") > lit(3.0) * col("z_sig"))
      .select(col("event_type"), col("is_true"), col("iqr_flag"),
        col("mad_flag"), col("z_flag"), col("z_abs"), col("z_sig"))
  }

  /** The detector scorecard: `df`'s (flag, is_true) rows grouped by
    * `keys` into exact tp/fp/fn counts (after any `extra` named
    * aggregates), with precision6/recall6/f16 — each ONE double
    * division; precision is NULL when nothing was flagged.
    */
  private def scorecard(df: DataFrame, keys: Seq[String],
      extra: (String, Column)*): DataFrame = {
    val aggs = extra.map { case (n, c) => c.as(n) } ++ Seq(
      sum(when(col("flag") && col("is_true"), 1L).otherwise(0L)).as("tp"),
      sum(when(col("flag") && !col("is_true"), 1L).otherwise(0L)).as("fp"),
      sum(when(!col("flag") && col("is_true"), 1L).otherwise(0L)).as("fn"))
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .select((keys ++ extra.map(_._1) ++ Seq("tp", "fp", "fn")).map(col) ++
        Seq(precision6, recall6, f16): _*)
  }

  private def precision6: Column =
    when(col("tp") + col("fp") > 0,
      round(col("tp").cast("double") /
        (col("tp") + col("fp")).cast("double"), 6)).as("precision6")
  private def recall6: Column =
    round(col("tp").cast("double") /
      (col("tp") + col("fn")).cast("double"), 6).as("recall6")
  private def f16: Column =
    round((lit(2L) * col("tp")).cast("double") /
      (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double"), 6)
      .as("f16")

  /** [[scorecard]]'s tp/fp/fn aggregates in DuckDB. */
  private def confusionSql: String =
    """CAST(sum(CASE WHEN flag AND is_true THEN 1 ELSE 0 END)
                  AS BIGINT) AS tp,
                CAST(sum(CASE WHEN flag AND NOT is_true THEN 1 ELSE 0 END)
                  AS BIGINT) AS fp,
                CAST(sum(CASE WHEN NOT flag AND is_true THEN 1 ELSE 0 END)
                  AS BIGINT) AS fn"""

  /** [[precision6]] and [[recall6]] in DuckDB. */
  private def precisionRecallSql: String =
    """CASE WHEN tp + fp > 0 THEN
               round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6)
             END AS precision6,
             round(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6)
               AS recall6"""

  /** [[f16]] in DuckDB. */
  private def f1Sql: String =
    """round(CAST(2 * tp AS DOUBLE) /
               CAST(2 * tp + fp + fn AS DOUBLE), 6) AS f16"""

  private[queries] def scorecardEntry: Entry =
    Entry("a54_detector_scorecard", (s, dir) => {
      scorecardFlags(s, dir)
        .select(col("event_type"), col("is_true"), explode(expr(
          "array(named_struct('detector', 'iqr', 'flag', iqr_flag)," +
          "      named_struct('detector', 'mad', 'flag', mad_flag)," +
          "      named_struct('detector', 'zscore', 'flag', z_flag))"))
          .as("d"))
        .select(col("event_type"), col("d.detector").as("detector"),
          col("d.flag").as("flag"), col("is_true"))
        .transform(scorecard(_, Seq("event_type", "detector")))
    }, Some(s"""
      WITH $scorecardFlagsCtes,
      stacked AS (
        SELECT event_type, 'iqr' AS detector, iqr_flag AS flag, is_true
        FROM flags
        UNION ALL
        SELECT event_type, 'mad', mad_flag, is_true FROM flags
        UNION ALL
        SELECT event_type, 'zscore', z_flag, is_true FROM flags),
      agg AS (SELECT event_type, detector,
                $confusionSql
              FROM stacked GROUP BY 1, 2)
      SELECT event_type, detector, tp, fp, fn,
             $precisionRecallSql,
             $f1Sql
      FROM agg"""))

  /** a55: detector OVERLAP matrix — the ensemble-design complement of
    * a54: a54 says how good each detector is alone; this says how
    * REDUNDANT each pair is (Jaccard of their flag sets per series).
    * Two detectors with high individual F1 and near-total overlap add
    * nothing to each other in the rank-max ensemble fold
    * (anomalyze.go:156-166) — the operator keeps the cheaper one; low
    * overlap with comparable F1 is exactly when ensembling pays.
    * Flags come from the SAME shared frame as a54 (one definition,
    * both engines), so the two reports are always consistent. Counts
    * exact; Jaccard = both/either is ONE double division; a pair with
    * no flags at all reports NULL rather than 0/0. Same single
    * series-key shuffle as a54; the pair stack is a 3-element literal
    * explode and the aggregate is series x 3 rows.
    */
  private[queries] def detectorOverlapEntry: Entry =
    Entry("a55_detector_overlap", (s, dir) => {
      scorecardFlags(s, dir)
        .select(col("event_type"), explode(expr(
          "array(named_struct('det_a', 'iqr', 'det_b', 'mad'," +
          "                   'a', iqr_flag, 'b', mad_flag)," +
          "      named_struct('det_a', 'iqr', 'det_b', 'zscore'," +
          "                   'a', iqr_flag, 'b', z_flag)," +
          "      named_struct('det_a', 'mad', 'det_b', 'zscore'," +
          "                   'a', mad_flag, 'b', z_flag))")).as("p"))
        .select(col("event_type"), col("p.det_a").as("det_a"),
          col("p.det_b").as("det_b"), col("p.a").as("a"),
          col("p.b").as("b"))
        .groupBy("event_type", "det_a", "det_b")
        .agg(
          sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("n_both"),
          sum(when(col("a") || col("b"), 1L).otherwise(0L)).as("n_either"),
          sum(when(col("a"), 1L).otherwise(0L)).as("n_a"),
          sum(when(col("b"), 1L).otherwise(0L)).as("n_b"))
        .select(col("event_type"), col("det_a"), col("det_b"),
          col("n_a"), col("n_b"), col("n_both"),
          when(col("n_either") > 0,
            round(col("n_both").cast("double") /
              col("n_either").cast("double"), 6)).as("jaccard6"))
    }, Some(s"""
      WITH $scorecardFlagsCtes,
      stacked AS (
        SELECT event_type, 'iqr' AS det_a, 'mad' AS det_b,
               iqr_flag AS a, mad_flag AS b FROM flags
        UNION ALL
        SELECT event_type, 'iqr', 'zscore', iqr_flag, z_flag FROM flags
        UNION ALL
        SELECT event_type, 'mad', 'zscore', mad_flag, z_flag FROM flags),
      agg AS (SELECT event_type, det_a, det_b,
                CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_both,
                CAST(sum(CASE WHEN a OR b THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_either,
                CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                CAST(sum(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS n_b
              FROM stacked GROUP BY 1, 2, 3)
      SELECT event_type, det_a, det_b, n_a, n_b, n_both,
             CASE WHEN n_either > 0 THEN
               round(CAST(n_both AS DOUBLE) / CAST(n_either AS DOUBLE), 6)
             END AS jaccard6
      FROM agg"""))

  /** a56: z-gate threshold sweep — the tuning curve a54's fixed-gate
    * scorecard can't show: P/R/F1 of the global z-score detector at
    * gates t ∈ {2, 2.5, 3, 3.5, 4}, against the same declared truth
    * ("where do I set the gate for MY tolerance for pages"). The flag
    * at gate t is the multiplied-through exact comparison
    * z_abs > t·z_sig from the SAME shared flag frame (z_abs the exact
    * integer |n·v6 − s1| as double, z_sig ONE sqrt of the exact
    * variance numerator; t exactly representable, so both engines
    * compare identical doubles). Recall is non-increasing and flag
    * count non-increasing in t by construction — pinned. Cost: the
    * gate stack is a 5-element literal explode on top of a54's one
    * series shuffle; the aggregate is series × 5 rows.
    */
  private[queries] def thresholdSweepEntry: Entry = {
    val gates = Seq(2.0, 2.5, 3.0, 3.5, 4.0)
    val gatesLit = gates.mkString("array(", ",", ")")
    Entry("a56_zgate_sweep", (s, dir) => {
      scorecardFlags(s, dir)
        .select(col("event_type"), col("is_true"), col("z_abs"),
          col("z_sig"),
          explode(expr(s"cast($gatesLit as array<double>)")).as("gate"))
        .withColumn("flag", col("z_abs") > col("gate") * col("z_sig"))
        .transform(scorecard(_, Seq("event_type", "gate"),
          "n_flagged" -> sum(when(col("flag"), 1L).otherwise(0L))))
    }, Some(s"""
      WITH $scorecardFlagsCtes,
      swept AS (SELECT event_type, is_true,
                  z_abs > gate * z_sig AS flag, gate
                FROM flags, UNNEST([${gates.map(g =>
                  s"CAST($g AS DOUBLE)").mkString(",")}]) t(gate)),
      agg AS (SELECT event_type, gate,
                CAST(sum(CASE WHEN flag THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_flagged,
                $confusionSql
              FROM swept GROUP BY 1, 2)
      SELECT event_type, gate, n_flagged, tp, fp, fn,
             $precisionRecallSql,
             $f1Sql
      FROM agg"""))
  }

  /** a57: ensemble ABLATION — the last scorecard the a54/a55/a56
    * family needs: the OR-ensemble's P/R/F1 with the full detector set
    * and with each detector LEFT OUT ("can I stop paying for the MAD
    * windows?"). Leave-one-out against the same truth isolates each
    * detector's marginal contribution the way a55's pairwise overlap
    * only hints at: a detector whose removal leaves F1 unchanged is
    * fully shadowed. Variants are a 4-struct literal explode over the
    * shared flag frame — same single series shuffle, series × 4 output
    * rows; counts exact, each metric ONE double division.
    */
  private[queries] def ensembleAblationEntry: Entry =
    Entry("a57_ensemble_ablation", (s, dir) => {
      scorecardFlags(s, dir)
        .select(col("event_type"), col("is_true"), explode(expr(
          "array(" +
          "named_struct('variant', '0_all'," +
          "  'flag', iqr_flag or mad_flag or z_flag)," +
          "named_struct('variant', '1_no_iqr'," +
          "  'flag', mad_flag or z_flag)," +
          "named_struct('variant', '2_no_mad'," +
          "  'flag', iqr_flag or z_flag)," +
          "named_struct('variant', '3_no_zscore'," +
          "  'flag', iqr_flag or mad_flag))")).as("v"))
        .select(col("event_type"), col("v.variant").as("variant"),
          col("v.flag").as("flag"), col("is_true"))
        .transform(scorecard(_, Seq("event_type", "variant")))
    }, Some(s"""
      WITH $scorecardFlagsCtes,
      stacked AS (
        SELECT event_type, '0_all' AS variant,
               (iqr_flag OR mad_flag OR z_flag) AS flag, is_true
        FROM flags
        UNION ALL SELECT event_type, '1_no_iqr',
               (mad_flag OR z_flag), is_true FROM flags
        UNION ALL SELECT event_type, '2_no_mad',
               (iqr_flag OR z_flag), is_true FROM flags
        UNION ALL SELECT event_type, '3_no_zscore',
               (iqr_flag OR mad_flag), is_true FROM flags),
      agg AS (SELECT event_type, variant,
                $confusionSql
              FROM stacked GROUP BY 1, 2)
      SELECT event_type, variant, tp, fp, fn,
             $precisionRecallSql,
             $f1Sql
      FROM agg"""))

  /** a58: gate auto-tuner — the DECISION a56's sweep exists to feed:
    * per series, the LOOSEST z gate whose precision clears the
    * declared alert budget (precision ≥ 0.8 — "at most 1 in 5 pages
    * is noise"), so recall is maximal subject to the noise bar. A
    * series where no swept gate qualifies reports a NULL gate (page
    * the operator about the SERIES, not with it). Composed from the
    * a56 catalog entry at run time (p69/p90 pattern — the tuner
    * recommends over exactly the rows the driver oracles); comparisons
    * use the exact integer tp/fp counts, never the rounded precision6
    * (10·tp ≥ 8·(tp+fp) — no double crosses the decision). Cost: a56's
    * plan + a series-keyed argmin window over series × 5 rows.
    */
  private[queries] def gateTunerEntry: Entry =
    Entry("a58_gate_tuner", (s, dir) => {
      val sweep = Catalog.queries("a56_zgate_sweep")(s, dir)
        .select(col("event_type"), col("gate"), col("tp"), col("fp"),
          col("fn"))
        // exact-integer budget test: precision >= 0.8
        .withColumn("ok", lit(10L) * col("tp") >=
          lit(8L) * (col("tp") + col("fp")))
      sweep
        .withColumn("chosen",
          min(when(col("ok"), col("gate"))).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("event_type")))
        .filter(col("gate") === col("chosen") ||
          (col("chosen").isNull && col("gate") === 2.0))
        .select(col("event_type"),
          when(col("chosen").isNotNull, col("gate")).as("chosen_gate"),
          col("tp"), col("fp"), col("fn"), precision6, recall6,
          col("chosen").isNotNull.as("budget_met"))
    }, Some(s"""
      WITH $scorecardFlagsCtes,
      swept AS (SELECT event_type, is_true,
                  z_abs > gate * z_sig AS flag, gate
                FROM flags, UNNEST([CAST(2.0 AS DOUBLE),
                  CAST(2.5 AS DOUBLE), CAST(3.0 AS DOUBLE),
                  CAST(3.5 AS DOUBLE), CAST(4.0 AS DOUBLE)]) t(gate)),
      agg AS (SELECT event_type, gate,
                $confusionSql
              FROM swept GROUP BY 1, 2),
      ok AS (SELECT *, (10 * tp >= 8 * (tp + fp)) AS ok FROM agg),
      chosen AS (SELECT *, min(CASE WHEN ok THEN gate END)
                   OVER (PARTITION BY event_type) AS chosen
                 FROM ok)
      SELECT event_type,
             CASE WHEN chosen IS NOT NULL THEN gate END AS chosen_gate,
             tp, fp, fn,
             $precisionRecallSql,
             (chosen IS NOT NULL) AS budget_met
      FROM chosen
      WHERE gate = chosen OR (chosen IS NULL AND gate = 2.0)"""))
}
