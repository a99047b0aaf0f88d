package graft

import java.io.{File, PrintWriter}
import java.nio.file.{Files, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.fs.FileUtil
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Multi-point scale regression gate: times each swept entry at
  * 1×/3×/10×/30× replicated corpora ([[replica]] of the sf0.1
  * base; a heavy-graded tier adds a 100× point — see [[X100Names]]),
  * fits the scaling exponent α in t ≈ c·nᵅ by least squares over
  * (log n, log t), and FAILS (exit 1) when α exceeds the entry's
  * pinned cap — turning the old one-point "at-or-below linear"
  * eyeball into a recorded, re-runnable artifact.
  *
  * `runMain graft.ScaleSweep [outJson] [name ...]` — defaults:
  * `SCALE_SWEEP.json` in the cwd, the full graded set; a short name
  * list is the quick linearity smoke for a plan change. Each point is
  * the best of 2 timed runs after one warmup (the same discipline as
  * Bench), with entry caches + the SQL cache cleared between points so
  * no point rides another's state.
  *
  * Reading the fit: fixed per-query overhead (session, planning,
  * small-dim scans) deflates α below 1 for sub-second entries — a
  * SAFE bias for a gate that only fires on α ABOVE cap. Exact
  * replication gives every doc N−1 identical twins, so near-dup
  * PAIR OUTPUT grows ~N² by construction for the dedup families —
  * their caps encode that expectation (see [[Caps]]); the gate still
  * catches a dedup plan going accidentally all-pairs, because that
  * blows past even the quadratic-output cap via the candidate side.
  *
  * Two enumeration gates run BEFORE any timing (VERDICT r13 #2 — the
  * p28 lesson applied to the sweep itself: a "not in the sweep"
  * comment is a claim nothing tests):
  *  - the default sweep list plus [[Excluded]] must cover every bench
  *    entry and every budget-top entry (sf0.1 Verify budget ≥
  *    [[BudgetTopThresholdSec]], read from tools/budgets_sf01.json);
  *  - every declared-cap entry ([[Caps]]) must either time the 100×
  *    point or carry a documented [[X100Excluded]] reason.
  * The same checks are pinned in CI (SweepCoverageSpec) so a new
  * heavy entry fails the build, not just the next sweep run.
  */
object ScaleSweep {

  /** Every swept entry times these points (×30 catalog-wide since
    * r14: the 1×/3×/10× fits over sf0.1 rest on one decade, where a
    * latent super-linear term — spill, skew, state growth — can hide
    * inside the noise; the second decade separates it).
    */
  private val Factors = Seq(1, 3, 10, 30)

  private val X100Factor = 100

  /** Default fitted-exponent cap: linear plus measurement headroom.
    * Sub-second entries fit well below 1; anything genuinely linear
    * lands ≲1.1 even with noisy small-n points.
    */
  val DefaultCap = 1.30

  /** Per-entry caps above the default, each with the structural reason
    * the entry's work/output LEGITIMATELY grows faster than the corpus
    * under exact ×N replication (N−1 identical twins per doc):
    * near-dup pair OUTPUT is ~N² for the pair-emitting entries. These
    * are output-volume facts of the synthetic corpus, not plan
    * defects — a real corpus does not replicate every document.
    */
  val Caps: Map[String, Double] = Map(
    // emits (doc_a, doc_b) near-dup pairs: each base pair gains ~N²
    // twin combinations (bounded by the df/occupancy caps, which is
    // why the observed exponent sits well under 2)
    "p03_dedup_ngram_jaccard" -> 2.2,
    "p04_dedup_minhash_lsh" -> 2.2,
    // span excision joins contaminated spans against their duplicates:
    // span multiplicity is ~N² under replication
    "p44_dupspan" -> 2.2,
    // the two DECLARED brute-force baselines: the query set is a fixed
    // fraction of the corpus (vec_id % 50), so queries AND corpus both
    // grow ×N and the exact scan does ~N² work BY DECLARATION — their
    // scale paths (p15/p63) are swept separately under the linear cap.
    // Under 1.3 they passed only via fixed-overhead deflation (r11
    // fits: p07 1.03, p59 1.28 — one noisy point from a false alarm)
    "p07_sim_topk" -> 2.2,
    "p59_pq_topk" -> 2.2,
    // p100's exact arm is the same declared p07-class brute baseline
    // (an evaluation-time recall panel); its ANN arm is the shipped
    // p63 serving plan. In the sweep since r14 (VERDICT r13 #1/#2: the
    // declared-baseline claim was a comment nothing measured).
    "p100_ivfpq_recall" -> 2.2,
    // ---- the budget-top tier added in r12 (VERDICT r11 #7): entries
    // whose work rides the p04 LSH PAIR LIST (components, calibration,
    // splits, leakage audit, per-pair runs) — pair count inflates ~N²
    // under exact replication exactly like p04 itself, bounded by the
    // same df/occupancy caps
    "p23_dedup_clusters" -> 2.2,
    "p54_minhash_calibration" -> 2.2,
    "p66_split_leakfree" -> 2.2,
    "p67_leakage_audit" -> 2.2,
    "p71_split_contamination" -> 2.2,
    "p87_longest_common_run" -> 2.2,
    // retrieval with a fixed-corpus-fraction query set (doc_id % 100):
    // queries AND postings both grow ×N, so the (query, doc) score
    // volume is ~N² BY DECLARATION (the p07/p59 rationale; a real
    // deployment's query set does not grow with the corpus)
    "p58_bm25_topk" -> 2.2,
    "p60_hybrid_rrf" -> 2.2,
    // perceptual near-dup pairs: same banded-pair-output argument as
    // p04 — every base pair gains ~N² twin combinations under exact
    // replication, bounded by the per-(band, value) df cap of 64
    "p101_image_phash_neardup" -> 2.2
  )

  /** The heavy-graded tier that also times the 100× point (VERDICT
    * r13 #1): the budget-table top and the scale-path flagships, two
    * decades past the base corpus — where spill, skew, or state growth
    * that a 10× fit cannot see actually shows. Declared-quadratic
    * entries keep their 2.2 cap at the wider span.
    */
  val X100Names: Set[String] = Set(
    "p99_hybrid_rrf_ann", "a13_anomaly_perm500_chunked",
    "p03_dedup_ngram_jaccard", "p04_dedup_minhash_lsh", "p44_dupspan",
    "p07_sim_topk", "p23_dedup_clusters", "p54_minhash_calibration",
    "p66_split_leakfree", "p67_leakage_audit", "p71_split_contamination",
    "p87_longest_common_run", "p52_pagerank", "p94_epoch_schedule",
    "p63_sim_ivfpq", "p80_bpe_apply", "p101_image_phash_neardup")

  /** Declared-cap entries documented OUT of the 100× point, each with
    * the projected-cost arithmetic that justifies it — an entry must
    * appear here or in [[X100Names]], never silently in neither (the
    * enumeration gate enforces it).
    */
  val X100Excluded: Map[String, String] = Map(
    "p58_bm25_topk" -> ("declared ~N^2-work baseline (query set is a " +
      "fixed corpus fraction); x10 measured 36 s/run, so x100 projects " +
      ">= 20 min/run x3 runs — the bounded scale path p99 carries the " +
      "x100 point"),
    "p60_hybrid_rrf" -> ("declared ~N^2-work baseline fusing p58's " +
      "arms; x10 measured 49 s/run, x100 projects >= 25 min/run — p99 " +
      "is its x100-swept scale twin"),
    "p59_pq_topk" -> ("declared brute PQ baseline; x30 measured " +
      "105 s/run, x100 projects ~11+ min/run — the serving path p63 " +
      "times x100 under the LINEAR cap"),
    "p100_ivfpq_recall" -> ("evaluation-time recall monitor whose " +
      "exact arm is the p07-class declared-brute scan; p07 carries " +
      "the declared-tier x100 point and p63 the serving-path one"))

  /** Entries deliberately absent from the default sweep list, with the
    * reason. Empty = everything bench- or budget-top-graded is swept.
    */
  val Excluded: Map[String, String] = Map.empty

  /** Budget-table entries at or above this sf0.1 wall (seconds) are
    * "budget-top": heavy enough that their 100 TB behavior must be
    * fitted, not assumed — the sweep fails fast if one is neither
    * swept nor excluded with a reason.
    */
  val BudgetTopThresholdSec = 2.5

  /** The non-bench entries swept anyway (VERDICT r11 #7 + r13 #2): the
    * top of the Verify budget table, whose 100× behavior the bench-set
    * sweep never fitted.
    */
  val ExtraSweepNames: Seq[String] = Seq("p23_dedup_clusters",
    "p54_minhash_calibration", "p58_bm25_topk", "p60_hybrid_rrf",
    "p66_split_leakfree", "p67_leakage_audit", "p71_split_contamination",
    "p87_longest_common_run", "p100_ivfpq_recall", "p80_bpe_apply",
    "a05_anomaly_enrich", "a52_discord_profile",
    "p101_image_phash_neardup")

  def defaultNames: Seq[String] = queries.Catalog.benchNames ++
    ExtraSweepNames.filterNot(queries.Catalog.benchNames.contains)

  /** Parses the flat {"name": seconds} budget file the Verify gate
    * records (tools/check_budgets.py).
    */
  def budgetTopNames(path: String = "tools/budgets_sf01.json")
      : Seq[String] = {
    val f = new File(path)
    require(f.exists(), s"budget file not found at ${f.getAbsolutePath} " +
      "— the budget-top enumeration gate cannot run without it")
    val src = scala.io.Source.fromFile(f)
    val text = try src.mkString finally src.close()
    val Pair = """"([A-Za-z0-9_]+)"\s*:\s*([0-9.]+)""".r
    Pair.findAllMatchIn(text)
      .filter(_.group(2).toDouble >= BudgetTopThresholdSec)
      .map(_.group(1)).toSeq.sorted
  }

  /** The enumeration gates (VERDICT r13 #2), shared by main() and CI:
    * returns human-readable failures, empty = covered.
    */
  def coverageErrors(budgetPath: String = "tools/budgets_sf01.json")
      : Seq[String] = {
    val listed = defaultNames.toSet
    val covered = listed ++ Excluded.keySet
    val must = (queries.Catalog.benchNames ++ budgetTopNames(budgetPath))
      .distinct
    val missing = must.filterNot(covered).sorted.map(n =>
      s"$n is bench- or budget-top-graded but neither swept nor in " +
        "ScaleSweep.Excluded")
    val capsUnswept = Caps.keySet.diff(listed).toSeq.sorted.map(n =>
      s"$n has a declared cap but is not in the sweep list (the p100 " +
        "r13 bug class)")
    val x100Gap = Caps.keySet.diff(X100Names ++ X100Excluded.keySet)
      .toSeq.sorted.map(n =>
        s"$n is declared-cap but neither times x100 nor documents an " +
          "exclusion in ScaleSweep.X100Excluded")
    val x100Both = X100Names.intersect(X100Excluded.keySet).toSeq.sorted
      .map(n => s"$n is both in X100Names and X100Excluded")
    missing ++ capsUnswept ++ x100Gap ++ x100Both
  }

  def main(args: Array[String]): Unit = {
    val outJson = args.headOption.getOrElse("SCALE_SWEEP.json")
    val names: Seq[String] =
      if (args.length > 1) args.drop(1).toSeq else defaultNames
    // enumeration gates fail BEFORE any timing: a sweep that silently
    // under-covers must never produce a green artifact
    val cov = coverageErrors()
    if (cov.nonEmpty) {
      cov.foreach(e => System.err.println(s"[sweep] COVERAGE: $e"))
      sys.exit(1)
    }
    val base = "/root/testdata/sf0.1"
    val cpus = Runtime.getRuntime.availableProcessors.min(32)
    val spark = GraftSession.create(s"local[$cpus]", cpus, "scale-sweep")

    def dirFor(f: Int): String = if (f == 1) base else replica(spark, base, f)
    def factorsFor(name: String): Seq[Int] =
      if (X100Names.contains(name)) Factors :+ X100Factor else Factors

    def time(name: String, dir: String): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        queries.Catalog.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      // settled heap before the warm run: the 10x/30x/100x points of
      // earlier entries leave GC fragmentation behind that otherwise
      // inflates the NEXT entry's small-n points (deflating its fitted
      // exponent — the unsafe direction for a gate that fires on alpha
      // ABOVE cap); same discipline as Bench blocks
      operators.EntryCaches.releaseAll()
      spark.catalog.clearCache()
      System.gc()
      once() // warm
      val t = math.min(once(), once())
      operators.EntryCaches.releaseAll()
      spark.catalog.clearCache()
      t
    }

    /** Least-squares slope of log t against log n. */
    def fitAlpha(pts: Seq[(Int, Double)]): Double = {
      val xs = pts.map(p => math.log(p._1.toDouble))
      val ys = pts.map(p => math.log(p._2))
      val xm = xs.sum / xs.size
      val ym = ys.sum / ys.size
      val cov = xs.zip(ys).map { case (x, y) => (x - xm) * (y - ym) }.sum
      val vx = xs.map(x => (x - xm) * (x - xm)).sum
      cov / vx
    }

    var failed = List.empty[String]
    val rows = names.flatMap { n =>
      try {
        val pts = factorsFor(n).map(f => f -> time(n, dirFor(f)))
        val alpha = fitAlpha(pts)
        val cap = Caps.getOrElse(n, DefaultCap)
        val ok = alpha <= cap
        if (!ok) failed ::= n
        val ptsStr = pts.map { case (f, t) => f"x$f ${t}%6.2f" }
          .mkString("  ")
        println(f"[sweep] $n%-28s $ptsStr  alpha $alpha%5.2f  " +
          f"cap $cap%4.2f  ${if (ok) "ok" else "FAIL"}")
        val ptsJson = pts.map { case (f, t) =>
          s""""x$f":${f"$t%.3f"}""" }.mkString(",")
        Some(s"""  "$n": {$ptsJson,"alpha":${f"$alpha%.3f"},""" +
          s""""cap":$cap,"pass":$ok}""")
      } catch {
        case e: Throwable =>
          failed ::= n
          println(s"[sweep] $n FAILED: ${e.getMessage}")
          Some(s"""  "$n": {"error":"${e.getClass.getSimpleName}","pass":false}""")
      }
    }
    def strMap(m: Map[String, String]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) =>
        s""""$k": "${v.replace("\"", "'")}"""" }.mkString("{", ", ", "}")
    val pw = new PrintWriter(outJson)
    pw.println("{\n" + rows.mkString(",\n") +
      // the sweep's replicated corpora need the sandbox's real memory:
      // the 8g default OOM'd p58's declared-quadratic x30 point in the
      // score aggregate (r14) — run with SPARK_DRIVER_MEM=96g; the
      // artifact records what the points were measured under
      s""",\n  "driver_mem": "${sys.env.getOrElse("SPARK_DRIVER_MEM",
        "8g")}",""" +
      s"""\n  "factors": [${Factors.mkString(",")}],""" +
      s"""\n  "x100_names": [${X100Names.toSeq.sorted
        .map("\"" + _ + "\"").mkString(",")}],""" +
      s"""\n  "x100_excluded": ${strMap(X100Excluded)},""" +
      s"""\n  "base": "$base",\n  "failed": [${
        failed.reverse.map("\"" + _ + "\"").mkString(",")}]\n}""")
    pw.close()
    println(s"[sweep] wrote $outJson; failed = ${failed.size}")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Bump when [[replicate]] changes what it writes: the version is
    * part of every replica's fingerprint, so old replicas are rebuilt.
    */
  private val ReplicatorVersion = 1

  /** The key-bearing tables [[replicate]] copies with offset keys. */
  private[graft] val ReplicatedKeys: Seq[(String, Seq[String])] = Seq(
    "documents" -> Seq("doc_id"), "embeddings" -> Seq("vec_id"),
    "events" -> Seq("event_id"), "orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey"))

  /** The dimension tables [[replicate]] copies through unchanged. */
  private[graft] val DimensionTables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part")

  /** The ×`factor` replica of the corpus at `base`, as a directory under
    * `root` that holds exactly what [[replicate]] writes for the base as
    * it is now. The `_READY` marker holds a fingerprint of the canonical
    * base path, every base table file's name, size and mtime, the factor
    * and [[ReplicatorVersion]]; a directory whose marker is missing or
    * holds another fingerprint is rebuilt, never returned. A build
    * writes into a temp sibling, writes the marker last, and only then
    * replaces the directory by a rename, so an interrupted build leaves
    * no directory that looks ready. The directory name carries a hash of
    * the canonical base path, so two bases never share a replica.
    */
  def replica(spark: SparkSession, base: String, factor: Int,
      root: String = "/tmp"): String = {
    val canon = new File(base).getCanonicalFile
    val fp = fingerprint(canon, factor)
    val out = new File(root,
      f"graft_scale_x${factor}_${canon.getName}_${canon.getPath.hashCode}%08x")
    val marker = new File(out, "_READY")
    if (marker.isFile && Files.readString(marker.toPath) == fp)
      return out.getPath
    System.err.println(s"[replica] building $canon x$factor -> $out")
    val tmp = new File(root, s".tmp-${out.getName}-${ProcessHandle.current.pid}")
    FileUtil.fullyDelete(tmp)
    replicate(spark, canon.getPath, tmp.getPath, factor)
    Files.writeString(new File(tmp, "_READY").toPath, fp)
    FileUtil.fullyDelete(out)
    Files.move(tmp.toPath, out.toPath, StandardCopyOption.ATOMIC_MOVE)
    out.getPath
  }

  private def fingerprint(base: File, factor: Int): String = {
    val files = (ReplicatedKeys.map(_._1) ++ DimensionTables).flatMap { t =>
      Using.resource(Files.walk(new File(base, s"$t.parquet").toPath))(
        _.iterator.asScala.filter(Files.isRegularFile(_)).toList)
        .sortBy(_.toString)
        .map(f => s"${base.toPath.relativize(f)} ${Files.size(f)} " +
          Files.getLastModifiedTime(f).toMillis)
    }
    (Seq(s"version $ReplicatorVersion", s"base ${base.getPath}",
      s"factor $factor") ++ files).mkString("", "\n", "\n")
  }

  /** Writes factor-replicated copies of the key-bearing tables with
    * disjoint id ranges; pure dimension tables copy through unchanged.
    * Facts: documents/embeddings/events by their id, orders+lineitem
    * by orderkey (consistently, so the join still matches within each
    * copy — customer/part/supplier stay dimensions and just get N×
    * hotter, which is the realistic fact-grows-dims-don't shape).
    * Exact replication gives every doc N−1 identical twins, so near-dup
    * pair volume grows ~N² for the dedup families (see [[Caps]]).
    */
  private def replicate(spark: SparkSession, base: String,
      out: String, factor: Int): Unit = {
    // The copy offset must clear EVERY replicated key or copies alias
    // (colliding ids corrupt join cardinalities and the sweep's fitted
    // exponents) — derive it from the observed max instead of a fixed
    // constant, rounded up to a power of 10 so replicated ids stay
    // readable. One tiny max() aggregate per table, paid once per run.
    val maxKey = ReplicatedKeys.map { case (name, keys) =>
      sources.Tables.table(spark, base, name)
        .agg(max(col(keys.head)).cast("long")).head.getLong(0)
    }.max
    var off = 100000000L
    while (off <= maxKey) off *= 10L
    val Off = off
    def rep(name: String, keys: Seq[String]): Unit = {
      val d = sources.Tables.table(spark, base, name)
      val copies = (0 until factor).map(i =>
        keys.foldLeft(d)((f, k) => f.withColumn(k, col(k) + lit(i * Off))))
      copies.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
    ReplicatedKeys.foreach { case (n, ks) => rep(n, ks) }
    for (t <- DimensionTables) {
      spark.read.parquet(s"$base/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
  }
}
