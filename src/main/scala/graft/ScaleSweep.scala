package graft

import java.io.{File, PrintWriter}
import java.nio.file.{Files, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.fs.FileUtil
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.queries.{Catalog, Sweep}

/** Multi-point scale regression gate: times each swept entry at
  * 1×/3×/10×/30× replicated corpora ([[replica]] of the sf0.1
  * base; a heavy-graded tier adds a 100× point), fits the scaling
  * exponent α in t ≈ c·nᵅ by least squares over (log n, log t), and
  * FAILS (exit 1) when α exceeds the entry's cap — turning the old
  * one-point "at-or-below linear" eyeball into a recorded, re-runnable
  * artifact. What is swept, each entry's cap and its 100× decision are
  * declared on the catalog entries (`queries.Tier`, `queries.Sweep`):
  * every bench entry is swept by construction, and a declared cap above
  * linear carries either the 100× point or its written exclusion.
  *
  * `runMain graft.ScaleSweep [outJson] [name ...]` — defaults:
  * `SCALE_SWEEP.json` in the cwd, every swept entry (bench entries
  * first); a short name list is the quick linearity smoke for a plan
  * change. Each point is the best of 2 timed runs after one warmup (the
  * same discipline as Bench), with the entry boundary released between
  * points so no point rides another's state.
  *
  * Reading the fit: fixed per-query overhead (session, planning,
  * small-dim scans) deflates α below 1 for sub-second entries — a
  * SAFE bias for a gate that only fires on α ABOVE cap. Exact
  * replication gives every doc N−1 identical twins, so near-dup
  * PAIR OUTPUT grows ~N² by construction for the dedup families —
  * their caps encode that expectation (`Sweep.QuadraticCap`).
  *
  * One enumeration gate runs BEFORE any timing (VERDICT r13 #2 — the
  * p28 lesson applied to the sweep itself: a "not in the sweep"
  * comment is a claim nothing tests): every budget-top entry (sf0.1
  * Verify budget ≥ [[BudgetTopThresholdSec]], read from
  * tools/budgets_sf01.json) must be swept. The same check is pinned in
  * CI (SweepCoverageSpec) so a new heavy entry fails the build, not
  * just the next sweep run.
  */
object ScaleSweep {

  /** Every swept entry times these points (×30 catalog-wide since
    * r14: the 1×/3×/10× fits over sf0.1 rest on one decade, where a
    * latent super-linear term — spill, skew, state growth — can hide
    * inside the noise; the second decade separates it).
    */
  private val Factors = Seq(1, 3, 10, 30)

  private val X100Factor = 100

  /** Budget-table entries at or above this sf0.1 wall (seconds) are
    * "budget-top": heavy enough that their 100 TB behavior must be
    * fitted, not assumed — the sweep fails fast if one is not swept.
    */
  val BudgetTopThresholdSec = 2.5

  /** Every swept entry with its fit: the bench entries, then the rest,
    * each group in catalog order.
    */
  lazy val swept: Seq[(String, Sweep)] = {
    val (bench, rest) = Catalog.all.partition(_.bench.isDefined)
    (bench ++ rest).flatMap(e => e.tier.swept.map(e.name -> _))
  }

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

  /** The enumeration gate (VERDICT r13 #2), shared by main() and CI:
    * returns human-readable failures, empty = covered.
    */
  def coverageErrors(budgetPath: String = "tools/budgets_sf01.json")
      : Seq[String] = {
    val listed = swept.map(_._1).toSet
    budgetTopNames(budgetPath).filterNot(listed).map(n =>
      s"$n is budget-top-graded (sf0.1 budget >= " +
        s"$BudgetTopThresholdSec s) but declares no sweep")
  }

  def main(args: Array[String]): Unit = {
    val outJson = args.headOption.getOrElse("SCALE_SWEEP.json")
    val names: Seq[String] =
      if (args.length > 1) args.drop(1).toSeq else swept.map(_._1)
    // the enumeration gate fails BEFORE any timing: a sweep that silently
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
    // an entry named on the command line that declares no sweep is
    // fitted under the linear cap
    def sweepOf(name: String): Sweep =
      swept.toMap.getOrElse(name, Sweep.Linear)
    def factorsFor(name: String): Seq[Int] =
      if (sweepOf(name).x100) Factors :+ X100Factor else Factors

    def time(name: String, dir: String): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        Catalog.consume(Catalog.queries(name)(spark, dir))
        (System.nanoTime() - t0) / 1e9
      }
      // settled heap before the warm run: the 10x/30x/100x points of
      // earlier entries leave GC fragmentation behind that otherwise
      // inflates the NEXT entry's small-n points (deflating its fitted
      // exponent — the unsafe direction for a gate that fires on alpha
      // ABOVE cap); same discipline as Bench blocks
      Catalog.release(spark)
      System.gc()
      once() // warm
      val t = math.min(once(), once())
      Catalog.release(spark)
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
        val cap = sweepOf(n).cap
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
    def strMap(m: Seq[(String, String)]): String =
      m.sortBy(_._1).map { case (k, v) =>
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
      s"""\n  "x100_names": [${swept.collect { case (n, w) if w.x100 => n }
        .sorted.map("\"" + _ + "\"").mkString(",")}],""" +
      s"""\n  "x100_excluded": ${strMap(swept.collect {
        case (n, Sweep.QuadraticNoX100(why)) => n -> why })},""" +
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
    * pair volume grows ~N² for the dedup families
    * (`Sweep.QuadraticCap`).
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
