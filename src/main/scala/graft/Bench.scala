package graft

import graft.queries.Catalog

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line with per-query seconds. The bench list, its
  * fixed core set (timed first) and the heavy ×N tier are declared on
  * the catalog entries (`Tier.Bench`); this main names no entry.
  * Results are fully materialized through the noop sink so count-only
  * shortcuts can't flatter the numbers.
  *
  * Each query runs SPARK_GRAFT_BENCH_RUNS times (default 5) and reports
  * the per-query MEDIAN (plus min, under "queries_min") so a 2x gate or
  * a regression claim is adjudicable against the measured ~±1s
  * run-to-run variance of a single run. "value" = sum of medians.
  * Noise hardening for shared hosts: the graded core set measures
  * first (clean heap), every block starts after clearCache+GC, and a
  * block whose median lands > 1.5x its own min re-measures once and
  * reports the quieter block's median (min spans all observed runs).
  * Every block additionally records a LOCAL ambient probe
  * ("calib_blocks" = MIN of one probe before the warmup and one after
  * the timed runs), and the summary emits per-query block-normalized
  * medians ("queries_norm" = median x calib_ref / block probe) —
  * run-level probes cannot attribute a mid-run co-tenant burst to the
  * block it hit, so cross-round regression claims are adjudicated on
  * queries_norm (trustworthy for ~2x-class bursts, not 10-20%
  * thresholds: the min-bracket bounds single-probe jitter, but a
  * burst strictly between the probes stays invisible).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString).toInt
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt.max(1)
    // the entries to time instead of the default list (the driver sets
    // nothing): any catalog names, checked before the session starts so
    // a typo fails the run instead of timing nothing
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq.distinct)
      .filter(_.nonEmpty)
    val unknown = only.toSeq.flatten.filterNot(Catalog.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println("[bench] SPARK_GRAFT_BENCH_ONLY names no catalog " +
        s"entry: ${unknown.mkString(", ")}")
      sys.exit(1)
    }
    val spark = GraftSession.create(s"local[$cpus]", cpus, "graft-bench")

    // xN replicated-scale mode (VERDICT r14 #2): at sf0.1 every bench
    // query is scheduling-overhead-bound at 32 cores — the r14 8-core
    // TOTAL (14.70 s) beat the 32-core total (17.23 s) — so 32-core
    // deltas at that SF partly measure constant overhead, not the
    // scale behavior the engine is built for. SPARK_GRAFT_BENCH_XN=10
    // times the HEAVY tier against a 10x key-offset replication of
    // the corpus (ScaleSweep.replica, cached in /tmp across runs),
    // the scale point where parallel wins are adjudicable. The driver
    // never sets this env, so default behavior is unchanged; the mode
    // emits the one-line JSON plus an "xn" field, with "sf" naming the
    // replicated dir it actually timed, and without the core-set
    // fields: the heavy tier leaves most of the core set unrun, so they
    // would describe another query set under the same names.
    val xn = sys.env.get("SPARK_GRAFT_BENCH_XN").flatMap(_.toIntOption)
      .filter(_ >= 2)
    val benchDir = xn.fold(sfDir)(ScaleSweep.replica(spark, sfDir, _))

    def materialize(name: String): Double = {
      val t0 = System.nanoTime()
      try Catalog.consume(Catalog.queries(name)(spark, benchDir))
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    // JVM/session warmup on the smallest SF so the first measured query
    // doesn't pay classloading + codegen compilation
    Catalog.warmup(spark)

    // Ambient-noise calibration probe (VERDICT r10 #2): the FIXED
    // shared workload in [[AmbientProbe]]. Untouched queries drifted
    // 14-26% between rounds with zero code change and two same-day
    // runs differed 30% on the core sum; this probe turns that drift
    // into a measured factor instead of an unattributable table delta.
    // Measured once before the core block and once after the full
    // list; the summary reports both plus normalized sums
    // (value / (calib / calib_ref)).
    def calibrate(): Double = AmbientProbe.once(spark, cpus)
    // quiet-host reference for THIS probe, recorded round 11 (median
    // of three calibBlock() medians on an otherwise-idle 32-core
    // builder). Re-record ONLY when the probe workload itself changes.
    val CalibRef = sys.env.get("SPARK_GRAFT_CALIB_REF")
      .map(_.toDouble).getOrElse(0.55)
    // a calibration failure must never take the bench JSON down with
    // it (the driver's whole round reads that one line): fall back to
    // the reference, i.e. a neutral factor of 1.0
    def calibBlock(): Double = try {
      spark.catalog.clearCache(); System.gc()
      calibrate() // warmup (codegen for the probe itself)
      val xs = (1 to 3).map(_ => calibrate())
      val m = xs.sorted.apply(1)
      if (m > 0 && java.lang.Double.isFinite(m)) m else CalibRef
    } catch {
      case e if scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] calibration failed: ${e.getMessage}")
        CalibRef
    }

    // per query: one untimed warmup, then `runs` consecutive timed
    // runs. The warmup absorbs the one-off costs a long-lived engine
    // never pays per query — whole-stage-codegen compilation, JIT of
    // the generated classes, parquet footer reads — so the median is
    // the steady-state time. Consecutive (not round-robin) because
    // interleaving nine query plans thrashes the 100-entry codegen
    // class cache and was re-paying compilation inside the measured
    // runs (observed as median ~= 2x min on every query).
    // the bench list, its fixed core set and its xN heavy tier, all
    // declared on the entries (Tier.Bench)
    val tiers = Catalog.all.flatMap(e => e.bench.map(e.name -> _))
    val bench = tiers.map(_._1)
    val coreSet = tiers.collect { case (n, t) if t.core => n }.toSet
    // SPARK_GRAFT_BENCH_ONLY picks exactly what runs, in either mode
    // (bench names in bench order, then the others as given); unset,
    // xN mode times the heavy tier and the default mode the bench list
    val listed = only match {
      case Some(ns) => bench.filter(ns.contains) ++ ns.filterNot(bench.contains)
      case None => tiers.collect { case (n, t) if xn.isEmpty || t.heavy => n }
    }
    // The fixed core set runs FIRST, in a young clean heap: the heavy
    // allocators outside it (bigram census, dup-span, PageRank) leave
    // GC fragmentation behind that otherwise inflates whatever runs
    // after them on a memory-tight host — the graded core should never
    // pay for a non-core query's heap damage.
    val names = listed.filter(coreSet) ++ listed.filterNot(coreSet)
    // per-BLOCK ambient probe (VERDICT r12 #1): one calibrate() run
    // immediately before each query's block. The run-level
    // calib/calib_end pair provably cannot attribute a mid-run
    // co-tenant burst to the block it hit (p52 flipped >2x twice on
    // plan-neutral code; r12's own close note caught a burst the
    // bracketing probes missed), so every block records its LOCAL
    // ambient and the summary emits block-normalized medians — a
    // regression claim is adjudicated against queries_norm, not raw.
    // The block is BRACKETED by two probes and normalized by their MIN
    // (ADVICE r13: a single pre-warmup probe's jitter, or a burst
    // starting after it, propagated 1:1 into queries_norm). The min is
    // the quietest ambient estimate around the block — a probe that
    // reads HIGH (burst hit the probe itself) would DEFLATE the
    // normalized median, so taking the min is the conservative,
    // regression-visible direction. queries_norm remains an
    // attribution tool for ~2x-class bursts, not a 10-20% regression
    // threshold: a burst confined strictly between the two probes is
    // still invisible to both.
    def block(n: String): (Double, Seq[Double]) = {
      // start each query from a clean cache + settled heap: accumulated
      // persists and garbage from EARLIER queries otherwise cause
      // eviction churn / GC pauses mid-measurement (observed as median
      // ~4x min on later queries). The query's own warmup rebuilds its
      // intermediates, so the timed runs measure warm steady state.
      Catalog.release(spark)
      System.gc()
      def probeOnce(): Double = try calibrate() catch {
        case e if scala.util.control.NonFatal(e) => CalibRef
      }
      val pre = probeOnce()
      materialize(n)
      val timed = (1 to runs).map(_ => materialize(n))
      val post = probeOnce()
      (math.min(pre, post), timed)
    }
    def blockMedian(xs: Seq[Double]): Double = {
      val ok = xs.filter(_ >= 0)
      if (ok.isEmpty) -1.0 else ok.sorted.apply((ok.size - 1) / 2)
    }
    // per query: (median of the quietest measured block, min over ALL
    // observed runs). One re-measure when a block's median sits far
    // above its own min: that shape means co-tenant/GC noise landed
    // inside the window (the floor proves the steady state is faster),
    // so the block runs once more and the quieter block's median is
    // reported — the same outlier-retry discipline CatalogCostSpec
    // applies. The lower median is always an actually-observed time.
    val calibStart = calibBlock()
    val samples: Map[String, (Double, Double, Double)] = names.map { n =>
      val (probe0, first) = block(n)
      val med0 = blockMedian(first)
      val min0 = first.filter(_ >= 0).minOption.getOrElse(-1.0)
      val (med, mn, probe) =
        if (med0 >= 0 && min0 > 0 && med0 > 1.5 * min0) {
          val (probe1, second) = block(n)
          val med1 = blockMedian(second)
          val min1 = second.filter(_ >= 0).minOption.getOrElse(min0)
          // the reported median and the reported probe come from the
          // SAME (quieter) block, so queries_norm stays coherent
          val takeSecond = med1 >= 0 && med1 < med0
          (if (takeSecond) med1 else med0,
            math.min(min0, if (min1 > 0) min1 else min0),
            if (takeSecond) probe1 else probe0)
        } else (med0, min0, probe0)
      n -> ((med, mn, probe))
    }.toMap
    val med = names.map(n => n -> samples(n)._1)
    val mins = names.map(n => n -> samples(n)._2)
    val probes = names.map(n => n -> samples(n)._3)
    // block-normalized medians: median x calib_ref / block probe —
    // the number a cross-round regression claim is judged against
    val medNorm = names.map { n =>
      val (m, _, p) = samples(n)
      n -> (if (m >= 0 && p > 0) m * CalibRef / p else m)
    }
    // Truncation hardening (VERDICT r14 #6): BENCH_r13's one-line JSON
    // was cut off in the driver's tail-capture window — the line grew
    // a new per-query map every round until it outgrew the window,
    // which silently cost r14 its round-over-round comparison. The
    // line keeps the contract fields (metric/value/unit/queries/sf)
    // plus the block-normalized medians (the adjudication map), both
    // at 6-decimal precision; the long tail — per-query minima, block
    // probes, full precision — moves to the bench_detail.json sidecar.
    def r6(v: Double): Double = math.rint(v * 1e6) / 1e6
    def obj(kvs: Seq[(String, Double)], rounded: Boolean = false): String =
      kvs.map { case (k, v) =>
        "\"" + k + "\":" + (if (rounded && v >= 0) r6(v) else v) }
        .mkString("{", ",", "}")
    val total = med.map(_._2).filter(_ >= 0).sum
    // value_min (sum of per-query minima) rides along because the
    // driver host is shared: medians absorb co-tenant noise runs, the
    // min is the reproducible steady-state floor a regression claim
    // should be judged against
    val totalMin = mins.map(_._2).filter(_ >= 0).sum
    val totalCore = med.collect {
      case (n, v) if coreSet(n) && v >= 0 => v }.sum
    // core_missing names any core query absent from this run (filtered
    // out or failed, median -1): a hole in the core sum must be VISIBLE,
    // or a core query regressing to failure reads as a speedup
    val coreMissing = (coreSet -- med.collect {
      case (n, v) if v >= 0 => n }.toSet).toSeq.sorted
    val calibEnd = calibBlock()
    // normalization: the core set runs first, so its ambient factor is
    // calibStart's; the full list spans the run, so its factor is the
    // mean of the two probes. A normalized number ~equal to last
    // round's normalized number means "no real change" even when the
    // raw medians moved 25% with the host.
    val coreNorm = totalCore * CalibRef / calibStart
    val totalNorm = total * CalibRef / ((calibStart + calibEnd) / 2)
    def core(field: String): String = if (xn.isEmpty) field else ""
    val head =
      s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,""" +
      s""""value_min":$totalMin,""" + core(s""""value_core":$totalCore,""") +
      s""""calib":${r6(calibStart)},"calib_end":${r6(calibEnd)},""" +
      s""""calib_ref":$CalibRef,""" +
      core(s""""value_core_norm":${r6(coreNorm)},""") +
      s""""value_norm":${r6(totalNorm)},""" +
      core(s""""core_queries":${coreSet.size - coreMissing.size},""" +
        s""""core_missing":${coreMissing.map("\"" + _ + "\"")
          .mkString("[", ",", "]")},""") +
      xn.map(f => s""""xn":$f,""").getOrElse("")
    // sidecar with the full-precision tail the line no longer carries
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sys.env.getOrElse(
        "SPARK_GRAFT_BENCH_DETAIL", "bench_detail.json")),
      head + s""""queries":${obj(med)},"queries_min":${obj(mins)},""" +
        s""""calib_blocks":${obj(probes)},""" +
        s""""queries_norm":${obj(medNorm)},"sf":"$benchDir"}""")
    catch {
      case e if scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] sidecar write failed: ${e.getMessage}")
    }
    println(head +
      s""""queries":${obj(med, rounded = true)},""" +
      s""""queries_norm":${obj(medNorm, rounded = true)},""" +
      s""""sf":"$benchDir"}""")
    spark.stop()
  }
}
