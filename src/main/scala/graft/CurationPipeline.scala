package graft

import graft.queries.{Catalog, Pipeline, Tier}

/** The composed curation pipeline — the 100 TB usage shape the
  * per-entry catalog contract hides (BASELINE.md "Composed-entry
  * recompute decision"): a production run materializes the shared
  * MinHash-LSH pair list ONCE and feeds every pair-list consumer from
  * it, where the driver's per-entry contract re-derives it per entry.
  *
  * `runMain graft.CurationPipeline [outDir]` runs the six consumers —
  * the entries the catalog declares `Tier.LshPairConsumer`: dup
  * clusters, calibration, leak-free split, leakage audit, split
  * contamination, longest common run — twice on SPARK_GRAFT_SF_DIR:
  *
  *  - STANDALONE: the catalog contract — caches released between
  *    entries, each consumer rebuilds the LSH pass itself (this is
  *    what Verify/Bench measure).
  *  - COMPOSED: [[queries.Pipeline.sharedLshPairs]] materializes the
  *    pair list + signature caches once, then all six consumers run
  *    WITHOUT cache release; each consumer's internal pair-list plan
  *    plan-matches the warm caches, so the LSH pass executes once
  *    per corpus.
  *
  * Outputs are written per consumer (parquet under outDir when given,
  * noop otherwise — results identical to the catalog entries by
  * construction: same plans, shared caches change execution only) and
  * ONE JSON line reports both walls per consumer plus the primer
  * cost, so the composed-vs-standalone saving is a recorded number
  * instead of a design claim.
  */
object CurationPipeline {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString).toInt
    val outDir = args.headOption
    val spark = GraftSession.create(s"local[$cpus]", cpus, "graft-curation")
    val consumers = Catalog.all.filter(_.tier == Tier.LshPairConsumer)
      .map(_.name)

    def materialize(n: String): Double = {
      val t0 = System.nanoTime()
      val df = Catalog.queries(n)(spark, sfDir)
      outDir match {
        case Some(d) => df.write.mode("overwrite").parquet(s"$d/$n.parquet")
        case None => Catalog.consume(df)
      }
      (System.nanoTime() - t0) / 1e9
    }
    def settle(): Unit = {
      Catalog.release(spark)
      System.gc()
    }

    // warmup off the measured path: one untimed pass of EVERY
    // consumer, so whole-stage-codegen compilation and JIT of the six
    // plans' generated classes are paid before either measured pass —
    // without this the standalone pass (which runs first) absorbs the
    // one-time compilation (~6-10 s at sf0.1 per the Bench/Verify
    // protocol) and the composed-vs-standalone saving conflates
    // LSH-pass sharing with compilation cost (r13 review finding).
    // settle() after the warmup returns both passes to cold caches.
    // a warmup failure is survivable (the measured passes may still
    // run) but must be VISIBLE (ADVICE r13): a silently skipped warmup
    // means the standalone pass re-absorbs codegen compilation and the
    // reported saving conflates exactly what the warmup excludes, so
    // the exception prints and the JSON carries "warmup_ok":false.
    val warmupOk = Catalog.warmup(spark, sfDir, consumers)

    // each measured pass carries its own ambient probes (the Bench/
    // StreamBench near-dup/Verify calib discipline): the two passes run
    // minutes apart in one JVM, so a co-tenant burst during exactly
    // one of them masquerades as (or masks) the composed saving
    def probes(): (Double, Double) =
      (AmbientProbe.onceOrRef(spark, cpus), AmbientProbe.diskOnce())

    // standalone: the per-entry contract — every consumer pays the
    // full LSH pass itself (cold caches, warm code)
    val (probeS, diskS) = probes()
    val standalone = consumers.map { n => settle(); n -> materialize(n) }

    // composed: prime the shared pair list, keep caches warm across
    // all six consumers
    settle()
    val (probeC, diskC) = probes()
    val t0 = System.nanoTime()
    val pairs = Pipeline.sharedLshPairs(spark, sfDir)
    val nPairs = pairs.count()
    val primerSec = (System.nanoTime() - t0) / 1e9
    val composed = consumers.map(n => n -> materialize(n))
    settle()

    def obj(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
        .mkString("{", ",", "}")
    val sumS = standalone.map(_._2).sum
    val sumC = composed.map(_._2).sum
    println(f"""{"metric":"curation_pipeline","unit":"sec",""" +
      f""""standalone_total":$sumS%.3f,""" +
      f""""composed_total":${primerSec + sumC}%.3f,""" +
      f""""primer_sec":$primerSec%.3f,"pairs":$nPairs,""" +
      s""""warmup_ok":$warmupOk,""" +
      f""""probe_standalone":$probeS%.3f,"disk_standalone":$diskS%.3f,""" +
      f""""probe_composed":$probeC%.3f,"disk_composed":$diskC%.3f,""" +
      s""""probe_ref":${AmbientProbe.ref},""" +
      s""""disk_ref":${AmbientProbe.diskRef},""" +
      s""""standalone":${obj(standalone)},"composed":${obj(composed)},""" +
      s""""sf":"$sfDir"}""")
    spark.stop()
  }
}
