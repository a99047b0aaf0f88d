package graft.queries

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.EntryCaches

/** One declared query: the Spark implementation plus (when the
  * semantics are SQL-expressible) the equivalent DuckDB oracle SQL the
  * driver hash-compares against. Column names/aliases MUST match
  * between the two — the comparison sorts columns by name.
  *
  * Determinism discipline for oracle-checked queries:
  *  - money/qty sums: per-row CAST to DECIMAL(18,2), sum exactly, CAST
  *    the total back to DOUBLE (identical in both engines);
  *  - averages/probabilities: IEEE arithmetic in identical expression
  *    order, then round(6);
  *  - any LIMIT carries a total ORDER BY.
  *
  * `tier` says which harnesses time the entry (see [[Tier]]); every
  * harness derives its list from these declarations and names no entry.
  */
final case class Entry(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    tier: Tier = Tier.Untimed) {
  def bench: Option[Tier.Bench] = Some(tier).collect { case b: Tier.Bench => b }
}

/** How `graft.ScaleSweep` fits an entry: the cap on its fitted scaling
  * exponent α (t ≈ c·nᵅ over the ×1/×3/×10/×30 replicas) and whether it
  * also times the ×100 point. The ×100 point is for the heavy-graded
  * tier — the budget-table top and the scale-path flagships — two
  * decades past the base corpus, where spill, skew or state growth that
  * a ×10 fit cannot see actually shows. The quadratic cap must decide
  * the ×100 point either way: time it ([[Sweep.Quadratic]]) or write
  * the projected-cost reason it is left out ([[Sweep.QuadraticNoX100]]).
  */
sealed abstract class Sweep(val cap: Double, val x100: Boolean)

object Sweep {

  /** Linear plus measurement headroom. Sub-second entries fit well
    * below 1; anything genuinely linear lands ≲1.1 even with noisy
    * small-n points.
    */
  val LinearCap = 1.30

  /** The cap for work or output that LEGITIMATELY grows ~N² under
    * exact ×N replication (every doc gains N−1 identical twins). These
    * are output-volume facts of the synthetic corpus, not plan
    * defects — a real corpus does not replicate every document. The
    * gate still catches a dedup plan going accidentally all-pairs,
    * because that blows past even this cap via the candidate side.
    */
  val QuadraticCap = 2.2

  case object Linear extends Sweep(LinearCap, x100 = false)
  case object LinearX100 extends Sweep(LinearCap, x100 = true)
  case object Quadratic extends Sweep(QuadraticCap, x100 = true)
  final case class QuadraticNoX100(reason: String)
      extends Sweep(QuadraticCap, x100 = false)
}

/** Which harnesses time an entry. `graft.Verify` and `graft.DbgPlan`
  * run every entry whatever its tier.
  */
sealed abstract class Tier(val swept: Option[Sweep])

object Tier {

  /** Timed by neither `graft.Bench` nor `graft.ScaleSweep`. */
  case object Untimed extends Tier(None)

  /** Fitted by `graft.ScaleSweep`, not timed by `graft.Bench`: the top
    * of the Verify budget table, whose ×100 behavior the bench-set
    * sweep never fitted.
    */
  final case class Swept(sweep: Sweep) extends Tier(Some(sweep))

  /** Timed by `graft.Bench`, and so fitted by `graft.ScaleSweep` too.
    *
    * `core`: the FIXED round-5 query set. It runs first in every bench
    * run, in a young clean heap, and is summed on its own
    * (`value_core`), so round-over-round totals stay apples-to-apples
    * as the bench list grows (the r5→r6 headline went 15 s → 83 s
    * purely because the list grew 9 → 17).
    *
    * `heavy`: the ×N tier `SPARK_GRAFT_BENCH_XN` times on a replicated
    * corpus — the entries whose sf0.1 medians top the bench and whose
    * scale behavior is under study.
    */
  final case class Bench(sweep: Sweep = Sweep.Linear, core: Boolean = false,
      heavy: Boolean = false) extends Tier(Some(sweep))

  /** Reads the shared MinHash-LSH pair list (components, calibration,
    * splits, leakage audit, per-pair runs): `graft.CurationPipeline`'s
    * consumers, which it feeds from one materialized pair list. Their
    * pair count inflates ~N² under exact replication exactly like p04
    * itself, bounded by the same df/occupancy caps, so they are swept
    * at the quadratic cap and at ×100 (budget-top tier added in r12).
    */
  case object LshPairConsumer extends Tier(Some(Sweep.Quadratic))
}

object Catalog {
  lazy val all: Seq[Entry] = Relational.entries ++ Anomaly.entries ++ Pipeline.entries

  // ListMap: iteration (and thus Verify's run order and timings.json)
  // follows catalog declaration order. A plain .toMap hash-scrambles
  // it, so which entry ran first — and absorbed the fresh-JVM warmup
  // into its recorded wall-time budget — was arbitrary per build.
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    scala.collection.immutable.ListMap(all.map(e => e.name -> e.run): _*)

  lazy val oracleSql: Map[String, String] =
    scala.collection.immutable.ListMap(
      all.flatMap(e => e.oracle.map(e.name -> _)): _*)

  /** Fully materializes `df` through the noop sink, so no count-only
    * shortcut can flatter a timing.
    */
  def consume(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Untimed JVM/session warmup: the cheapest entry, then `names`, each
    * consumed once on `dir` (by default the smallest generated corpus),
    * so the first timed entry does not pay classloading and
    * whole-stage-codegen compilation. A non-fatal failure is printed and
    * returned as `false`, never thrown: a skipped warmup degrades the
    * timings that follow, and must show.
    */
  def warmup(spark: SparkSession, dir: String = "/root/testdata/sf0.001",
      names: Seq[String] = Nil): Boolean =
    try {
      ("q01_agg" +: names).foreach(n => consume(queries(n)(spark, dir)))
      true
    } catch {
      case e if NonFatal(e) =>
        System.err.println("[warmup] FAILED — the first timed entry " +
          s"absorbs classloading and codegen compilation: $e")
        false
    }

  /** The entry boundary: drops the caches an entry tracked
    * (`EntryCaches`), then anything it cached untracked. A harness calls
    * it after consuming an entry, so the next one starts from clean
    * storage.
    */
  def release(spark: SparkSession): Unit = {
    EntryCaches.releaseAll()
    spark.catalog.clearCache()
  }
}
