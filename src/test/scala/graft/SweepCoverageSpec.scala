package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{Catalog, Sweep}

/** CI twin of ScaleSweep's run-time enumeration gate (VERDICT r13
  * #2 — the p28 lesson applied to the sweep itself): every budget-top
  * entry must be swept. Pinned here so adding a heavy catalog entry
  * fails `sbt test` immediately, not the next time someone happens to
  * run the sweep. The tier rules the types cannot state are checked
  * here too.
  */
class SweepCoverageSpec extends AnyFunSuite {

  test("sweep list + exclusions cover bench and budget-top; declared " +
    "caps are swept and x100-adjudicated") {
    val errs = ScaleSweep.coverageErrors()
    assert(errs.isEmpty, errs.mkString("\n"))
  }

  test("the budget-top gate names an unswept entry at or above the " +
    "threshold, and only that one") {
    val unswept = Catalog.all.filter(_.tier.swept.isEmpty).map(_.name)
    assert(unswept.size >= 2)
    val Seq(heavy, light) = unswept.take(2)
    val at = ScaleSweep.BudgetTopThresholdSec
    val budgets = Files.createTempFile("budgets", ".json")
    try {
      Files.writeString(budgets,
        s"""{"$heavy": $at, "$light": ${at - 0.1}}""")
      val errs = ScaleSweep.coverageErrors(budgets.toString)
      assert(errs.size === 1, errs.mkString("\n"))
      assert(errs.head.startsWith(s"$heavy "), errs.head)
    } finally Files.delete(budgets)
  }

  test("every x100 exclusion gives a reason") {
    val blank = ScaleSweep.swept.collect {
      case (n, Sweep.QuadraticNoX100(why)) if why.trim.isEmpty => n }
    assert(blank.isEmpty, s"x100 exclusions without a reason: $blank")
  }

  test("the bench list has a core set and a heavy tier") {
    val tiers = Catalog.all.flatMap(_.bench)
    assert(tiers.exists(_.core) && tiers.exists(_.heavy))
  }
}
