package graft.kernel

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAll
import org.scalatest.funsuite.AnyFunSuite

/** The KS bootstrap on a pinned example; the loop parity pins are
  * [[KsParityProps]] below.
  */
class KsParitySpec extends AnyFunSuite {

  private val conf = AnomalyzerConf(activeSize = 2, nSeasons = 4,
    permCount = 200, methods = Seq("ks"))

  test("p-values over a step-change window detect the shift") {
    val flat = Array(10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.2, 10.0,
      30.0, 31.0) // active window jumps
    val p = Tests.bootstrapKs(flat, conf, new PermDraw(7L, 1L)).get
    assert(p > 0.9, s"KS bootstrap should flag the level shift, got $p")
  }
}

/** Pins the pooled KS permutation loop (the fast path every evaluator
  * hits) draw identity for draw identity:
  *
  *  - on FINITE windows it equals the general loop ([[Tests.generalKsLoop]],
  *    the independent sort-and-ECDF [[Tests.ksCore]] path) EXACTLY:
  *    identical md5-keyed subsets, identical counts and divisions;
  *  - on windows with NaN or ±Inf it equals the per-grid loop it
  *    replaced ([[Tests.perGridKsLoop]]). There the general loop is no
  *    oracle: it already differed from the pooled loop on NaN-bearing
  *    windows before the run-endpoint loop existed (236 of 200k fuzzed
  *    windows), because sorting places NaN where a `<=` count never
  *    sees it, so "exactly" holds for finite data only.
  *
  * Windows cover n2 in 1..6 with n1 = k·n2, ties, constant windows, ulp
  * ties and ±MaxValue.
  */
object KsParityProps extends Properties("kernel.KsParity") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(300)

  private def window(n: Int): Gen[Array[Double]] = Gen.oneOf(
    // rounded values: ties are common
    Gen.listOfN(n, Gen.choose(0, 40).map(_ / 4.0)),
    // constant window
    Gen.chooseNum(-1e6, 1e6).map(x => List.fill(n)(x)),
    // ulp ties around one value
    Gen.chooseNum(-1e3, 1e3).flatMap(x => Gen.listOfN(n,
      Gen.oneOf(x, math.nextUp(x), math.nextDown(x)))),
    // extremes: the grid step overflows to +Inf
    Gen.listOfN(n, Gen.oneOf(Gen.const(Double.MaxValue),
      Gen.const(-Double.MaxValue), Gen.chooseNum(-1.0, 1.0))),
    Gen.listOfN(n, Gen.chooseNum(-1e4, 1e4))).map(_.toArray)

  private val finiteCase: Gen[(Array[Double], Int)] = for {
    n2 <- Gen.choose(1, 6)
    k <- Gen.choose(1, 4)
    v <- window(n2 * (k + 1))
  } yield (v, n2)

  // at least one non-finite value, placed anywhere (often in the
  // active tail, so the split is uneven)
  private val nonFiniteCase: Gen[(Array[Double], Int)] = for {
    (v, n2) <- finiteCase
    hits <- Gen.choose(1, 3)
    pos <- Gen.listOfN(hits, Gen.frequency(
      1 -> Gen.choose(0, v.length - 1),
      1 -> Gen.choose(v.length - n2, v.length - 1)))
    vals <- Gen.listOfN(hits, Gen.oneOf(Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity))
  } yield {
    pos.zip(vals).foreach { case (p, x) => v(p) = x }
    (v, n2)
  }

  private val draw: Gen[(Long, Long)] =
    Gen.zip(Gen.choose(0L, 1L << 60), Gen.choose(1L, 1L << 20))

  private def ksConf(v: Array[Double], n2: Int) = AnomalyzerConf(
    activeSize = n2, nSeasons = v.length / n2 - 1, permCount = 64,
    methods = Seq("ks"))

  private def show(v: Array[Double]) = v.mkString("[", ",", "]")

  property("finite: pooled loop == general loop") =
    forAll(finiteCase, draw) { case ((v, n2), (sh, rk)) =>
      val conf = ksConf(v, n2)
      val pooled = Tests.bootstrapKs(v, conf, new PermDraw(sh, rk)).get
      val (ref0, act0) = Vec.extractWindows(v, conf.referenceSize,
        conf.activeSize, conf.activeSize).get
      val general = Tests.generalKsLoop(v, ref0.length, n2,
        Tests.ksCore(ref0, act0), conf, new PermDraw(sh, rk))
        .toDouble / conf.permCount
      Prop(pooled == general) :| s"$pooled != $general on ${show(v)}"
    }

  property("NaN/Inf: pooled loop == per-grid loop") =
    forAll(nonFiniteCase, draw) { case ((v, n2), (sh, rk)) =>
      val conf = ksConf(v, n2)
      val (ref0, act0) = Vec.extractWindows(v, conf.referenceSize,
        conf.activeSize, conf.activeSize).get
      val dist = Tests.ksCore(ref0, act0)
      val pooled = Tests.pooledKsLoop(v, ref0, act0, dist, conf,
        new PermDraw(sh, rk))
      val perGrid = Tests.perGridKsLoop(v, Tests.poolGrid(ref0, act0), n2,
        dist, conf, new PermDraw(sh, rk))
      Prop(pooled == perGrid) :| s"$pooled != $perGrid on ${show(v)}"
    }
}
