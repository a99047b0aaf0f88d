package graft.kernel

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAll

/** Property-based invariants for the ensemble combination rules
  * (reference anomalyze.go:145-241): weight table, sensitivity
  * short-circuit, probability bounds.
  */
object EnsembleProps extends Properties("kernel.Ensemble") {

  // the gate property below needs room to hit its rare corners
  // (magnitude == sensitivity, negative reference means)
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(400)

  private val prob: Gen[Double] = Gen.chooseNum(0.0, 1.0)
  private val method: Gen[String] = Gen.oneOf(
    "magnitude", "fence", "cdf", "rank", "diff", "ks")
  private val probmap: Gen[Map[String, Double]] =
    Gen.mapOf(Gen.zip(method, prob))

  private val conf = AnomalyzerConf(
    delay = false, sensitivity = 0.1, upperBound = 5.0,
    lowerBound = None, activeSize = 1, nSeasons = 4,
    methods = Seq("magnitude"), permCount = 10)

  property("getWeight: 5.0 exactly for confident magnitude/fence, " +
    "0.5 otherwise") = forAll(method, prob) { (m, p) =>
    val w = Ensemble.getWeight(m, p)
    if ((m == "magnitude" || m == "fence") && p > 0.8) w == 5.0
    else w == 0.5
  }

  property("combine stays within [min, max] of the probabilities") =
    forAll(probmap) { pm =>
      val c = Ensemble.combine(pm, conf.copy(sensitivity = 0.0))
      if (pm.isEmpty) c == 0.0
      else {
        // sensitivity 0 disables the short-circuit (prob < 0 impossible)
        val (lo, hi) = (pm.values.min, pm.values.max)
        lo - 1e-12 <= c && c <= hi + 1e-12
      }
    }

  property("magnitude below sensitivity short-circuits to 0 no matter " +
    "what the other tests say") = forAll(probmap, prob) { (pm, mag) =>
    val sens = 0.5
    val out = Ensemble.combine(pm.updated("magnitude", mag),
      conf.copy(sensitivity = sens))
    if (mag < sens) out == 0.0
    else out >= 0.0
  }

  property("delay gate: short windows score 0, full windows score") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(-10.0, 10.0))) { xs =>
      val data = xs.toArray
      val c = conf.copy(delay = true, activeSize = 1)
      val rng = new PermDraw(1L, 1L)
      val gated = Ensemble.eval(
        data.take(math.max(c.windowSize - 1, 0)), c, rng)
      gated == 0.0
    }

  // windows for the gate: small-integer values (ties, zero and negative
  // reference means), NaN/±Inf, any length from empty to one past full
  private val gateValue: Gen[Double] = Gen.frequency(
    8 -> Gen.choose(-3, 6).map(_.toDouble),
    3 -> Gen.chooseNum(-50.0, 50.0),
    1 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity))

  private val gateCase: Gen[(Array[Double], AnomalyzerConf)] = for {
    a <- Gen.choose(1, 3)
    seasons <- Gen.choose(1, 3)
    len <- Gen.choose(0, (seasons + 1) * a + 1)
    w <- Gen.listOfN(len, gateValue).map(_.toArray)
    zeroRef <- Gen.frequency(4 -> false, 1 -> true)
    keep <- Gen.listOfN(7, Gen.frequency(3 -> true, 1 -> false))
    order <- Gen.listOfN(7, Gen.choose(0, 1 << 20))
    magLast <- Gen.oneOf(false, true)
    sens <- Gen.oneOf(-0.1, 0.0, 0.1, 0.5, 1.0, 1.5, Double.NaN)
    delay <- Gen.oneOf(false, true)
  } yield {
    if (zeroRef) { // reference mean 0; active window untouched
      var i = 0
      while (i < w.length - a) { w(i) = 0.0; i += 1 }
    }
    // a random subset of the tests in random order
    val methods = AnomalyzerConf.SupportedMethods.zip(keep).zip(order)
      .filter(_._1._2).sortBy(_._2).map(_._1._1)
    val ms = if (magLast && methods.contains("magnitude"))
      methods.filter(_ != "magnitude") :+ "magnitude" else methods
    val c0 = AnomalyzerConf(delay = delay, upperBound = 5.0,
      activeSize = a, nSeasons = seasons, permCount = 20, methods = ms)
    // NaN stands for "sensitivity == this window's capped magnitude"
    val s = if (!sens.isNaN) sens else
      Tests.magnitude(w, c0).map(Vec.cap(_, 0, 1)).filterNot(_.isNaN)
        .getOrElse(0.1)
    (w, c0.copy(sensitivity = s))
  }

  property("eval == Delay gate + combine(evalByTest), bitwise") =
    forAll(gateCase, Gen.choose(0L, 1L << 40), Gen.choose(1L, 1000L)) {
      case ((w, c), sh, rk) =>
        val got = Ensemble.eval(w, c, new PermDraw(sh, rk))
        val full =
          if (c.delay && w.length < c.windowSize) 0.0
          else Ensemble.combine(Ensemble.evalByTest(w, c,
            new PermDraw(sh, rk)), c)
        Prop(java.lang.Double.doubleToRawLongBits(got) ==
          java.lang.Double.doubleToRawLongBits(full)) :|
          s"eval $got != full $full for ${w.mkString("[", ",", "]")} $c"
    }
}
