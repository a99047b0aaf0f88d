package graft.kernel

/** Ensemble evaluation: run the configured tests over the window and
  * combine per-test probabilities into one anomaly probability by a
  * weighted mean, with the reference's exact fine print — cap to [0,1],
  * NA drop, highrank/lowrank folded to max under "rank", magnitude
  * sensitivity short-circuit, NaN→0 guard.
  *
  * [[eval]] applies the sensitivity short-circuit BEFORE running the
  * other tests: when the capped magnitude alone already decides a 0,
  * the permutation bootstraps are skipped. The result is bit-identical
  * to `combine(evalByTest(...))` because both sides share
  * [[belowSensitivity]], the tests are pure, and [[PermDraw]] addresses
  * draws per family and position, so skipping a family shifts no other
  * family's draws. [[evalByTest]] still runs every test.
  * Reference: /root/reference/anomalyze.go:142-241.
  */
object Ensemble {

  /** Per-test probabilities (the reference's EvalByTest probmap,
    * anomalyze.go:195-221). `conf` must already be validated.
    */
  def evalByTest(data: Array[Double], conf: AnomalyzerConf,
      draw: PermDraw): Map[String, Double] = {
    var probmap = Map.empty[String, Double]
    conf.methods.foreach { method =>
      val prob = Tests.Algorithms(method)(data, conf, draw)
        .map(p => Vec.cap(p, 0, 1))
      prob.foreach { p =>
        if (method == "highrank" || method == "lowrank") {
          // fold both rank directions to their max under one key
          // (anomalyze.go:156-166); the NaN guard upstream is dead code
          probmap = probmap.updated("rank",
            math.max(probmap.getOrElse("rank", 0.0), p))
        } else probmap = probmap.updated(method, p)
      }
    }
    probmap
  }

  /** Per-test ensemble weights: base 0.5; magnitude/fence upweighted to
    * 5.0 when their probability exceeds 0.8 (anomalyze.go:225-241).
    */
  def getWeight(name: String, prob: Double): Double =
    if ((name == "magnitude" || name == "fence") && prob > 0.8) 5.0 else 0.5

  def weights(probmap: Map[String, Double]): Map[String, Double] =
    probmap.map { case (m, p) => m -> getWeight(m, p) }

  /** The sensitivity short-circuit (anomalyze.go:173-175): a capped
    * magnitude probability below `sensitivity` zeroes the ensemble.
    * NaN never fires it. The one rule [[combine]] and [[eval]] share.
    */
  def belowSensitivity(cappedMagnitude: Double, conf: AnomalyzerConf): Boolean =
    cappedMagnitude < conf.sensitivity

  /** Combine a probmap into the final probability (anomalyze.go:169-191):
    * magnitude sensitivity short-circuit, weighted mean, NaN→0.
    */
  def combine(probmap: Map[String, Double], conf: AnomalyzerConf): Double = {
    if (probmap.get("magnitude").exists(belowSensitivity(_, conf))) return 0.0
    val probs = probmap.values.toArray
    val ws = probmap.map { case (m, p) => getWeight(m, p) }.toArray
    val weighted = if (probs.isEmpty) Double.NaN else Vec.weightedMean(probs, ws)
    if (weighted.isNaN) 0.0 else weighted
  }

  /** The Delay gate (anomalyze.go:146-149): a buffer shorter than
    * reference+active scores 0 when `delay` is set.
    */
  def delayed(n: Int, conf: AnomalyzerConf): Boolean =
    conf.delay && n < conf.windowSize

  /** Full evaluation incl. the Delay gate (anomalyze.go:145-192).
    * Equal, bit for bit, to `combine(evalByTest(data, conf, draw), conf)`
    * after the Delay gate, but magnitude runs first: when it is present,
    * defined and [[belowSensitivity]], the result is 0 and no other test
    * (in particular no permutation bootstrap) runs.
    */
  def eval(data: Array[Double], conf: AnomalyzerConf,
      draw: PermDraw): Double = {
    if (delayed(data.length, conf)) return 0.0
    if (conf.methods.contains("magnitude") && Tests.magnitude(data, conf)
        .exists(p => belowSensitivity(Vec.cap(p, 0, 1), conf))) return 0.0
    combine(evalByTest(data, conf, draw), conf)
  }
}

/** Stateful facade matching the reference's lifecycle API
  * (NewAnomalyzer/Push/Update/Eval, anomalyze.go:106-140) for sequential
  * use and as the streaming state kernel. Unlike the reference — whose
  * Push grows the buffer unboundedly and only Update truncates
  * (SURVEY.md §1.1) — this buffer is ALWAYS bounded at windowSize, the
  * contract our streaming state relies on.
  */
final class Anomalyzer(conf0: AnomalyzerConf, seriesHash: Long = 42L) {
  val conf: AnomalyzerConf = AnomalyzerConf.validated(conf0)
  private val buf = new java.util.ArrayDeque[Double](conf.windowSize + 1)
  private var pushed = 0L

  def update(xs: Iterable[Double]): Unit = xs.foreach(append)

  private def append(x: Double): Unit = {
    buf.addLast(x)
    pushed += 1
    while (buf.size > conf.windowSize) buf.removeFirst()
  }

  def data: Array[Double] = {
    val out = new Array[Double](buf.size)
    var i = 0
    val it = buf.iterator()
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }

  def push(x: Double): Double = { append(x); eval() }

  def eval(): Double =
    Ensemble.eval(data, conf, new PermDraw(seriesHash, pushed))

  def evalByTest(): (Map[String, Double], Map[String, Double]) = {
    val probmap = Ensemble.evalByTest(data, conf, new PermDraw(seriesHash, pushed))
    (probmap, Ensemble.weights(probmap))
  }
}
