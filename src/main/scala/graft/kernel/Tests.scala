package graft.kernel

/** The seven statistical tests of the reference engine, re-expressed as
  * pure functions `(window, conf, draw) => Option[probability]`.
  * `None` replaces the reference's NA sentinel ("test not applicable /
  * insufficient data"). Reference: /root/reference/algorithms.go.
  *
  * Determinism: the permutation tests (diff, highrank, lowrank, ks)
  * take a [[PermDraw]] instead of the reference's unseeded global RNG
  * (algorithms.go:126,189,300) — a deliberate, documented divergence
  * that makes outputs reproducible AND replayable by an external SQL
  * oracle (the draw is integer-mix key sorting, see [[PermDraw]]);
  * statistically the tests are identical.
  */
object Tests {

  type Algorithm = (Array[Double], AnomalyzerConf, PermDraw) => Option[Double]

  val Algorithms: Map[String, Algorithm] = Map(
    "magnitude" -> ((v, c, _) => magnitude(v, c)),
    "diff" -> ((v, c, r) => diffTest(v, c, r)),
    "highrank" -> ((v, c, r) => rankTest(v, c, r, (x, y) => x < y)),
    "lowrank" -> ((v, c, r) => rankTest(v, c, r, (x, y) => x > y)),
    "cdf" -> ((v, c, _) => cdf(v, c)),
    "fence" -> ((v, c, _) => Some(fence(v, c))),
    "ks" -> ((v, c, r) => bootstrapKs(v, c, r)))

  /** Distance of the active mean from the configured fences, sharpened by
    * weightExp. Ignores the reference window. Reference: algorithms.go:73-93.
    */
  def fence(v: Array[Double], conf: AnomalyzerConf): Double = {
    // minRefSize = -1 (algorithms.go:75): extraction cannot fail; the
    // active window is simply the last min(activeSize, n) points.
    val n = v.length
    val a = math.min(conf.activeSize, n)
    val active = java.util.Arrays.copyOfRange(v, n - a, n)
    val x = Vec.mean(active)
    val distance = conf.lowerBound match {
      case None => x / conf.upperBound
      case Some(lower) =>
        val bound = (conf.upperBound - lower) / 2
        val mid = lower + bound
        math.abs(x - mid) / bound
    }
    Vec.weightExp(Vec.cap(distance, 0, 1), 10)
  }

  /** Relative difference of active vs reference means. Reference:
    * algorithms.go:231-252 (note: weightExp is commented out upstream).
    */
  def magnitude(v: Array[Double], conf: AnomalyzerConf): Option[Double] =
    Vec.extractWindows(v, conf.referenceSize, conf.activeSize, 1).map {
      case (ref, active) =>
        val activeMean = Vec.mean(active)
        val refMean = Vec.mean(ref)
        if (refMean == 0) { if (activeMean == 0) 0.0 else 1.0 }
        else math.abs(activeMean - refMean) / refMean
    }

  /** ECDF of |successive differences|: where the active-vs-reference mean
    * difference falls in the reference's difference distribution, scaled
    * so tails → 1. Reference: algorithms.go:209-227.
    */
  def cdf(v: Array[Double], conf: AnomalyzerConf): Option[Double] = {
    val diffs = Vec.abs(Vec.diff(v))
    Vec.extractWindows(diffs, conf.referenceSize - 1, conf.activeSize,
      conf.activeSize).map { case (ref, active) =>
      val refEcdf = Vec.ecdf(ref)
      val activeDiff = Vec.mean(active) - Vec.mean(ref)
      val percentile = refEcdf(activeDiff)
      2 * math.abs(0.5 - percentile)
    }
  }

  /** Bootstrap permutation test on ranks of |relative differences|.
    * Reference: algorithms.go:105-140. Each permutation shuffles the
    * WHOLE vector (by the diff-family key sort, see [[PermDraw]]),
    * recomputes |relDiff| ranks, and compares the re-extracted active
    * rank-sum — the reference's exact resampling scheme, only the
    * permutation source differs.
    */
  def diffTest(v: Array[Double], conf: AnomalyzerConf,
      draw: PermDraw): Option[Double] = {
    val ranks = Vec.rank(Vec.abs(Vec.relDiff(v)))
    // diffs shorten the vector by one => refSize-1 (algorithms.go:111)
    Vec.extractWindows(ranks, conf.referenceSize - 1, conf.activeSize,
      conf.activeSize).map { case (_, active) =>
      val activeSum = Vec.sum(active)
      val a = active.length
      val n = v.length
      val order = new Array[Long](n)
      val perm = new Array[Double](n)
      var significant = 0
      var i = 0
      while (i < conf.permCount) {
        val base = draw.permBase(PermDraw.DiffFamily, i)
        var j0 = 0
        while (j0 < n) { order(j0) = draw.keyAt(base, j0); j0 += 1 }
        java.util.Arrays.sort(order)
        var j = 0
        while (j < n) { perm(j) = v(PermDraw.pos(order(j))); j += 1 }
        val permRanks = Vec.rank(Vec.abs(Vec.relDiff(perm)))
        // extraction parameters match the original's, so the permuted
        // active window is simply the last `a` rank entries
        var s = 0.0
        var k = permRanks.length - a
        while (k < permRanks.length) { s += permRanks(k); k += 1 }
        if (s < activeSum) significant += 1
        i += 1
      }
      significant.toDouble / conf.permCount
    }
  }

  /** Shared bootstrap rank-sum core; `comparison(permSum, activeSum)`
    * selects highrank (<, detects increases) vs lowrank (>, detects
    * decreases). Reference: algorithms.go:142-205.
    */
  def rankTest(v: Array[Double], conf: AnomalyzerConf, draw: PermDraw,
      comparison: (Double, Double) => Boolean): Option[Double] = {
    val ranks = Vec.rank(v)
    Vec.extractWindows(ranks, conf.referenceSize, conf.activeSize,
      conf.activeSize).map { case (_, active) =>
      val activeSum = Vec.sum(active)
      val a = active.length
      val n = ranks.length
      // The reference re-ranks each shuffled vector
      // (algorithms.go:188-201); min-tie ranks depend only on the value
      // multiset, so rank(shuffle(v)) is just a permutation of `ranks`
      // and the permuted active rank-sum is the sum of a uniform random
      // a-subset — drawn by Floyd's algorithm in O(a) per permutation
      // (see [[PermDraw.subsetAt]]). highrank and lowrank share the
      // same key family — one draw, two comparisons — which both
      // halves the key derivation and lets the SQL oracle score both
      // directions from one pass.
      val pick = new Array[Int](a)
      var significant = 0
      var i = 0
      while (i < conf.permCount) {
        draw.subsetAt(draw.permBase(PermDraw.RankFamily, i), n, a, pick)
        var s = 0.0
        var m = 0
        while (m < a) { s += ranks(pick(m)); m += 1 }
        if (comparison(s, activeSum)) significant += 1
        i += 1
      }
      significant.toDouble / conf.permCount
    }
  }

  /** Two-sample KS statistic via the reference's grid construction: both
    * ECDFs evaluated on an (n1+n2)-point linspace from global min to max
    * (NOT the classic two-pointer sup-distance — kept for parity).
    * Requires n1 % n2 == 0, else None. Reference: algorithms.go:255-288.
    */
  def ksStat(v: Array[Double], conf: AnomalyzerConf): Option[Double] =
    Vec.extractWindows(v, conf.referenceSize, conf.activeSize,
      conf.activeSize).flatMap { case (ref, active) =>
      if (ref.length % active.length != 0) None
      else Some(ksCore(ref, active))
    }

  /** KS grid statistic over already-extracted windows (mutates neither;
    * sorts copies).
    */
  private[kernel] def ksCore(ref: Array[Double], active: Array[Double]): Double = {
    val n1 = ref.length
    val n2 = active.length
    val activeEcdf = Vec.ecdf(active)
    val refEcdf = Vec.ecdf(ref)
    val lo = math.min(ref.min, active.min)
    val hi = math.max(ref.max, active.max)
    val grid = Vec.interpolate(lo, hi, n1 + n2)
    var d = 0.0
    var i = 0
    while (i < grid.length) {
      d = math.max(d, math.abs(activeEcdf(grid(i)) - refEcdf(grid(i))))
      i += 1
    }
    d
  }

  /** Bootstrap permutation test on the KS statistic.
    * Reference: algorithms.go:290-309. The reference shuffles the whole
    * vector and re-extracts windows each permutation; the statistic
    * depends only on WHICH elements land in each window, so drawing
    * the active window as a uniform Floyd subset (the reference window
    * = a uniform subset of the remainder; the whole remainder in the
    * pooled case — see [[PermDraw.subsetAt]]) is
    * distribution-identical and skips the full shuffle. Cost per row:
    * one [[ksCore]] plus, per permutation, O(n2) work when the pool is
    * the two windows ([[pooledKsLoop]]) and one full [[ksCore]] over
    * fresh copies otherwise ([[generalKsLoop]]).
    */
  def bootstrapKs(v: Array[Double], conf: AnomalyzerConf,
      rng: PermDraw): Option[Double] =
    Vec.extractWindows(v, conf.referenceSize, conf.activeSize,
      conf.activeSize).flatMap { case (ref0, act0) =>
      val n1 = ref0.length
      val n2 = act0.length
      if (n1 % n2 != 0) None
      else {
        val dist = ksCore(ref0, act0)
        val n = v.length
        val significant =
          if (n == n1 + n2) pooledKsLoop(v, ref0, act0, dist, conf, rng)
          else generalKsLoop(v, n1, n2, dist, conf, rng)
        Some(significant.toDouble / conf.permCount)
      }
    }

  /** Permutation loop when the shuffle pool IS the two windows (always
    * the case in the batch/chunked/streaming evaluators, where v is
    * exactly one extracted window). Then the union multiset — hence the
    * [lo, hi] grid AND the total <=-count at every grid point — is
    * permutation-invariant, so per permutation only the n2 ACTIVE
    * elements' counts change: count_ref(<=g) = total(<=g) −
    * count_act(<=g).
    *
    * On a non-decreasing, NaN-free grid (what [[Vec.interpolate]] builds
    * from finite bounds) each value's `v(k) <= grid(g)` set is a suffix
    * of the grid starting at `first(k)`, found once per row. A draw's n2
    * sorted `first` indices split the grid into n2+1 runs of constant
    * active count c, and on a run `c/n2 − (total(<=g) − c)/n1` is
    * non-increasing in g, in floating point too (the int count is
    * monotone, and IEEE division and subtraction are monotone), so its
    * largest |·| sits at a run endpoint. Each draw therefore costs O(n2)
    * work — a Floyd subset, a sort of n2 ints and 2(n2+1) evaluations
    * of the same expression — instead of O(n2·grid) comparisons, and the
    * max is the same double. Any other grid (a ±Inf bound makes NaN
    * steps) takes [[perGridKsLoop]]. Either way the RNG is consumed
    * identically and the counts and divisions are [[ksCore]]'s, so the
    * p-values are bit-identical (pinned by KsParityProps).
    */
  private[kernel] def pooledKsLoop(v: Array[Double], ref0: Array[Double],
      act0: Array[Double], dist: Double, conf: AnomalyzerConf,
      draw: PermDraw): Int = {
    val n2 = act0.length
    val grid = poolGrid(ref0, act0)
    if (!nonDecreasing(grid))
      return perGridKsLoop(v, grid, n2, dist, conf, draw)
    val n = v.length
    val n1d = (n - n2).toDouble
    val n2d = n2.toDouble
    val gn = grid.length
    // first(k): the first grid index with v(k) <= grid(g) (gn if none,
    // e.g. NaN), by bisection on that monotone predicate
    val first = new Array[Int](n)
    val totalLe = new Array[Int](gn + 1)
    var k = 0
    while (k < n) {
      var lo = 0
      var hi = gn
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (v(k) <= grid(mid)) hi = mid else lo = mid + 1
      }
      first(k) = lo
      totalLe(lo) += 1
      k += 1
    }
    var g = 1
    while (g < gn) { totalLe(g) += totalLe(g - 1); g += 1 }
    val pick = new Array[Int](n2)
    val fs = new Array[Int](n2)
    var significant = 0
    var i = 0
    while (i < conf.permCount) {
      // the permuted ACTIVE window = values at a uniform Floyd
      // n2-subset; the reference window is the complement — the same
      // split the general loop produces when the pool is exactly the
      // two windows (pinned by KsParityProps)
      draw.subsetAt(draw.permBase(PermDraw.KsFamily, i), n, n2, pick)
      var m = 0
      while (m < n2) {
        val f = first(pick(m))
        var j = m
        while (j > 0 && fs(j - 1) > f) { fs(j) = fs(j - 1); j -= 1 }
        fs(j) = f
        m += 1
      }
      var d = 0.0
      var c = 0
      while (c <= n2) {
        // run c: grid points where exactly c active values are <= g
        val start = if (c == 0) 0 else fs(c - 1)
        val end = if (c == n2) gn else fs(c)
        if (start < end) {
          d = maxAbs(d, c / n2d - (totalLe(start) - c) / n1d)
          d = maxAbs(d, c / n2d - (totalLe(end - 1) - c) / n1d)
        }
        c += 1
      }
      if (d < dist) significant += 1
      i += 1
    }
    significant
  }

  /** The KS grid of the pooled loops: identical lo/hi to ksCore's (the
    * pool equals ref ∪ active in every permutation, so the original
    * split's min/max IS the pool's).
    */
  private[kernel] def poolGrid(ref0: Array[Double],
      act0: Array[Double]): Array[Double] =
    Vec.interpolate(math.min(ref0.min, act0.min),
      math.max(ref0.max, act0.max), ref0.length + act0.length)

  private def nonDecreasing(grid: Array[Double]): Boolean = {
    var ok = grid.isEmpty || !grid(0).isNaN
    var g = 1
    while (ok && g < grid.length) { ok = grid(g - 1) <= grid(g); g += 1 }
    ok
  }

  @inline private def maxAbs(d: Double, diff: Double): Double = {
    val ad = if (diff < 0) -diff else diff
    if (ad > d) ad else d
  }

  /** The pooled loop for a grid that is not monotone: evaluates every
    * grid point per draw, O(n2·grid) comparisons, same counts and
    * divisions as [[ksCore]].
    */
  private[kernel] def perGridKsLoop(v: Array[Double], grid: Array[Double],
      n2: Int, dist: Double, conf: AnomalyzerConf, draw: PermDraw): Int = {
    val n = v.length
    val totalLe = new Array[Int](grid.length)
    var g = 0
    while (g < grid.length) {
      var c = 0
      var k = 0
      while (k < n) { if (v(k) <= grid(g)) c += 1; k += 1 }
      totalLe(g) = c
      g += 1
    }
    val n1d = (n - n2).toDouble
    val n2d = n2.toDouble
    val pick = new Array[Int](n2)
    val act = new Array[Double](n2)
    var significant = 0
    var i = 0
    while (i < conf.permCount) {
      draw.subsetAt(draw.permBase(PermDraw.KsFamily, i), n, n2, pick)
      var m = 0
      while (m < n2) { act(m) = v(pick(m)); m += 1 }
      var d = 0.0
      g = 0
      while (g < grid.length) {
        var ca = 0
        var k = 0
        while (k < n2) { if (act(k) <= grid(g)) ca += 1; k += 1 }
        d = maxAbs(d, ca / n2d - (totalLe(g) - ca) / n1d)
        g += 1
      }
      if (d < dist) significant += 1
      i += 1
    }
    significant
  }

  /** General permutation loop (pool larger than the windows — reachable
    * only by direct kernel calls on long vectors).
    */
  private[kernel] def generalKsLoop(v: Array[Double], n1: Int, n2: Int,
      dist: Double, conf: AnomalyzerConf, draw: PermDraw): Int = {
    val n = v.length
    val actPick = new Array[Int](n2)
    val refPick = new Array[Int](n1)
    val inAct = new Array[Boolean](n)
    val comp = new Array[Int](n - n2)
    val permRef = new Array[Double](n1)
    val permAct = new Array[Double](n2)
    var significant = 0
    var i = 0
    while (i < conf.permCount) {
      // active = uniform Floyd n2-subset of [0, n); reference = a
      // uniform Floyd n1-subset of the complement (drawn on disjoint
      // raw indices [ (n-n2)-n1, n-n2 ), so the two draws are
      // independent). When n == n1 + n2 the complement subset is the
      // whole complement — exactly the pooled loop's split.
      val base = draw.permBase(PermDraw.KsFamily, i)
      draw.subsetAt(base, n, n2, actPick)
      var j = 0
      while (j < n) { inAct(j) = false; j += 1 }
      j = 0
      while (j < n2) {
        permAct(j) = v(actPick(j)); inAct(actPick(j)) = true; j += 1
      }
      var c = 0
      j = 0
      while (j < n) { if (!inAct(j)) { comp(c) = j; c += 1 }; j += 1 }
      draw.subsetAt(base, n - n2, n1, refPick)
      j = 0
      while (j < n1) { permRef(j) = v(comp(refPick(j))); j += 1 }
      if (ksCore(permRef, permAct) < dist) significant += 1
      i += 1
    }
    significant
  }
}
