package graft.optimize

import breeze.linalg.{cholesky, DenseMatrix, DenseVector}

import graft.core._

import scala.collection.mutable
import scala.util.control.NonFatal

/** Async Gaussian-process Bayesian optimization (reference:
  * maggy/optimizer/bayes/gp.py + bayes/base.py).
  *
  * Preserved semantics (SURVEY §4.1, BASELINE.md): 15 warm-up random trials;
  * ε-greedy random_fraction = 0.33; surrogate not fit until #obs ≥ #dims;
  * busy-location imputation with the constant liar (cl_min) so parallel
  * proposals decorrelate; acquisition = EI (floor 1e-32 analog via σ guard),
  * argmax over n_points random candidates (reference n_points=10k,
  * gp.py:156-164).
  *
  * The regressor itself is re-derived on Breeze rather than ported from
  * skopt: Matern ν=2.5 kernel, y-normalization, Gaussian noise jitter,
  * Cholesky solve; length-scale by log-marginal-likelihood MLE (L-BFGS-B
  * over log l, 2 restarts, grid fallback — mirrors skopt's
  * n_restarts_optimizer=2; acceptance is fixed-seed regression tests, not
  * bit parity; SURVEY §7.4.3). The acquisition argmax is polished with
  * bounded L-BFGS-B from the 5 best sampled starts (reference gp.py:234-245).
  */
final class Gp(
    numWarmup: Int = 15,
    randomFraction: Double = 0.33,
    nPoints: Int = 10000,
    acquisition: String = "ei",
    lcbKappa: Double = 1.96,
    interimResults: Boolean = false,
    interimInterval: Int = 1,
    pruner: Option[Pruner] = None) extends Optimizer {

  private var issued = 0
  private var exhausted = false

  override protected def init(): Unit = pruner.foreach(_.initialize(numTrials))

  override protected def validate(): Unit = {
    require(searchspace.containsContinuous, "GP requires at least one continuous param")
    require(!searchspace.containsDiscrete, "GP forbids DISCRETE numeric params")
  }

  private def dims: Int = searchspace.params.size

  def getSuggestion(completed: Option[Trial]): Suggestion = pruner match {
    case None =>
      if (exhausted || issued >= numTrials) return if (trialStore.nonEmpty) Idle else Done
      val t = suggestConfig()
      if (hparamsExist(t)) {
        // exhausted resamples → STOP, never reissue a colliding trialId
        // (reference bayes/base.py:288-301)
        (1 to 3).iterator.map(_ => new Trial(searchspace.sample(rng)))
          .find(c => !hparamsExist(c)) match {
          case Some(c) => issued += 1; NewTrial(c)
          case None =>
            exhausted = true
            if (trialStore.nonEmpty) Idle else Done
        }
      } else { issued += 1; NewTrial(t) }

    // GP under a multi-fidelity schedule: surrogate fit on the largest
    // budget with enough observations (reference BaseAsyncBO + pruner)
    case Some(p) =>
      prunerDispatch(p, completed, budget => {
        val model = suggestConfig(Some(budget))
        if (!hparamsExist(model)) Some(model)
        else (1 to 3).iterator.map(_ => new Trial(searchspace.sample(rng)))
          .find(c => !hparamsExist(c))
      })
  }

  private def suggestConfig(budget: Option[Double] = None): Trial = {
    val all = finalStore.filter(_.finalMetric.isDefined).toSeq
    val finished = budget match {
      case None => all
      case Some(_) =>
        val byBudget = all.groupBy(_.budget.getOrElse(0.0))
        byBudget.filter(_._2.size >= math.max(numWarmup, dims)).toSeq
          .sortBy(-_._1).headOption.map(_._2).getOrElse(Seq.empty)
    }
    val warmupOrRandom =
      finished.size < math.max(numWarmup, dims) || rng.nextDouble() < randomFraction
    if (warmupOrRandom) return new Trial(searchspace.sample(rng), sampleType = "random")

    val (x, y) = surrogateXY(finished)
    val gp = GpRegressor.fit(x, y)
    val yBest = y.min

    def acqAt(cand: Array[Double]): Double = {
      // in interim mode the surrogate is queried at FULL budget (z = 1)
      val (mu, sigma) = gp.predict(if (interimResults) cand :+ 1.0 else cand)
      acq(mu, sigma, yBest)
    }

    // sampled argmax, tracking the 5 best starts for gradient refinement
    val top = mutable.ArrayBuffer.empty[(Double, Array[Double])]
    for (_ <- 0 until nPoints) {
      val cand = searchspace.transform(searchspace.sample(rng))
      val a = acqAt(cand)
      if (top.size < 5 || a > top.last._1) {
        top += ((a, cand))
        top.sortInPlaceBy(-_._1)
        if (top.size > 5) top.remove(5)
      }
    }
    var bestAcq: Double = top.head._1
    var bestX: Array[Double] = top.head._2
    // L-BFGS-B polish from the 5 best sampled starts (reference
    // gp.py:234-245: maxiter 20, bounds [0,1]; numeric gradient). AsyTS is
    // stochastic per evaluation, so gradient refinement is skipped there.
    if (acquisition != "asyts") {
      import breeze.linalg.DenseVector
      import breeze.optimize.{ApproximateGradientFunction, DiffFunction, LBFGSB}
      val d = top.head._2.length
      val solver = new LBFGSB(
        DenseVector.zeros[Double](d), DenseVector.ones[Double](d), maxIter = 20)
      val negAcq = new ApproximateGradientFunction[Int, DenseVector[Double]](
        (v: DenseVector[Double]) => -acqAt(v.toArray)): DiffFunction[DenseVector[Double]]
      top.foreach { case (_, start) =>
        try {
          val refined = solver.minimize(negAcq, DenseVector(start))
          val clipped = refined.toArray.map(v => math.min(1.0, math.max(0.0, v)))
          val a = acqAt(clipped)
          if (a > bestAcq) { bestAcq = a; bestX = clipped }
        } catch { case NonFatal(_) => () } // line-search failure → keep sampled
      }
    }
    new Trial(searchspace.inverseTransform(bestX), sampleType = "model")
  }

  /** Surrogate training set. Default mode: one (x, final metric) point per
    * finished trial plus constant-liar imputation of busy locations
    * (cl_min, reference gp.py:329-373). Interim mode (reference
    * bayes/base.py:459-641): every `interimInterval`-th metric-history
    * point of every finished trial contributes, with x augmented by the
    * normalized step z = step/maxStep — the surrogate learns the training
    * CURVE, so partial runs inform the model long before they finish. */
  private def surrogateXY(finished: Seq[Trial]): (Array[Array[Double]], Array[Double]) = {
    val sign = if (direction == Direction.Max) -1.0 else 1.0
    val busy = trialStore.valuesIterator.toSeq
    if (!interimResults) {
      val obsX = finished.map(t => searchspace.transform(t.paramsSansBudget))
      val obsY = finished.map(minMetric)
      val liar = obsY.min
      val busyX = busy.map(t => searchspace.transform(t.paramsSansBudget))
      ((obsX ++ busyX).toArray, (obsY ++ Seq.fill(busy.size)(liar)).toArray)
    } else {
      val maxStep = math.max(1L,
        finished.flatMap(_.metricHistory.lastOption).map(_.step).foldLeft(0L)(math.max))
      val points = finished.flatMap { t =>
        val base = searchspace.transform(t.paramsSansBudget)
        val hist = t.metricHistory
        // every nth history point (reference base.py:643-668) + the final
        val interim = hist.zipWithIndex
          .filter { case (_, i) => (i + 1) % interimInterval == 0 }
          .map { case (p, _) => (base :+ (p.step.toDouble / maxStep), sign * p.value) }
          .filter(_._1.last < 1.0) // final point added once below, at z = 1
        interim :+ (base :+ 1.0, minMetric(t))
      }
      val liar = points.map(_._2).min
      val busyX = busy.map(t => searchspace.transform(t.paramsSansBudget) :+ 1.0)
      ((points.map(_._1) ++ busyX).toArray,
        (points.map(_._2) ++ Seq.fill(busy.size)(liar)).toArray)
    }
  }

  /** Acquisition value to MAXIMIZE, all in min-convention (reference:
    * maggy/optimizer/bayes/acquisitions.py — EI/PI/LCB/AsyTS; LCB's argmin
    * of mu − κσ is negated so one argmax loop serves all four). AsyTS draws
    * an independent posterior sample per candidate — the stochastic pick
    * decorrelates parallel proposals without the constant liar. */
  private def acq(mu: Double, sigma: Double, yBest: Double): Double = acquisition match {
    case "ei" => expectedImprovement(mu, sigma, yBest)
    case "pi" => if (sigma < 1e-12) 0.0 else normCdf((yBest - mu) / sigma)
    case "lcb" => -(mu - lcbKappa * sigma)
    case "asyts" => -(mu + sigma * rng.nextGaussian())
    case other => throw new IllegalArgumentException(s"unknown acquisition: $other")
  }

  /** EI for minimization. */
  private def expectedImprovement(mu: Double, sigma: Double, yBest: Double): Double = {
    if (sigma < 1e-12) return 0.0
    val z = (yBest - mu) / sigma
    (yBest - mu) * normCdf(z) + sigma * normPdf(z)
  }
  private def normPdf(z: Double): Double = math.exp(-0.5 * z * z) / math.sqrt(2 * math.Pi)
  private def normCdf(z: Double): Double = 0.5 * (1 + erf(z / math.sqrt(2)))
  // Abramowitz–Stegun 7.1.26 erf approximation (|err| < 1.5e-7)
  private def erf(x: Double): Double = {
    val t = 1.0 / (1.0 + 0.3275911 * math.abs(x))
    val poly = t * (0.254829592 + t * (-0.284496736 + t * (1.421413741 + t * (-1.453152027 + t * 1.061405429))))
    val v = 1.0 - poly * math.exp(-x * x)
    if (x >= 0) v else -v
  }
}

/** Matern-2.5 GP regressor on Breeze with y-normalization and a small
  * length-scale grid picked by log marginal likelihood. */
final class GpRegressor private (
    x: Array[Array[Double]],
    alpha: DenseVector[Double],
    chol: DenseMatrix[Double],
    lengthScale: Double,
    signalVar: Double,
    yMean: Double,
    yStd: Double) {

  def predict(cand: Array[Double]): (Double, Double) = {
    val n = x.length
    val ks = DenseVector.tabulate(n)(i => GpRegressor.matern25(GpRegressor.dist(x(i), cand), lengthScale, signalVar))
    val mu = (ks dot alpha) * yStd + yMean
    // solve L v = ks
    val v = GpRegressor.forwardSolve(chol, ks)
    val varRaw = signalVar - (v dot v)
    val sigma = math.sqrt(math.max(varRaw, 1e-12)) * yStd
    (mu, sigma)
  }
}

object GpRegressor {
  def dist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    math.sqrt(s)
  }

  /** Matern ν=2.5: σf²·(1 + √5 r/l + 5r²/(3l²))·exp(−√5 r/l). */
  def matern25(r: Double, l: Double, sf2: Double): Double = {
    val a = math.sqrt(5) * r / l
    sf2 * (1 + a + a * a / 3) * math.exp(-a)
  }

  def forwardSolve(lo: DenseMatrix[Double], b: DenseVector[Double]): DenseVector[Double] = {
    val n = b.length
    val v = DenseVector.zeros[Double](n)
    var i = 0
    while (i < n) {
      var s = b(i)
      var j = 0
      while (j < i) { s -= lo(i, j) * v(j); j += 1 }
      v(i) = s / lo(i, i)
      i += 1
    }
    v
  }

  def fit(xs: Array[Array[Double]], ys: Array[Double], noise: Double = 1e-6): GpRegressor = {
    val n = xs.length
    val yMean = ys.sum / n
    val yStd = {
      val v = ys.map(v0 => (v0 - yMean) * (v0 - yMean)).sum / math.max(n - 1, 1)
      math.max(math.sqrt(v), 1e-12)
    }
    val yn = DenseVector(ys.map(v => (v - yMean) / yStd))

    def build(l: Double): (DenseMatrix[Double], DenseVector[Double], Double) = {
      val k = DenseMatrix.tabulate(n, n) { (i, j) =>
        matern25(dist(xs(i), xs(j)), l, 1.0) + (if (i == j) noise else 0.0)
      }
      val lo = cholesky(k)
      val v = forwardSolve(lo, yn)
      // alpha = L^-T v
      val alpha = backSolve(lo, v)
      // log marginal likelihood = -0.5 yᵀα − Σ log L_ii − n/2 log 2π
      var logDet = 0.0
      var i = 0
      while (i < n) { logDet += math.log(lo(i, i)); i += 1 }
      val lml = -0.5 * (yn dot alpha) - logDet - 0.5 * n * math.log(2 * math.Pi)
      (lo, alpha, lml)
    }

    // length-scale by MLE: L-BFGS-B over log(l) from 2 restarts (reference:
    // skopt n_restarts_optimizer=2), seeded by the best grid point; the
    // grid stays as the fallback when a line search fails numerically
    val grid = Seq(0.1, 0.2, 0.5, 1.0, 2.0)
    val gridBest = grid.maxBy(l => build(l)._3)
    val mleL: Double = {
      import breeze.linalg.DenseVector
      import breeze.optimize.{ApproximateGradientFunction, DiffFunction, LBFGSB}
      val lo = math.log(0.05)
      val hi = math.log(5.0)
      val solver = new LBFGSB(DenseVector(lo), DenseVector(hi), maxIter = 20)
      val negLml = new ApproximateGradientFunction[Int, DenseVector[Double]](
        (v: DenseVector[Double]) => -build(math.exp(v(0)))._3): DiffFunction[DenseVector[Double]]
      val starts = Seq(gridBest, math.sqrt(gridBest)) // 2 restarts
      val refined = starts.flatMap { s =>
        try Some(math.exp(solver.minimize(negLml, DenseVector(math.log(s)))(0)))
        catch { case NonFatal(_) => None }
      }
      (refined :+ gridBest).maxBy(l => build(l)._3)
    }
    val (lo, alpha, _) = build(mleL)
    new GpRegressor(xs, alpha, lo, mleL, 1.0, yMean, yStd)
  }

  private def backSolve(lo: DenseMatrix[Double], b: DenseVector[Double]): DenseVector[Double] = {
    val n = b.length
    val v = DenseVector.zeros[Double](n)
    var i = n - 1
    while (i >= 0) {
      var s = b(i)
      var j = i + 1
      while (j < n) { s -= lo(j, i) * v(j); j += 1 }
      v(i) = s / lo(i, i)
      i -= 1
    }
    v
  }
}
