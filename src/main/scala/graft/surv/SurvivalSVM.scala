package graft.surv

import graft.fitness.SurvivalEstimator

/** Kernel survival SVM with the reference's parameter surface:
  * `FastKernelSurvivalSVM(rank_ratio, max_iter, tol, kernel, optimizer,
  * random_state)` (/root/reference/scripts/main.py:36-40;
  * kernels/optimizers /root/reference/scripts/parameters.py:107-113).
  *
  * Objective (kernelized, scores s = Σ_i α_i K(x_i, ·)):
  *   rank_ratio = 1 (ranking): squared hinge over comparable pairs
  *     Σ_{(i,j): t_i < t_j, e_i} max(0, 1 − (s_j − s_i))²  — predictions
  *     order like survival time (higher s = later event);
  *   rank_ratio = 0 (regression, `--svm-is-regression` default true):
  *     squared error on log-time for events, one-sided for censored
  *     (only penalized when predicted below the censoring time).
  * Optimized by deterministic gradient descent with backtracking. For
  * the ranking objective, `avltree`/`rbtree` select the O(n log n)
  * order-statistic gradient ([[RankingGradient]]) and any other name the
  * direct pair sweep; the two agree to ~1e-8, not bit for bit, so the
  * optimizer name reaches the fitted model.
  */
object SurvivalSVM {

  final class Model(xTrain: Array[Array[Double]], alpha: Array[Double],
      kernel: (Array[Double], Array[Double]) => Double, regression: Boolean,
      val iterations: Int) extends SurvivalEstimator {
    /** Score: higher = later predicted event. */
    def score(row: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < xTrain.length) { s += alpha(i) * kernel(xTrain(i), row); i += 1 }
      s
    }
    /** Risk for C-index: earlier predicted event = higher risk. */
    def risk(row: Array[Double]): Double = -score(row)
  }

  def kernelFn(name: String): (Array[Double], Array[Double]) => Double =
    name match {
      case "precomputed" =>
        // handled in fit (the input IS the Gram matrix); scoring a model
        // against a precomputed row k(x_test, X_train) is Σ α_i row_i,
        // expressed below as dot against an identity-basis xTrain
        dot
      case "linear" => dot
      case "poly" => (a, b) => math.pow(dot(a, b) + 1.0, 3)
      case "rbf" => (a, b) => {
        var s = 0.0; var i = 0
        while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
        math.exp(-s / a.length)
      }
      case "sigmoid" => (a, b) => math.tanh(dot(a, b) / a.length)
      case "cosine" => (a, b) => {
        val na = math.sqrt(dot(a, a)); val nb = math.sqrt(dot(b, b))
        if (na == 0 || nb == 0) 0.0 else dot(a, b) / (na * nb)
      }
      case other => throw new IllegalArgumentException(s"unknown kernel $other")
    }

  def fit(x: Array[Array[Double]], y: Array[Clinical], kernel: String = "linear",
      maxIter: Int = 1000, tol: Double = 1e-5, isRegression: Boolean = true,
      alphaReg: Double = 1.0, seed: Long = 0L,
      optimizer: String = "avltree"): Model = {
    val n = x.length
    val k = kernelFn(kernel)
    // Gram matrix once — n is task-local small. `precomputed` is the
    // reference's 6th kernel choice (parameters.py:107-109, sksurv
    // semantics): the caller passes the n×n Gram matrix as x, and at
    // prediction time passes rows of K(x_test, X_train); a model over the
    // identity basis with a dot kernel makes score(row) = Σ α_i row_i.
    val precomputed = kernel == "precomputed"
    if (precomputed) {
      require(x.forall(_.length == n),
        s"precomputed kernel needs a square n×n Gram matrix, got " +
          s"${x.length}×${x.headOption.map(_.length).getOrElse(0)}")
    }
    val gram =
      if (precomputed) x
      else Array.tabulate(n, n)((i, j) => k(x(i), x(j)))
    val a = new Array[Double](n)
    val s = new Array[Double](n) // current scores = gram * a
    val grad = new Array[Double](n)
    val logT = y.map(c => math.log(math.max(c.time, 1e-12)))
    // comparable-pair count for ranking-loss normalization: for each
    // event sample, how many samples outlive it (O(n log n) via sort)
    val nPairs: Long =
      if (isRegression) 0L
      else {
        val times = y.map(_.time).sorted
        def countGreater(t: Double): Long = {
          var lo = 0; var hi = times.length
          while (lo < hi) { val m = (lo + hi) >>> 1; if (times(m) <= t) lo = m + 1 else hi = m }
          (times.length - lo).toLong
        }
        y.iterator.filter(_.event).map(c => countGreater(c.time)).sum
      }
    // avltree/rbtree select the O(n log n) order-statistic gradient;
    // anything else sweeps the pairs directly (small-n debugging path)
    val useTree = optimizer == "avltree" || optimizer == "rbtree"

    var iter = 0
    var prevLoss = Double.MaxValue
    var lr = 1.0 / n
    var done = false
    while (iter < maxIter && !done) {
      // scores
      var i = 0
      while (i < n) {
        var acc = 0.0; var j = 0
        while (j < n) { acc += gram(i)(j) * a(j); j += 1 }
        s(i) = acc
        i += 1
      }
      // loss + dLoss/ds
      var dLds = new Array[Double](n)
      var loss = 0.0
      if (isRegression) {
        i = 0
        while (i < n) {
          val r = s(i) - logT(i)
          // events: two-sided; censored: penalize only underprediction
          if (y(i).event || r < 0) { loss += r * r; dLds(i) = 2 * r }
          i += 1
        }
      } else {
        val (l, g) =
          if (useTree) RankingGradient.lossAndGradient(y, s)
          else RankingGradient.lossAndGradientNaive(y, s)
        dLds = g
        loss = if (nPairs > 0) l / nPairs else 0.0
      }
      // L2 in RKHS: alphaReg * aᵀ G a ; total gradient wrt a: G·dLds + 2λ G a
      i = 0
      while (i < n) {
        var acc = 0.0; var j = 0
        while (j < n) { acc += gram(j)(i) * dLds(j); j += 1 }
        val scale = if (!isRegression && nPairs > 0) nPairs.toDouble else 1.0
        grad(i) = acc / scale + 2 * alphaReg * s(i) / n
        i += 1
      }
      val reg = { var acc = 0.0; var q = 0; while (q < n) { acc += a(q) * s(q); q += 1 }; acc }
      val total = loss + alphaReg * reg / n
      if (prevLoss - total < tol * math.max(1.0, math.abs(prevLoss)) && iter > 0)
        done = true
      else {
        if (total > prevLoss) lr /= 2 // diverging: damp
        prevLoss = total
        i = 0
        while (i < n) { a(i) -= lr * grad(i); i += 1 }
      }
      iter += 1
    }
    val basis =
      if (precomputed) Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
      else x
    new Model(basis, a, k, isRegression, iter)
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }
}
