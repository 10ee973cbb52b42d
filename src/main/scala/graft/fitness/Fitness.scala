package graft.fitness

import graft.surv.{CIndex, Clinical, CoxPH, KMeansLocal}

/** The fitness-result contract (`CrossValidationSparkResult`, reference
  * scripts/metaheuristics.py:20-26; produced at scripts/main.py:167-179,
  * error sentinel at main.py:184-197). The reference's 11-tuple also
  * carries each star's fitted estimator. That field is gone here: the only
  * model sink is `Experiment`'s single refit of the winning subset
  * ([[Fitness.fitModel]]), so search rows never carry a model.
  */
case class FitnessResult(
    fitness: Double,
    workerTime: Double,
    partitionId: Int,
    host: String,
    nFeatures: Int,
    timeLapse: String,
    timeByIteration: Double,
    testTime: Double,
    numIterations: Double,
    trainScore: Double)

object FitnessResult {
  val NegInf: Double = Double.NegativeInfinity
  val PosInf: Double = Double.PositiveInfinity

  /** Error sentinel (/root/reference/scripts/main.py:184-197). */
  def error(moreIsBetter: Boolean): FitnessResult = {
    val worst = if (moreIsBetter) NegInf else PosInf
    FitnessResult(worst, -1.0, -1, "", 0, "", -1.0, -1.0, -1.0, worst)
  }

  /** Empty-mask sentinel (/root/reference/scripts/core.py:52-77): a star
    * selecting zero features gets the worst fitness without evaluating.
    * (Field values differ slightly from `error`: nFeatures −1, train −1.)
    */
  def emptyMask(moreIsBetter: Boolean): FitnessResult = {
    val worst = if (moreIsBetter) NegInf else PosInf
    FitnessResult(worst, -1.0, -1, "", -1, "", -1.0, -1.0, -1.0, -1.0)
  }
}

/** Experiment-level knobs mirroring /root/reference/scripts/parameters.py
  * defaults (75-173).
  */
case class FitnessConfig(
    model: String = "clustering",              // svm | rf | clustering
    clusteringAlgorithm: String = "k_means",   // k_means | spectral
    clusteringScoringMethod: String = "log_likelihood", // | concordance_index
    numberOfClusters: Int = 2,
    cvFolds: Int = 10,
    rfNEstimators: Int = 10,
    // --tree-n-jobs (parameters.py:119-121; ≤0 = all cores). Default 1:
    // inside a Spark task the scheduler already owns the cores
    // (spark.task.cpus), so intra-task threading is opt-in.
    rfTreeNJobs: Int = 1,
    svmKernel: String = "linear",
    svmOptimizer: String = "avltree",
    svmMaxIterations: Int = 1000,
    svmIsRegression: Boolean = true,
    randomState: Option[Long] = None,
    returnTrainScores: Boolean = false) {
  /** All current models maximize (C-index; log-likelihood per the
    * lifelines recommendation — /root/reference/scripts/main.py:55-58).
    */
  def moreIsBetter: Boolean = true
}

/** The fitness kernels the stars are scored with. Everything here is
  * task-local single-node math over a masked view of the broadcast
  * matrix; Spark's role is fanning out *calls* (see dist.FitnessExecutor).
  */
object Fitness {

  /** Masked column view: rows × selected features.
    * (`get_columns_from_df`, /root/reference/scripts/utils.py:66-77.)
    */
  def maskColumns(x: Array[Array[Double]], mask: Array[Boolean]): Array[Array[Double]] = {
    val idx = mask.indices.filter(mask).toArray
    x.map(row => idx.map(row))
  }

  /** Guard wrapper (`__fitness_function_with_checking`,
    * /root/reference/scripts/core.py:52-77): empty mask → worst fitness,
    * any exception → error sentinel.
    */
  def withChecking(cfg: FitnessConfig, x: Array[Array[Double]],
      y: Array[Clinical], mask: Array[Boolean], partitionId: Int): FitnessResult = {
    if (!mask.exists(identity)) FitnessResult.emptyMask(cfg.moreIsBetter)
    else {
      try compute(cfg, maskColumns(x, mask), y, partitionId)
      catch { case _: Throwable => FitnessResult.error(cfg.moreIsBetter) }
    }
  }

  /** Dispatch on model type (/root/reference/scripts/main.py:28-52). */
  def compute(cfg: FitnessConfig, subset: Array[Array[Double]],
      y: Array[Clinical], partitionId: Int): FitnessResult = cfg.model match {
    case "clustering" => clusteringFitness(cfg, subset, y, partitionId)
    case "rf" | "svm" => cvFitness(cfg, subset, y, partitionId)
    case other => throw new IllegalArgumentException(s"unknown model $other")
  }

  /** Clustering fitness (/root/reference/scripts/main.py:79-112):
    * cluster the masked matrix, fit Cox PH with the cluster id as the
    * single numeric covariate, score with C-index or average partial
    * log-likelihood.
    */
  def clusteringFitness(cfg: FitnessConfig, subset: Array[Array[Double]],
      y: Array[Clinical], partitionId: Int): FitnessResult = {
    val start = System.nanoTime()
    val labels = cfg.clusteringAlgorithm match {
      case "k_means" =>
        KMeansLocal.fit(subset, cfg.numberOfClusters,
          seed = cfg.randomState.getOrElse(0L)).labels
      case "spectral" =>
        graft.surv.SpectralLocal.fit(subset, cfg.numberOfClusters,
          seed = cfg.randomState.getOrElse(0L))
      case other => throw new IllegalArgumentException(s"unknown clustering $other")
    }
    // {E, T, group}: group enters the Cox model as ONE numeric covariate,
    // exactly like lifelines treats the int column (main.py:88-98)
    val covariates = labels.map(l => Array(l.toDouble))
    val fit = CoxPH.fit(covariates, y)
    val fitness = cfg.clusteringScoringMethod match {
      case "log_likelihood" => CoxPH.scoreLogLikelihood(fit, covariates, y)
      case "concordance_index" => CoxPH.scoreConcordance(fit, covariates, y)
      case other => throw new IllegalArgumentException(s"unknown scoring $other")
    }
    val secs = (System.nanoTime() - start) / 1e9
    FitnessResult(fitness, secs, partitionId, hostname,
      subset.headOption.map(_.length).getOrElse(0), timeLapse(start),
      0.0, 0.0, 0.0, 0.0)
  }

  /** k-fold CV fitness for the estimator models
    * (/root/reference/scripts/main.py:114-135): fitness = mean test
    * C-index over folds; train score mean when requested. Deterministic
    * fold assignment (round-robin over a seeded shuffle).
    */
  def cvFitness(cfg: FitnessConfig, subset: Array[Array[Double]],
      y: Array[Clinical], partitionId: Int): FitnessResult = {
    val start = System.nanoTime()
    val n = subset.length
    val folds = math.min(cfg.cvFolds, n)
    val rng = new scala.util.Random(cfg.randomState.getOrElse(0L))
    val perm = rng.shuffle((0 until n).toVector).toArray
    val foldOf = new Array[Int](n)
    perm.zipWithIndex.foreach { case (i, pos) => foldOf(i) = pos % folds }

    val testScores = new Array[Double](folds)
    val trainScores = new Array[Double](folds)
    val iterCounts = new Array[Double](folds)
    val timePerIter = new Array[Double](folds)
    var testTime = 0.0
    var f = 0
    while (f < folds) {
      val trainIdx = (0 until n).filter(foldOf(_) != f).toArray
      val testIdx = (0 until n).filter(foldOf(_) == f).toArray
      val xTr = trainIdx.map(subset)
      val yTr = trainIdx.map(y)
      val fitStart = System.nanoTime()
      val model: SurvivalEstimator = cfg.model match {
        case "rf" => graft.surv.RandomSurvivalForest.fit(xTr, yTr,
          nEstimators = cfg.rfNEstimators,
          seed = cfg.randomState.getOrElse(0L),
          treeNJobs = cfg.rfTreeNJobs)
        case "svm" => graft.surv.SurvivalSVM.fit(xTr, yTr,
          kernel = cfg.svmKernel, maxIter = cfg.svmMaxIterations,
          isRegression = cfg.svmIsRegression,
          seed = cfg.randomState.getOrElse(0L),
          optimizer = cfg.svmOptimizer)
      }
      val fitSecs = (System.nanoTime() - fitStart) / 1e9
      val t0 = System.nanoTime()
      testScores(f) = CIndex.concordance(testIdx.map(y),
        testIdx.map(i => model.risk(subset(i))))
      testTime += (System.nanoTime() - t0) / 1e9
      if (cfg.returnTrainScores)
        trainScores(f) = CIndex.concordance(yTr, xTr.map(model.risk))
      iterCounts(f) = model.iterations.toDouble
      timePerIter(f) = if (model.iterations > 0) fitSecs / model.iterations else 0.0
      f += 1
    }
    val secs = (System.nanoTime() - start) / 1e9
    FitnessResult(
      fitness = testScores.sum / folds,
      workerTime = secs,
      partitionId = partitionId,
      host = hostname,
      nFeatures = subset.headOption.map(_.length).getOrElse(0),
      timeLapse = timeLapse(start),
      timeByIteration = timePerIter.sum / folds,
      testTime = testTime / folds,
      numIterations = iterCounts.sum / folds,
      trainScore = if (cfg.returnTrainScores) trainScores.sum / folds else 0.0)
  }

  /** Refit the model for one mask and return the trained artifact — used
    * once on the winning subset after the search. The reference collects
    * every star's fitted estimator through the result plane each
    * iteration (metaheuristics.py:167-179); SURVEY §4.2 flags that as an
    * inefficiency to not replicate, so search rows stay slim and the
    * black hole's model comes from this single targeted refit.
    */
  def fitModel(cfg: FitnessConfig, x: Array[Array[Double]],
      y: Array[Clinical], mask: Array[Boolean]): java.io.Serializable = {
    val subset = maskColumns(x, mask)
    cfg.model match {
      case "clustering" => cfg.clusteringAlgorithm match {
        case "k_means" =>
          KMeansLocal.fit(subset, cfg.numberOfClusters,
            seed = cfg.randomState.getOrElse(0L))
        case "spectral" =>
          graft.surv.SpectralLocal.fit(subset, cfg.numberOfClusters,
            seed = cfg.randomState.getOrElse(0L))
      }
      case "rf" => graft.surv.RandomSurvivalForest.fit(subset, y,
        nEstimators = cfg.rfNEstimators, seed = cfg.randomState.getOrElse(0L),
        treeNJobs = cfg.rfTreeNJobs)
      case "svm" => graft.surv.SurvivalSVM.fit(subset, y,
        kernel = cfg.svmKernel, maxIter = cfg.svmMaxIterations,
        isRegression = cfg.svmIsRegression, seed = cfg.randomState.getOrElse(0L))
    }
  }

  private def hostname: String =
    try java.net.InetAddress.getLocalHost.getHostName
    catch { case _: Throwable => "unknown" }

  private def timeLapse(startNanos: Long): String = {
    val fmt = java.time.format.DateTimeFormatter.ofPattern("HH:mm:ss")
    val startT = java.time.LocalTime.now()
      .minusNanos(System.nanoTime() - startNanos)
    s"${startT.format(fmt)} - ${java.time.LocalTime.now().format(fmt)}"
  }
}

/** Contract for the single-node survival estimators (RSF, survival SVM):
  * fit on train rows, emit a per-sample risk score (higher = earlier
  * event expected), report optimizer iterations for the instrumentation.
  */
trait SurvivalEstimator extends Serializable {
  def risk(row: Array[Double]): Double
  def iterations: Int
}
