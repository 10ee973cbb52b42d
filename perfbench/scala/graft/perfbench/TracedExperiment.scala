package graft.perfbench

import graft.app.Experiment
import graft.bbha.{Bbha, EvalRound, Star}
import graft.dist.FitnessExecutor
import graft.fitness.{Fitness, FitnessResult}
import graft.io.SurvivalData
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What one star's fitness call cost, reported from the task through an
  * accumulator. Times are nanoseconds.
  */
final case class StarCost(partition: Int, maskNs: Long, computeNs: Long,
    empty: Boolean, error: Boolean) {
  def busyNs: Long = maskNs + computeNs
}

/** `Experiment.run` (BBHA path) re-spelled from the same public calls, in
  * the same order, with a span around each call into a layer:
  * `SurvivalData.read`, `sc.broadcast`, `Fitness.withChecking` for the
  * baseline, `Bbha.run` over a wrapped `FitnessExecutor`, `Fitness.fitModel`
  * and `Experiment.writeJson`. The fitness closure handed to the executor
  * calls `Fitness.maskColumns` then `Fitness.compute` with the guards of
  * `Fitness.withChecking`, and times both, so it scores every star exactly
  * as the untraced run does.
  *
  * Returns the per-layer numbers of this one experiment.
  */
object TracedExperiment {

  def run(spark: SparkSession, cfg: Experiment.Config, tracer: Tracer,
      trace: Long, rawCells: Long, planted: Set[String]): Map[String, Double] = {
    require(cfg.algorithm == 1, "the traced run follows the BBHA path only")
    val out = mutable.Map[String, Double]()
    val sc = spark.sparkContext
    val model = cfg.fitness.model
    val wallStart = System.nanoTime()
    tracer.root(trace, "app.experiment") {
      val discovered = sc.statusTracker.getExecutorInfos.length - 1
      val workers = if (cfg.numberOfWorkers > 0) cfg.numberOfWorkers
        else if (discovered > 0) discovered
        else math.max(sc.defaultParallelism, 1)
      val appFolder = Paths.get(cfg.resultsPath, cfg.appName)
      Files.createDirectories(appFolder)

      val data = tracer.span("io.ingest") {
        SurvivalData.read(spark, cfg.moleculesPath, cfg.clinicalPath)
      }
      val nFeatures = data.featureNames.length
      val nSamples = data.sampleIds.length
      require(nFeatures > 0, "no features survived cleaning")
      out("io.cells") = rawCells.toDouble
      out("io.mb_read") = (Files.size(Paths.get(cfg.moleculesPath)) +
        Files.size(Paths.get(cfg.clinicalPath))) / 1e6

      val (xB, yB) = tracer.span("app.broadcast") {
        (sc.broadcast(data.x), sc.broadcast(data.y))
      }
      out("app.broadcast_mb") = 8.0 * nSamples * nFeatures / 1e6
      val fitCfg = cfg.fitness

      val baseline = tracer.span("app.baseline") {
        Fitness.withChecking(fitCfg, xB.value, yB.value,
          Array.fill(nFeatures)(true), -1).fitness
      }

      val costs = sc.collectionAccumulator[StarCost]("perfbench.star-costs")
      def fitnessFn(mask: Array[Boolean], partitionId: Int): FitnessResult =
        if (!mask.exists(identity)) {
          costs.add(StarCost(partitionId, 0L, 0L, empty = true, error = false))
          FitnessResult.emptyMask(fitCfg.moreIsBetter)
        } else {
          val t0 = System.nanoTime()
          var t1 = t0
          try {
            val subset = Fitness.maskColumns(xB.value, mask)
            t1 = System.nanoTime()
            val r = Fitness.compute(fitCfg, subset, yB.value, partitionId)
            costs.add(StarCost(partitionId, t1 - t0, System.nanoTime() - t1,
              empty = false, error = false))
            r
          } catch {
            case _: Throwable =>
              costs.add(StarCost(partitionId, t1 - t0, 0L, empty = false, error = true))
              FitnessResult.error(fitCfg.moreIsBetter)
          }
        }

      val executor = new FitnessExecutor(sc, workers, fitnessFn)
      var searchNs = 0L
      def evaluate(stars: Array[Star]): EvalRound = {
        costs.reset()
        val t0 = System.nanoTime()
        val round = tracer.span("dist.evaluate")(executor.evaluate(stars))
        val wallNs = System.nanoTime() - t0
        searchNs += wallNs
        recordRound(out, workers, wallNs, costs.value.asScala.toSeq, round, model)
        round
      }

      val start = System.nanoTime()
      val outcome = tracer.span("bbha.run") {
        Bbha.run(cfg.bbha, nFeatures, evaluate)
      }
      val fsSeconds = (System.nanoTime() - start) / 1e9
      out("bbha.driver_s") = fsSeconds - searchNs / 1e9
      out("dist.search_s") = searchNs / 1e9

      val selected = data.featureNames.zip(outcome.bestMask)
        .collect { case (name, 1) => name }.toSeq
      out("bbha.planted_recall") =
        if (planted.isEmpty) 0.0 else selected.count(planted).toDouble / planted.size
      val r4 = (v: Double) => math.round(v * 1e4) / 1e4
      tracer.span("app.sinks") {
        Experiment.writeJson(appFolder.resolve("result.json").toString, Map(
          "dataset" -> cfg.moleculesPath,
          "improved" -> 0,
          "model" -> fitCfg.model,
          "best_metric_with_all_features" -> r4(baseline),
          "best_metric" -> r4(outcome.bestFitness),
          "features" -> selected.mkString(" | "),
          "execution_time" -> fsSeconds))
      }

      val fitted = tracer.span("app.refit") {
        Fitness.fitModel(fitCfg, data.x, data.y, outcome.bestMask.map(_ == 1))
      }
      val modelPath = appFolder.resolve("model.bin")
      tracer.span("app.sinks") {
        val oos = new java.io.ObjectOutputStream(Files.newOutputStream(modelPath))
        try oos.writeObject(fitted) finally oos.close()
        Experiment.writeJson(appFolder.resolve("metrics.json").toString,
          outcome.metrics ++ Map(
            "model" -> fitCfg.model,
            "dataset" -> cfg.moleculesPath,
            "parameters" -> fitCfg.toString,
            "number_of_samples" -> nSamples))
      }
      out("app.model_kb") = Files.size(modelPath) / 1e3
      out("dist.host_idle_s") = hostIdleMean(outcome.metrics)

      xB.destroy()
      yB.destroy()
    }
    out("trace.wall_s") = (System.nanoTime() - wallStart) / 1e9
    val spans = tracer.of(trace)
    def total(name: String) = spans.filter(_.name == name).map(_.seconds).sum
    out("io.ingest_s") = total("io.ingest")
    out("app.broadcast_s") = total("app.broadcast")
    out("app.baseline_s") = total("app.baseline")
    out("app.refit_s") = total("app.refit")
    out("app.sinks_s") = total("app.sinks")
    tracer.selfSeconds(trace).foreach { case (layer, s) => out(s"$layer.self_s") = s }
    out.toMap
  }

  /** Slot accounting for one fan-out round, from each star's partition id:
    * a slot is busy for the mask+compute time of the stars placed on it and
    * idle for the rest of the round's wall time.
    */
  private def recordRound(out: mutable.Map[String, Double], slots: Int,
      wallNs: Long, costs: Seq[StarCost], round: EvalRound, model: String): Unit = {
    val busy = new Array[Long](slots)
    costs.foreach(c => if (c.partition >= 0 && c.partition < slots) busy(c.partition) += c.busyNs)
    val wall = wallNs / 1e9
    Stats.add(out, "dist.rounds", 1)
    Stats.add(out, "dist.evals", costs.length)
    Stats.add(out, "dist.compute_s", busy.sum / 1e9)
    Stats.add(out, "dist.idle_s", busy.map(b => wall - b / 1e9).sum)
    Stats.add(out, "dist.overhead_s", wall - busy.max / 1e9)
    Stats.add(out, "dist.slot_s", slots * wall)
    Stats.add(out, "dist.error_evals", costs.count(_.error))
    Stats.add(out, "dist.empty_masks", costs.count(_.empty))
    Stats.add(out, "fitness.mask_s", costs.map(_.maskNs).sum / 1e9)
    Stats.add(out, s"fitness.compute_s.$model", costs.map(_.computeNs).sum / 1e9)
    val scored = round.results.map(_._2).filter(_.workerTime >= 0)
    Stats.add(out, "surv.fits", scored.length)
    Stats.add(out, "surv.iters", scored.map(_.numIterations).sum)
    Stats.add(out, "surv.test_s", scored.map(_.testTime).sum)
  }

  /** Mean over hosts of the per-host idle mean that `Bbha.run` puts in
    * metrics.json (`workers_idle_times`): one round wall minus the summed
    * compute of every slot on that host.
    */
  private def hostIdleMean(metrics: Map[String, Any]): Double =
    metrics.get("workers_idle_times") match {
      case Some(m: Map[_, _]) if m.nonEmpty =>
        val means = m.values.collect { case h: Map[_, _] =>
          h.asInstanceOf[Map[String, Any]]("mean").asInstanceOf[Double]
        }
        means.sum / means.size
      case _ => 0.0
    }
}
