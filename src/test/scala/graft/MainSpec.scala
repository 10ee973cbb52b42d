package graft

import graft.app.Main
import org.scalatest.funsuite.AnyFunSuite

class MainSpec extends AnyFunSuite {
  private val required = Map("app-name" -> "exp",
    "molecules-dataset" -> "/data/mol.tsv", "clinical-dataset" -> "/data/clin.tsv")

  test("defaults follow the reference's parameters.py") {
    val cfg = Main.buildConfig(required)
    assert(cfg.appName == "exp")
    assert(cfg.moleculesPath == "/data/mol.tsv" && cfg.clinicalPath == "/data/clin.tsv")
    assert(cfg.fitness.model == "clustering")
    assert(cfg.fitness.clusteringAlgorithm == "k_means")
    assert(cfg.fitness.clusteringScoringMethod == "log_likelihood")
    assert(cfg.fitness.numberOfClusters == 2)
    assert(cfg.fitness.cvFolds == 10)
    assert(cfg.bbha.nStars == 30 && cfg.bbha.nIterations == 30)
    assert(cfg.bbha.binaryThreshold == Some(0.6))
    assert(cfg.fitness.randomState.isEmpty && cfg.bbha.randomState.isEmpty)
    assert(cfg.numberOfWorkers == 0 && cfg.algorithm == 1)
  }

  test("binary-threshold none draws a fresh threshold per dimension") {
    assert(Main.buildConfig(required + ("binary-threshold" -> "none"))
      .bbha.binaryThreshold.isEmpty)
    assert(Main.buildConfig(required + ("binary-threshold" -> "0.7"))
      .bbha.binaryThreshold == Some(0.7))
  }

  test("random-state reaches both the fitness and the BBHA config") {
    val cfg = Main.buildConfig(required + ("random-state" -> "9"))
    assert(cfg.fitness.randomState == Some(9L))
    assert(cfg.bbha.randomState == Some(9L))
  }

  test("a missing --app-name fails") {
    val e = intercept[RuntimeException](Main.buildConfig(required - "app-name"))
    assert(e.getMessage.contains("--app-name"))
  }

  test("--use-broadcast is still accepted and ignored") {
    val args = required.toSeq.flatMap { case (k, v) => Seq(s"--$k", v) } ++
      Seq("--use-broadcast", "false")
    assert(Main.buildConfig(Main.parseArgs(args.toArray)) == Main.buildConfig(required))
  }

  test("a trailing flag with no value fails naming the flag") {
    val args = Array("--app-name", "exp", "--n-stars")
    val e = intercept[IllegalArgumentException](Main.parseArgs(args))
    assert(e.getMessage == "--n-stars has no value", e.getMessage)
  }

  test("a stray token fails instead of shifting every later pair") {
    // sliding pairs would read (extra, --n-stars) and drop "5": 30 stars
    val args = Array("--model", "svm", "extra", "--n-stars", "5")
    val e = intercept[IllegalArgumentException](Main.parseArgs(args))
    assert(e.getMessage.contains("'extra'"), e.getMessage)
  }
}
