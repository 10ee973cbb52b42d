package graft

import graft.bbha.Star
import graft.dist.FitnessExecutor
import graft.fitness.FitnessResult
import org.scalatest.funsuite.AnyFunSuite

/** Echoes what each task saw: the partition id it ran in and the mask it
  * was handed (as a bit string in `timeLapse`).
  */
object EchoFitness extends Serializable {
  val fn: (Array[Boolean], Int) => FitnessResult = (mask, partitionId) =>
    FitnessResult(mask.count(identity).toDouble, 0.0, partitionId, "echo",
      mask.count(identity), mask.map(b => if (b) '1' else '0').mkString,
      0.0, 0.0, 0.0, 0.0)
}

class FitnessExecutorSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("block placement: one result per star, sorted, on partition k * W / nStars, own mask") {
    val workers = 3
    val stars = Array.tabulate(10) { k =>
      Star(k, Array.tabulate(10)(j => if (j == k || j == (k * 7 + 3) % 10) 1 else 0))
    }
    // hand the stars over out of order: the round must come back sorted
    val round = new FitnessExecutor(spark.sparkContext, workers, EchoFitness.fn)
      .evaluate(stars.reverse)
    assert(round.results.map(_._1).toSeq == (0 until 10))
    assert(round.totalTime >= 0)
    round.results.foreach { case (k, r) =>
      assert(r.partitionId == k * workers / stars.length, s"star $k")
      assert(r.timeLapse == stars(k).mask.mkString, s"star $k")
    }
  }
}
