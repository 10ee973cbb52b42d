package graft.dist

import graft.bbha.{EvalRound, Star}
import graft.fitness.FitnessResult
import org.apache.spark.{Partitioner, SparkContext, TaskContext}

/** Star → partition placement: the contiguous block split
  * `key * W // nStars`, the reference's fallback partitioner
  * (scripts/metaheuristics.py:287-290). Its other mode,
  * bins packed by a learned execution-time model (metaheuristics.py:277-285),
  * is not ported: the reference force-disables it (parameters.py:159).
  *
  * This is the one operator kept on the RDD API: the Dataset API exposes
  * no user-defined partitioner, and the whole point is exact star→worker
  * placement (SURVEY §4.2, §7.3).
  */
class StarPartitioner(numWorkers: Int, nStars: Int) extends Partitioner {
  override def numPartitions: Int = numWorkers
  override def getPartition(key: Any): Int =
    key.asInstanceOf[Int] * numWorkers / nStars
}

/** Fans one population's fitness evaluation out across the cluster:
  * `parallelize → partitionBy(StarPartitioner) → mapPartitions → collect`
  * (/root/reference/scripts/metaheuristics.py:225-304).
  *
  * All of a partition's stars run serially inside one task so each
  * single-node kernel can use the worker's cores
  * (metaheuristics.py:292-299 note) — configured via `spark.task.cpus`
  * instead of the reference's FileLock (SURVEY §2.2: JVM needs no
  * process isolation or lock file). Only (idx, mask) pairs move in the
  * shuffle; the expression matrix ships once as a Broadcast.
  */
class FitnessExecutor(sc: SparkContext, numWorkers: Int,
    fitness: (Array[Boolean], Int) => FitnessResult) extends Serializable {

  def evaluate(stars: Array[Star]): EvalRound = {
    val fitnessFn = fitness // avoid closing over `this`
    val start = System.nanoTime()
    val results = sc.parallelize(stars.map(s => (s.idx, s.mask)), numWorkers)
      .partitionBy(new StarPartitioner(numWorkers, stars.length))
      .mapPartitions(iter => iter.map { case (idx, mask) =>
        (idx, fitnessFn(mask.map(_ == 1), TaskContext.getPartitionId()))
      }, preservesPartitioning = true)
      .collect()
    val totalTime = (System.nanoTime() - start) / 1e9
    // The reference indexes collected results positionally
    // (metaheuristics.py:593+); sorting by star index states that
    // association instead of relying on collect order.
    EvalRound(results.sortBy(_._1), totalTime)
  }
}
