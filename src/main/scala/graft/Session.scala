package graft

import org.apache.spark.sql.SparkSession

/** The one session factory behind every entry point: `Bench`,
  * `Verify`, `PlanDump`, `ScaleBench`, `LedgerRehearsal`,
  * `IngestRehearsal`, `ScaleUp`, and (through `app.Main.session`) the CLI
  * and the REST job service. A main passes only what differs between
  * them — app name, master and shuffle-partition count — and gets the
  * shared posture:
  *  - session time zone UTC, Spark UI off;
  *  - AQE with partition coalescing;
  *  - `spark.io.compression.codec` from `SPARK_GRAFT_CODEC`, only when it
  *    is set (zstd halves the spill of disk-bound rehearsals; unset keeps
  *    Spark's lz4 so round benches stay comparable);
  *  - WARN log level, with WindowExec's bounded-window warning silenced
  *    (see [[suppressBoundedWindowWarning]]).
  *
  * Environment read here: `SPARK_GRAFT_CODEC` ([[build]]) and
  * `SPARK_GRAFT_CPUS` ([[cpus]]). `app.Main.session` also reads
  * `SPARK_MASTER`.
  */
object Session {

  def build(appName: String, master: String,
      shufflePartitions: Int): SparkSession = {
    val builder = SparkSession.builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_CODEC")
      .foreach(builder.config("spark.io.compression.codec", _))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    suppressBoundedWindowWarning()
    spark
  }

  /** Local cores for a main: `SPARK_GRAFT_CPUS`, else `default`. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)

  /** The quantizer/offset-frame finishers legitimately window ≤32-row
    * bounded aggregates with no partition key, and WindowExec logs
    * `No Partition Defined for Window operation` for each — ~200
    * known-bounded repeats per pass that bury any REAL unpartitioned
    * window a regression might introduce. The replacement signal is
    * `BoundedWindowSpec`, which walks every query's optimized plan and
    * fails by name if an empty-partition window ever reads more than
    * its documented row bound; with that guard in place every session
    * silences this one logger so the logs stay warning-free.
    */
  private def suppressBoundedWindowWarning(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
}
