package graft.perfbench

import graft.api.JobService
import graft.app.{Experiment, Main}
import graft.io.SurvivalData
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths}
import java.time.Instant
import java.util.concurrent.atomic.AtomicBoolean
import scala.collection.mutable

/** The workload's generated input pair, as described by the generator. */
final case class DataSpec(molecules: String, clinical: String,
    planted: Set[String], rawCells: Long, keptFeatures: Int, keptSamples: Int)

/** One experiment of a repetition: the CLI arguments it is launched with. */
final case class ExpSpec(app: String, args: Map[String, String])

/** What `run.py` hands over: the workload, its sizes and its inputs. */
final case class Plan(workload: String, service: Boolean, seconds: Double,
    trace: Boolean, setups: Int, settleOps: Int, minOps: Int, clients: Int, workDir: String,
    datasetsDir: String, resultsDir: String,
    data: DataSpec, experiments: Seq[ExpSpec]) {

  /** CLI arguments of one experiment on the workload's input. */
  def args(e: ExpSpec, appName: String): Map[String, String] =
    e.args ++ Map("app-name" -> appName,
      "molecules-dataset" -> data.molecules, "clinical-dataset" -> data.clinical)

  def config(e: ExpSpec, appName: String): Experiment.Config =
    Main.buildConfig(args(e, appName))
}

object Plan {
  def load(path: String): Plan = {
    val j = JsonMethods.parse(Files.readString(Paths.get(path)))
    def str(v: JValue) = v match { case JString(s) => s; case o => sys.error(s"not a string: $o") }
    def num(v: JValue) = v match {
      case JInt(i) => i.toDouble; case JDouble(d) => d; case o => sys.error(s"not a number: $o")
    }
    val JArray(es) = j \ "experiments": @unchecked
    Plan(
      workload = str(j \ "workload"),
      service = (j \ "service") == JBool(true),
      seconds = num(j \ "seconds"),
      trace = (j \ "trace") == JBool(true),
      setups = num(j \ "setups").toInt,
      settleOps = num(j \ "settle_ops").toInt,
      minOps = num(j \ "min_ops").toInt,
      clients = num(j \ "clients").toInt,
      workDir = str(j \ "work_dir"),
      datasetsDir = str(j \ "datasets_dir"),
      resultsDir = str(j \ "results_dir"),
      data = {
        val d = j \ "data"
        val JArray(pl) = d \ "planted": @unchecked
        DataSpec(str(d \ "molecules"), str(d \ "clinical"),
          pl.map(str).toSet, (num(d \ "raw_features") * num(d \ "raw_samples")).toLong,
          num(d \ "kept_features").toInt, num(d \ "kept_samples").toInt)
      },
      experiments = es.map { e =>
        val JObject(args) = e \ "args": @unchecked
        ExpSpec(str(e \ "app"), args.map { case (k, v) => k -> str(v) }.toMap)
      })
  }
}

/** Counts operations and failed output checks. Thread-safe. */
final class Checks {
  private var attempted = 0
  private var failed = 0
  private val problems = mutable.ArrayBuffer[String]()

  /** One operation whose output check is `ok`; a throw counts as a failure. */
  def op(what: String)(ok: => Boolean): Unit = {
    val passed = try ok catch {
      case e: Throwable => synchronized(problems += s"$what: $e"); false
    }
    synchronized {
      attempted += 1
      if (!passed) { failed += 1; problems += s"check failed: $what" }
    }
  }

  def counts: (Int, Int, Seq[String]) = synchronized((attempted, failed, problems.toSeq))
}

/** Benchmark main: `PerfBench <plan.json> <out.json>`. Sets up the workload
  * `setups` times (median is `setup_s`), then runs it for `seconds` and
  * writes every metric it measured, plus the check counts, to `out.json`.
  */
object PerfBench {

  def main(args: Array[String]): Unit =
    try bench(args)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(1)
    }

  private def bench(args: Array[String]): Unit = {
    val plan = Plan.load(args(0))
    val checks = new Checks
    val metrics = mutable.Map[String, Double]()
    val workload = if (plan.service) new ServiceWorkload(plan, checks)
      else new DirectWorkload(plan, checks)
    workload.run(metrics)
    val (attempted, failed, problems) = checks.counts
    problems.foreach(p => System.err.println(s"[perfbench] $p"))
    val body = metrics.toSeq.sortBy(_._1).map { case (k, v) =>
      s"${Experiment.jsonValue(k)}: ${if (v.isNaN || v.isInfinite) "null" else v.toString}"
    }.mkString("{", ", ", "}")
    Files.writeString(Paths.get(args(1)),
      s"""{"attempted": $attempted, "failed": $failed, "metrics": $body}""")
    // JobService's HTTP pool threads are not daemons
    System.exit(0)
  }

  def session(plan: Plan): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-${plan.workload}")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${plan.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${plan.workDir}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** result.json without `execution_time`, the one field that may differ
    * between two runs of the same experiment.
    */
  def resultOf(resultsDir: String, appName: String): JValue =
    JsonMethods.parse(Files.readString(Paths.get(resultsDir, appName, "result.json")))
      .removeField(_._1 == "execution_time")

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  def now(): Long = System.nanoTime()
  def secs(from: Long): Double = (System.nanoTime() - from) / 1e9
}

/** Shared shape of a workload: set up several times, check the input
  * cleaning once, let the JVM settle, then measure. A traced run alternates
  * untraced and traced operations in one window, so both see the same
  * machine state and the difference is the tracing overhead.
  */
abstract class Workload(val plan: Plan, val checks: Checks) {
  import PerfBench._

  val tracer = new Tracer
  val probe = new SparkJvmProbe
  var spark: SparkSession = _
  /** Reference result.json per experiment app name, from the warm-up. */
  val reference = mutable.Map[String, JValue]()
  /** Per-layer numbers, one map per traced operation (or client call). */
  val layerSamples = mutable.ArrayBuffer[Map[String, Double]]()

  /** Session start plus whatever warm-up the workload needs. */
  def setUp(): Unit
  def tearDown(): Unit
  /** Runs operations for `seconds`, and at least `minOps` (per client);
    * with `alternate` every second one is traced. Returns the end-to-end metrics of the untraced and of the
    * traced operations, each with its operation count under "ops".
    */
  def measure(seconds: Double, minOps: Int, alternate: Boolean): (Map[String, Double], Map[String, Double])

  def run(out: mutable.Map[String, Double]): Unit = {
    val setupTimes = (1 to plan.setups).map { i =>
      val t0 = now()
      setUp()
      val s = secs(t0)
      if (i < plan.setups) tearDown()
      s
    }
    spark.sparkContext.addSparkListener(probe)
    out("setup_s") = Stats.median(setupTimes)
    checkIngest()
    // JIT compilation keeps speeding the first operations up for tens of
    // seconds; a fixed number of untimed ones starts every window from the
    // same point of that curve
    measure(0, plan.settleOps, alternate = false)

    Thread.sleep(200) // let the listener bus drain
    val before = probe.snapshot()
    probe.resetHeapPeak()
    // a traced window needs one untraced and one traced operation at least
    val minOps = if (plan.trace) plan.minOps.max(2) else plan.minOps
    val (plain, traced) = measure(plan.seconds, minOps, alternate = plan.trace)
    if (!plan.trace) out ++= plain - "ops"
    else {
      Thread.sleep(200)
      out ++= layerMetrics(before, probe.snapshot(), plain("ops") + traced("ops"))
      out("trace.overhead_s") = traced("experiment_s") - plain("experiment_s")
      tracer.write(s"${plan.workDir}/spans.jsonl")
    }
    tearDown()
  }

  /** The cleaning in `SurvivalData.read` keeps exactly the features and
    * samples the generator left clean.
    */
  private def checkIngest(): Unit = {
    val d = plan.data
    checks.op(s"ingest keeps ${d.keptFeatures} features x ${d.keptSamples} samples of ${d.molecules}") {
      val ds = SurvivalData.read(spark, s"${plan.datasetsDir}/${d.molecules}",
        s"${plan.datasetsDir}/${d.clinical}")
      ds.featureNames.length == d.keptFeatures && ds.sampleIds.length == d.keptSamples &&
        d.planted.subsetOf(ds.featureNames.toSet)
    }
  }

  private def layerMetrics(before: Map[String, Double], after: Map[String, Double],
      ops: Double): Map[String, Double] = {
    val m = mutable.Map[String, Double]() ++ Stats.medians(layerSamples.toSeq)
    def g(k: String) = m.getOrElse(k, 0.0)
    m("dist.slot_util") = if (g("dist.slot_s") > 0) g("dist.compute_s") / g("dist.slot_s") else 0.0
    m("dist.round_s") = if (g("dist.rounds") > 0) g("dist.search_s") / g("dist.rounds") else 0.0
    m("surv.iters_per_fit") = if (g("surv.fits") > 0) g("surv.iters") / g("surv.fits") else 0.0
    val d = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
    Seq("spark.tasks", "spark.task_s", "spark.task_deser_s", "spark.shuffle_write_mb",
      "spark.shuffle_read_mb", "spark.spill_mb", "jvm.gc_s").foreach(k => m(k) = d(k) / ops)
    m("spark.task_skew") = if (d("spark.skew_stages") > 0) d("spark.skew_sum") / d("spark.skew_stages") else 0.0
    m("jvm.heap_peak_mb") = after("jvm.heap_peak_mb")
    // layers a workload does not call report zero work
    (Seq("clustering", "svm", "rf").map(model => s"fitness.compute_s.$model") ++
      Seq("api.submit_ms", "api.poll_ms", "api.polls", "api.job_run_s",
        "api.overhead_ms", "api.http_errors")).foreach(m.getOrElseUpdate(_, 0.0))
    m.toMap
  }

  def tracedRun(cfg: Experiment.Config): Map[String, Double] =
    TracedExperiment.run(spark, cfg, tracer, tracer.newTrace(),
      plan.data.rawCells, plan.data.planted)
}

/** `exp_*` workloads: one caller runs the repetition's experiments back to
  * back with `Experiment.run`, in a closed loop. A repetition is one "job".
  */
final class DirectWorkload(plan: Plan, checks: Checks) extends Workload(plan, checks) {
  import PerfBench._

  def setUp(): Unit = {
    spark = session(plan)
    plan.experiments.foreach { e =>
      Experiment.run(spark, plan.config(e, e.app))
      reference.getOrElseUpdate(e.app, resultOf(plan.resultsDir, e.app))
    }
  }

  def tearDown(): Unit = spark.stop()

  /** Runs the repetition's experiments; returns (experiment seconds, wall). */
  private def repetition(traced: Boolean): (Double, Double) = {
    val layers = mutable.Map[String, Double]()
    val repStart = now()
    var sum = 0.0
    plan.experiments.foreach { e =>
      val app = if (traced) s"${e.app}-traced" else e.app
      val cfg = plan.config(e, app)
      val t0 = now()
      if (traced) tracedRun(cfg).foreach { case (k, v) => Stats.add(layers, k, v) }
      else Experiment.run(spark, cfg)
      sum += secs(t0)
      checks.op(s"$app result.json equals the reference") {
        resultOf(plan.resultsDir, app) == reference(e.app)
      }
    }
    val wall = secs(repStart)
    if (traced) {
      // every other layer number is summed over the repetition's experiments
      layers.updateWith("bbha.planted_recall")(_.map(_ / plan.experiments.length))
      layerSamples += layers.toMap
    }
    (sum, wall)
  }

  def measure(seconds: Double, minOps: Int, alternate: Boolean): (Map[String, Double], Map[String, Double]) = {
    val runs = Seq(mutable.ArrayBuffer[(Double, Double)](), mutable.ArrayBuffer[(Double, Double)]())
    val start = now()
    var reps = 0
    while (secs(start) < seconds || reps < minOps) {
      val traced = alternate && reps % 2 == 1
      runs(if (traced) 1 else 0) += repetition(traced)
      reps += 1
    }
    val window = secs(start)
    System.err.println(f"[perfbench] ${plan.workload} repetitions (s): " +
      runs(0).map(r => f"${r._2}%.3f").mkString(" "))
    def summary(rs: Seq[(Double, Double)]) =
      if (rs.isEmpty) Map("ops" -> 0.0) else Map(
        "ops" -> rs.length.toDouble,
        "experiment_s" -> Stats.median(rs.map(_._1)),
        "job_latency_s" -> Stats.median(rs.map(_._2)),
        "jobs_per_min" -> reps * 60.0 / window)
    (summary(runs(0).toSeq), summary(runs(1).toSeq))
  }
}

/** `service_small_jobs`: `clients` callers in a closed loop, each POSTing a
  * small experiment to a `JobService` over an `InProcessBackend` wired as
  * `ServiceMain` wires it, then polling `GET /job/{id}` until the job ends.
  */
final class ServiceWorkload(plan: Plan, checks: Checks) extends Workload(plan, checks) {
  import PerfBench._

  private var service: JobService = _
  private var base: String = _
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val serverSecs = new java.util.concurrent.ConcurrentHashMap[String, Double]()
  private val jobCounter = new java.util.concurrent.atomic.AtomicInteger()
  private val spec = plan.experiments.head
  private val TracedSuffix = "-traced"

  def setUp(): Unit = {
    spark = session(plan)
    val backend = new JobService.InProcessBackend(job => {
      val cfg = Main.buildConfig(Main.parseArgs(job.args.toArray))
      val t0 = now()
      if (job.name.endsWith(TracedSuffix)) {
        val layers = tracedRun(cfg)
        layerSamples.synchronized(layerSamples += layers)
      } else Experiment.run(spark, cfg)
      serverSecs.put(job.id, secs(t0))
    })
    service = new JobService(backend, multiomixUrl = None)
    base = s"http://localhost:${service.start(0)}"
    val warm = submitAndWait(s"${spec.app}-warmup-${jobCounter.incrementAndGet()}")
    require(warm.state == "COMPLETED", s"warm-up job ended ${warm.state}")
    reference.getOrElseUpdate(spec.app, resultOf(plan.resultsDir, warm.app))
  }

  def tearDown(): Unit = { service.stop(); spark.stop() }

  private case class JobRun(app: String, id: String, state: String,
      latency: Double, submitMs: Double, polls: Int, pollMs: Double,
      serverRun: Double, httpErrors: Int) {
    def traced: Boolean = app.endsWith(TracedSuffix)
  }

  private def send(req: HttpRequest): HttpResponse[String] =
    http.send(req, HttpResponse.BodyHandlers.ofString())

  private def submitAndWait(app: String): JobRun = {
    val args = plan.args(spec, app).toSeq.sortBy(_._1)
      .map { case (k, v) => s"""{"name": ${JobService.jsonQuote(k)}, "value": ${JobService.jsonQuote(v)}}""" }
    val body = s"""{"name": ${JobService.jsonQuote(app)}, "algorithm": 1, """ +
      s""""entrypoint_arguments": ${args.mkString("[", ", ", "]")}}"""
    var errors = 0
    val t0 = now()
    val post = send(HttpRequest.newBuilder(URI.create(s"$base/job"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build())
    val submitMs = secs(t0) * 1e3
    if (post.statusCode != 201) errors += 1
    val JString(id) = JsonMethods.parse(post.body) \ "id": @unchecked
    var state = "RUNNING"
    var job: JValue = JNothing
    var polls = 0
    var pollSecs = 0.0
    while (state == "RUNNING" || state == "PENDING") {
      Thread.sleep(2)
      val p0 = now()
      val get = send(HttpRequest.newBuilder(URI.create(s"$base/job/$id")).GET().build())
      pollSecs += secs(p0)
      polls += 1
      if (get.statusCode != 200) errors += 1
      else {
        job = JsonMethods.parse(get.body)
        val JString(s) = job \ "state": @unchecked
        state = s
      }
    }
    val latency = secs(t0)
    val serverRun = (job \ "createdAt", job \ "finishedAt") match {
      case (JString(c), JString(f)) =>
        java.time.Duration.between(Instant.parse(c), Instant.parse(f)).toNanos / 1e9
      case _ => Double.NaN
    }
    JobRun(app, id, state, latency, submitMs, polls, pollSecs * 1e3 / polls.max(1),
      serverRun, errors)
  }

  def measure(seconds: Double, minOps: Int, alternate: Boolean): (Map[String, Double], Map[String, Double]) = {
    val runs = new java.util.concurrent.ConcurrentLinkedQueue[JobRun]()
    val start = now()
    val lastDone = new java.util.concurrent.atomic.AtomicLong(start)
    val clients = (1 to plan.clients).map { c =>
      val t = new Thread(() => {
        var n = 0
        while (secs(start) < seconds || n < minOps) {
          val suffix = if (alternate && n % 2 == 1) TracedSuffix else ""
          val app = s"${spec.app}-c$c-${jobCounter.incrementAndGet()}$suffix"
          val r = submitAndWait(app)
          lastDone.accumulateAndGet(now(), (a, b) => math.max(a, b))
          checks.op(s"job $app completes with the reference features") {
            r.state == "COMPLETED" && resultOf(plan.resultsDir, app) == reference(spec.app)
          }
          deleteTree(Paths.get(plan.resultsDir, app))
          runs.add(r)
          n += 1
        }
      }, s"perfbench-client-$c")
      t.start()
      t
    }
    clients.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val all = runs.asScala.toSeq
    val window = (lastDone.get - start) / 1e9
    System.err.println(f"[perfbench] ${plan.workload} job latencies (s): " +
      all.filterNot(_.traced).map(r => f"${r.latency}%.3f").mkString(" "))
    if (alternate) layerSamples.synchronized(layerSamples ++= all.map(r => Map(
      "api.submit_ms" -> r.submitMs, "api.poll_ms" -> r.pollMs,
      "api.polls" -> r.polls.toDouble, "api.job_run_s" -> r.serverRun,
      "api.overhead_ms" -> (r.latency - r.serverRun) * 1e3,
      "api.http_errors" -> r.httpErrors.toDouble)))
    def summary(rs: Seq[JobRun]) =
      if (rs.isEmpty) Map("ops" -> 0.0) else Map(
        "ops" -> rs.length.toDouble,
        "experiment_s" -> Stats.median(rs.flatMap(r => Option(serverSecs.get(r.id)))),
        "job_latency_s" -> Stats.median(rs.map(_.latency)),
        "jobs_per_min" -> all.length * 60.0 / window)
    (summary(all.filterNot(_.traced)), summary(all.filter(_.traced)))
  }
}
