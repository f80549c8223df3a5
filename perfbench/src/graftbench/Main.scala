package graftbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession

/** What one workload measured. `e2e` and `layers` use the names below;
  * `report` carries workload-specific detail for the report line. */
final case class Result(e2e: Map[String, Double], layers: Map[String, Double],
    report: Map[String, Any])

/** The measured section of a run: `--seconds` long, with the external CPU
  * load and JVM figures taken over exactly that section. */
final class Measure(seconds: Int) {
  private val t0 = System.nanoTime()
  val startMs: Long = System.currentTimeMillis()
  val load: ExternalLoad.Section = ExternalLoad.start()
  val jvm = new JvmSection
  private var stopped = 0.0
  var externalCores = 0.0
  def elapsedS: Double = (System.nanoTime() - t0) / 1e9
  def elapsed: Boolean = elapsedS >= seconds
  def stop(): Double = {
    if (stopped == 0.0) { stopped = elapsedS; externalCores = load.cores() }
    stopped
  }
}

final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val seconds: Int, val tmp: java.nio.file.Path) {
  val checks = new Checks
  val seeded = new Seeded(seed)
  @volatile var measured: Measure = _
  def measure(): Measure = { measured = new Measure(seconds); measured }

  /** Runs `f` on a fresh backend root, deleted afterwards. */
  def withRoot[A](prefix: String)(f: String => A): A = {
    val d = java.nio.file.Files.createTempDirectory(tmp, prefix).toString
    try f(d) finally graft.Scratch.delete(d)
  }
}

/** Runs one workload of the graft benchmark and prints, as its last line,
  * `{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics
  * with `--trace 0`, the per-layer metrics with `--trace 1`. The line
  * before it is a full report: stamp, checks, external load and every
  * workload-specific figure.
  *
  * `setup_s` runs from JVM start to the start of the measured section:
  * session start, the cold first set-up and any warm-up.
  *
  * usage: graftbench.Main --workload drain|stream|fleet|operators --seed N
  *        --seconds S --trace 0|1 --out DIR [--commit SHA] */
object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "ops_per_s" -> "1/s",
    "latency_p50_ms" -> "ms",
    "latency_p90_ms" -> "ms",
    "submit_p50_us" -> "us")

  /** Per-layer metrics. Times are ones every workload exercises; the
    * layer-specific figures are counts, 0 on a workload that bypasses the
    * layer. Per-layer timings of those layers go to the report line. */
  val PerLayer: Seq[(String, String)] = Seq(
    "submit.busy_s" -> "s",
    "execute.busy_s" -> "s",
    "spark.job_s" -> "s",
    "jvm.gc_s" -> "s",
    "jvm.heap_peak_mb" -> "MB",
    "spark.jobs" -> "count",
    "spark.tasks" -> "count",
    "spark.shuffle_write_mb" -> "MB",
    "backend.enqueue.spark_jobs" -> "count",
    "worker.runPass.spark_jobs" -> "count",
    "worker.pass.executed" -> "count",
    "worker.pass.retried" -> "count",
    "worker.pass.died" -> "count",
    "scheduler.promoteDue.spark_jobs" -> "count",
    "scheduler.promoted" -> "count",
    "client.calls" -> "count",
    "client.errors" -> "count",
    "stream.worker.batches" -> "count",
    "stream.worker.input_rows" -> "count",
    "stream.worker.spark_jobs" -> "count",
    "stream.tracker.batches" -> "count",
    "stream.tracker.spark_jobs" -> "count",
    "worker.maintenance.spark_jobs" -> "count",
    "worker.idle_spark_jobs_per_tick" -> "jobs/tick",
    "worker.compactions" -> "count",
    "backend.files.ready" -> "count",
    "backend.files.completions" -> "count",
    "backend.files.tombstones" -> "count",
    "api.calls" -> "count",
    "api.spark_jobs" -> "count",
    "operators.queries" -> "count",
    "operators.spark_jobs" -> "count")

  private def session(cpus: Int, work: java.nio.file.Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = args.getOrElse("workload", "")
    val run: Ctx => Result = workload match {
      case "drain" => Drain.run
      case "stream" => Stream.run
      case "fleet" => Fleet.run
      case "operators" => Operators.run
      case other =>
        System.err.println(s"unknown workload '$other' (drain, stream, fleet, operators)"); sys.exit(2)
    }
    val seed = args.getOrElse("seed", "1").toLong
    val seconds = args.getOrElse("seconds", "10").toInt
    val traced = args.getOrElse("trace", "0") == "1"
    val out = java.nio.file.Paths.get(args.getOrElse("out", ".bench_build/out")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors()

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val work = java.nio.file.Files.createDirectories(out.resolve(s"work-$workload-$seed"))
    val spark = session(cpus, work)
    Ledger.register()
    val tracer = new Tracer(traced, spark)
    val ctx = new Ctx(spark, tracer, seed, seconds, work)

    val res = try run(ctx) catch {
      case e: Throwable =>
        e.printStackTrace()
        ctx.checks.add("run.completed", 1, 1)
        Result(Map.empty, Map.empty, Map("error" -> String.valueOf(e)))
    }
    tracer.close()
    val m = Option(ctx.measured)
    m.foreach(_.stop())

    val e2e = res.e2e + ("setup_s" -> m.map(x => (x.startMs - jvmStartMs) / 1e3).getOrElse(Double.NaN))
    val common = Map(
      "spark.jobs" -> tracer.jobs.size.toDouble,
      "spark.tasks" -> tracer.tasks.get.toDouble,
      "spark.shuffle_write_mb" -> tracer.shuffleWriteBytes.get / 1048576.0,
      "spark.job_s" -> tracer.jobs.toArray(Array.empty[tracer.JobRec]).map(j => j.endNs - j.startNs).sum / 1e9,
      "jvm.gc_s" -> m.map(_.jvm.gcSeconds).getOrElse(Double.NaN),
      "jvm.heap_peak_mb" -> m.map(_.jvm.heapPeakMb).getOrElse(Double.NaN))
    val layers = PerLayer.map { case (k, unit) =>
      k -> res.layers.getOrElse(k, common.getOrElse(k, if (Seq("s", "ms", "us").contains(unit)) Double.NaN else 0.0))
    }.toMap
    val spansWritten =
      if (traced) tracer.write(out.resolve(s"spans-$workload-$seed.jsonl")) else 0

    val checks = ctx.checks
    val attempted = math.max(checks.attempted, 1L)
    val shown = if (traced) PerLayer else EndToEnd
    val values = if (traced) layers else e2e
    val complete = shown.forall { case (k, _) => values.get(k).exists(v => !v.isNaN && !v.isInfinite) }
    val correct = checks.failed == 0 && complete && checks.results.nonEmpty
    val report = Map(
      "stamp" -> Map(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
        "cpus" -> cpus, "backend" -> res.report.getOrElse("backend", "n/a"), "sf" -> res.report.getOrElse("sf", "n/a"),
        "commit" -> args.getOrElse("commit", "unknown"),
        "external_cores" -> m.map(_.externalCores).getOrElse(Double.NaN),
        "contended" -> m.exists(_.externalCores > ExternalLoad.ContendedCores)),
      "end_to_end" -> e2e,
      "per_layer" -> layers,
      "failed_ratio" -> checks.failed.toDouble / attempted,
      "self_s" -> (if (traced) tracer.selfSeconds else Map.empty),
      "spans_written" -> spansWritten,
      "checks" -> checks.results.map { case (k, (a, f)) => k -> Map("attempted" -> a, "failed" -> f) },
      "detail" -> res.report)
    println(Json(Map("report" -> report)))
    println(Json(Map(
      "correct" -> correct,
      "attempted" -> attempted,
      "failed" -> checks.failed,
      "metrics" -> shown.map { case (k, unit) =>
        k -> Map("value" -> values.getOrElse(k, Double.NaN), "unit" -> unit)
      }.toMap)))
    System.out.flush()
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }
}
