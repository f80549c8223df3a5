package graftbench

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.backend.{ParquetBackend, QueueBackend}
import graft.model.{Job, RetryOpts}
import graft.worker.{SchedulerEngine, WorkerEngine}
import scala.jdk.CollectionConverters._

/** Goose's own perf workload (100k no-op jobs, 1% failing, retried once
  * with instant backoff) on the default `ParquetBackend`: bulk enqueue →
  * `runPass` → `promoteDue` → `runPass`, with no per-call, streaming or
  * claim traffic. */
object Drain {
  val Jobs = 100000

  val Retry = RetryOpts(maxRetries = 1, retryDelaySecFn = "pb_instant")

  /** `n` goose-shaped jobs; job `i` carries `i` and fails iff it is in the
    * seeded 1%. `queue` is the queue name; ids are unique per `tag`. */
  def backlog(spark: SparkSession, n: Int, a: Long, b: Long, tag: String,
      queue: String): Dataset[Job] = {
    import spark.implicits._
    val retry = Retry
    spark.range(0, n, 1, math.max(8, n / 12500)).map { i =>
      Job(id = s"$tag-$i", executeFnSym = if (isFlaky(i.toInt, n, a, b)) "pb_flaky" else "pb_noop",
        argsJson = s"[$i]", queue = queue, readyQueue = queue, priority = 0,
        enqueuedAt = System.currentTimeMillis(), scheduleRunAt = None, cronRunAt = None,
        batchId = None, retryOpts = retry, state = None, seq = Job.nextSeq())
    }
  }

  def isFlaky(i: Int, n: Int, a: Long, b: Long): Boolean = (a * i + b) % n < n / 100

  /** Checks one drained backlog of `n` jobs: each job ran once per attempt
    * (the 1% twice, then died) and nothing was lost. */
  def checkBacklog(c: Checks, name: String, n: Int, a: Long, b: Long,
      backend: QueueBackend): Unit = {
    var wrong = 0L; var i = 0
    while (i < n) {
      val want = if (isFlaky(i, n, a, b)) 2 else 1
      if (Ledger.counts.get(i) != want) wrong += 1
      i += 1
    }
    c.add(s"$name.exactly_once_per_attempt", n, wrong)
    val dead = backend.deadJobs.count()
    c.add(s"$name.dead", 1, if (dead == n / 100) 0 else 1)
    c.add(s"$name.ready_empty", 1, if (backend.readyJobs.isEmpty) 0 else 1)
    c.add(s"$name.no_strays", 1, if (Ledger.strays.get == 0) 0 else 1)
  }

  final case class Cycle(wallS: Double, enqueueS: Double, pickupMs: Seq[Double],
      executed: Long, retried: Long, died: Long, promoted: Long)

  def cycle(ctx: Ctx, n: Int, trace: Long): Cycle = ctx.withRoot("drain") { root =>
    val spark = ctx.spark
    val t = ctx.tracer
    val (a, b) = ctx.seeded.affine(n)
    Ledger.reset(n)
    val backend = new ParquetBackend(spark, root)
    val worker = new WorkerEngine(backend, spark)
    val sched = new SchedulerEngine(backend, spark)
    val jobs = backlog(spark, n, a, b, s"s${ctx.seed}-c$trace", "bench")
    val t0 = System.nanoTime()
    t.span("backend.enqueue", trace)(backend.enqueue(jobs))
    val enq = System.nanoTime()
    val p1 = t.span("worker.runPass", trace)(worker.runPass())
    val promoted = t.span("scheduler.promoteDue", trace)(sched.promoteDue())
    val p2 = t.span("worker.runPass2", trace)(worker.runPass())
    val t1 = System.nanoTime()
    checkBacklog(ctx.checks, "drain", n, a, b, backend)
    ctx.checks.add("drain.pass_counts", 1,
      if (p1.executed == n && p1.succeeded == n - n / 100 && p1.retried == n / 100 &&
        promoted == n / 100 && p2.died == n / 100) 0 else 1)
    val pickup = (0 until n).map(i => (Ledger.startNs.get(i) - t0) / 1e6)
    Cycle((t1 - t0) / 1e9, (enq - t0) / 1e9, pickup, p1.executed + p2.executed,
      p1.retried + p2.retried, p1.died + p2.died, promoted)
  }

  def run(ctx: Ctx): Result = {
    // set-up: one cold full-size drain on a fresh root; the median over
    // the measured cycles absorbs the JIT still settling in the first
    cycle(ctx, Jobs, -1)
    val m = ctx.measure()
    val done = Vector.newBuilder[Cycle]
    var k = 1
    do { done += cycle(ctx, Jobs, k); k += 1 } while (!m.elapsed)
    val cycles = done.result()
    val sec = m.stop()
    // per-cycle figures, then the median over cycles
    val rates = cycles.map(c => Jobs / c.wallS)
    val enqUs = cycles.map(c => c.enqueueS / Jobs * 1e6)
    def pickup(q: Double) = Stats.median(cycles.map(c => Stats.pct(c.pickupMs, q)))
    val t = ctx.tracer
    val wall = cycles.map(_.wallS).sum
    val measured = t.harnessSpans.filter(_.trace > 0)
    val spanIv = measured.map(s => (s.startNs, s.endNs))
    def secs(name: String) = measured.filter(_.name == name).map(_.durNs).sum / 1e9
    def jobs(name: String) = t.jobs.asScala.count(j => j.category == name && j.parent != 0 &&
      measured.exists(_.id == j.parent)).toDouble
    Result(
      e2e = Map(
        "ops_per_s" -> Stats.median(rates),
        "latency_p50_ms" -> pickup(0.5),
        "latency_p90_ms" -> pickup(0.9),
        "submit_p50_us" -> Stats.median(enqUs)),
      layers = Map(
        "submit.busy_s" -> secs("backend.enqueue"),
        "execute.busy_s" -> (secs("worker.runPass") + secs("worker.runPass2")),
        "backend.enqueue.spark_jobs" -> jobs("backend.enqueue"),
        "worker.runPass.spark_jobs" -> (jobs("worker.runPass") + jobs("worker.runPass2")),
        "worker.pass.executed" -> cycles.map(_.executed).sum.toDouble,
        "worker.pass.retried" -> cycles.map(_.retried).sum.toDouble,
        "worker.pass.died" -> cycles.map(_.died).sum.toDouble,
        "scheduler.promoteDue.spark_jobs" -> jobs("scheduler.promoteDue"),
        "scheduler.promoted" -> cycles.map(_.promoted).sum.toDouble),
      report = Map(
        "trace.coverage" -> (if (wall > 0) t.covered(spanIv, Long.MinValue, Long.MaxValue) / 1e9 / wall else 0.0),
        "backend" -> "parquet",
        "jobs_per_cycle" -> Jobs,
        "cycles" -> cycles.size,
        "measured_s" -> sec,
        "drain_jobs_per_s" -> Stats.median(rates),
        "cycle_jobs_per_s" -> rates,
        "latency_p99_ms" -> pickup(0.99),
        "worker.runPass.s" -> secs("worker.runPass"),
        "worker.runPass2.s" -> secs("worker.runPass2"),
        "backend.enqueue.s" -> secs("backend.enqueue"),
        "scheduler.promoteDue.s" -> secs("scheduler.promoteDue")))
  }
}
