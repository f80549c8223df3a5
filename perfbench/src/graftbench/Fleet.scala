package graftbench

import java.util.concurrent.atomic.AtomicLongArray
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import graft.backend.CommitLogBackend
import graft.client.GraftClient
import graft.worker.GraftWorker

/** A shared queue on `CommitLogBackend`: two `GraftWorker`s on one root
  * with claimed consumption (one coordinator, one consumer) drain a
  * goose-shaped backlog while one producer thread makes sequential
  * per-call `performAsync` calls (closed loop). The only workload that
  * uses claims, commit races and the manifest commit per call. */
object Fleet {
  val Backlog = 20000
  val PerCall = 300
  val SetupBacklog = 2000
  val SetupPerCall = 10
  val Queue = "shared"

  final case class Cycle(wallS: Double, jobs: Int, pickupMs: Seq[Double],
      enqueueUs: Seq[Double], races: Long, claimFiles: Int, compactions: Int,
      prof: Map[String, (Double, Long)])

  /** Two claimed workers and a producer's client on one root. */
  final class Live(ctx: Ctx, root: String) {
    val coordBackend = new CommitLogBackend(ctx.spark, root)
    val consBackend = new CommitLogBackend(ctx.spark, root)
    val prodBackend = new CommitLogBackend(ctx.spark, root)
    val coord = new GraftWorker(coordBackend, ctx.spark, root, queue = Some(Queue),
      coordinator = true, claimedConsumption = true)
    val cons = new GraftWorker(consBackend, ctx.spark, root, queue = Some(Queue),
      coordinator = false, claimedConsumption = true)
    val client = new GraftClient(prodBackend, ctx.spark, Queue, Drain.Retry)
    def start(trace: Long): Unit =
      ctx.tracer.span("worker.start", trace, propagate = false) { coord.start(); cons.start() }
    def stop(trace: Long): Unit = ctx.tracer.span("worker.stop", trace) { coord.stop(); cons.stop() }
  }

  /** Drains one backlog through started workers `l`, then stops them. */
  def cycle(ctx: Ctx, l: Live, backlog: Int, perCall: Int, trace: Long): Cycle = {
    val spark = ctx.spark
    val t = ctx.tracer
    val (a, b) = ctx.seeded.affine(backlog)
    val total = backlog + perCall
    Ledger.reset(total)
    graft.Prof.snapshot(reset = true)
    import l._
    val jobs = Drain.backlog(spark, backlog, a, b, s"s${ctx.seed}-f$trace", Queue)

    val callStart = new AtomicLongArray(perCall)
    val enqueueUs = ArrayBuffer.empty[Double]
    val errors = new java.util.concurrent.atomic.AtomicLong()
    val producer = new Thread(() => {
      var k = 0
      while (k < perCall) {
        val c0 = System.nanoTime()
        callStart.set(k, c0)
        try t.span("client.performAsync", trace)(client.performAsync("pb_noop", backlog + k))
        catch { case e: Exception => System.err.println(s"performAsync failed: $e"); errors.incrementAndGet() }
        enqueueUs += (System.nanoTime() - c0) / 1e3
        k += 1
      }
    }, "perfbench-producer")

    val t0 = System.nanoTime()
    producer.start()
    t.span("backend.enqueue", trace)(coordBackend.enqueue(jobs))
    producer.join()
    val drained = t.span("worker.awaitDrained", trace)(
      coord.awaitDrained(120000) && cons.awaitDrained(120000))
    val t1 = System.nanoTime()
    val expected = backlog + backlog / 100 + perCall
    val all = Stream.waitUntil(10000)(Ledger.executions(total) >= expected)
    l.stop(trace)

    val c = ctx.checks
    c.add("fleet.drained", 1, if (drained && all) 0 else 1)
    c.add("fleet.calls_ok", perCall, errors.get)
    Drain.checkBacklog(c, "fleet", backlog, a, b, coordBackend)
    c.add("fleet.per_call_exactly_once", perCall,
      (backlog until total).count(i => Ledger.counts.get(i) != 1).toLong)

    val pickup = (0 until backlog).map(i => (Ledger.startNs.get(i) - t0) / 1e6) ++
      (0 until perCall).map(k => (Ledger.startNs.get(backlog + k) - callStart.get(k)) / 1e6)
    val races = Seq(coordBackend, consBackend, prodBackend).map(_.claimRetries.get).sum
    val claimFiles = scala.util.Try(coordBackend.dataFileCount("claims")).getOrElse(0)
    Cycle((t1 - t0) / 1e9, total, pickup, enqueueUs.toSeq, races, claimFiles,
      coord.compactionsRun.get, graft.Prof.snapshot(reset = true))
  }

  def run(ctx: Ctx): Result = {
    def started(root: String): Live = { val l = new Live(ctx, root); l.start(0L); l }
    // set-up: a cold small drain on a fresh root
    ctx.withRoot("fleet")(root => cycle(ctx, started(root), SetupBacklog, SetupPerCall, -1))
    val m = ctx.measure()
    val done = Vector.newBuilder[Cycle]
    var k = 1
    do {
      done += ctx.withRoot("fleet") { root => cycle(ctx, started(root), Backlog, PerCall, k) }
      k += 1
    } while (!m.elapsed)
    val cycles = done.result()
    val sec = m.stop()
    val t = ctx.tracer
    val rates = cycles.map(c => c.jobs / c.wallS)
    val pickup = cycles.flatMap(_.pickupMs)
    val enq = cycles.flatMap(_.enqueueUs)
    val measured = (s: Span) => s.trace > 0
    def secs(name: String) = t.spansNamed(name).filter(measured).map(_.durNs).sum / 1e9
    val batchesW = t.batches.asScala.toSeq.filter(_.kind == "stream.worker")
    val prof = cycles.flatMap(_.prof.toSeq).groupBy(_._1).map { case (k, v) =>
      s"claims.${k}_s" -> v.map(_._2._1).sum
    }
    Result(
      e2e = Map(
        "ops_per_s" -> Stats.median(rates),
        "latency_p50_ms" -> Stats.pct(pickup, 0.5),
        "latency_p90_ms" -> Stats.pct(pickup, 0.9),
        "submit_p50_us" -> Stats.pct(enq, 0.5)),
      layers = Map(
        "submit.busy_s" -> (secs("backend.enqueue") + secs("client.performAsync")),
        "execute.busy_s" -> batchesW.map(_.durMs.getOrElse("triggerExecution", 0L)).sum / 1e3,
        "backend.enqueue.spark_jobs" -> t.jobsIn("backend.enqueue").toDouble,
        "client.calls" -> (cycles.size * PerCall + SetupPerCall).toDouble,
        "stream.worker.batches" -> batchesW.size.toDouble,
        "stream.worker.input_rows" -> batchesW.map(_.inputRows).sum.toDouble,
        "stream.worker.spark_jobs" -> t.jobsIn("stream.worker").toDouble,
        "stream.tracker.batches" -> t.batches.asScala.count(_.kind == "stream.tracker").toDouble,
        "stream.tracker.spark_jobs" -> t.jobsIn("stream.tracker").toDouble,
        "worker.maintenance.spark_jobs" -> t.jobsIn("worker.maintenance").toDouble,
        "worker.compactions" -> cycles.map(_.compactions).sum.toDouble),
      report = Map(
        "backend.files.claims" -> cycles.map(_.claimFiles).sum,
        "backend.commit_races" -> cycles.map(_.races).sum,
        "backend" -> "commit-log",
        "backlog_jobs" -> Backlog,
        "per_call_jobs" -> PerCall,
        "cycles" -> cycles.size,
        "measured_s" -> sec,
        "fleet_jobs_per_s" -> Stats.median(rates),
        "cycle_jobs_per_s" -> rates,
        "latency_p99_ms" -> Stats.pct(pickup, 0.99),
        "fleet_enqueue_p50_ms" -> Stats.pct(enq, 0.5) / 1e3,
        "fleet_enqueue_p99_ms" -> Stats.pct(enq, 0.99) / 1e3,
        "worker.start.s" -> secs("worker.start"),
        "worker.awaitDrained.s" -> secs("worker.awaitDrained"),
        "worker.stop.s" -> secs("worker.stop"),
        "backend.enqueue.s" -> secs("backend.enqueue"),
        "stream.worker.batch_p50_ms" -> (if (batchesW.isEmpty) Double.NaN
          else Stats.median(batchesW.map(_.durMs.getOrElse("triggerExecution", 0L).toDouble)))) ++
        prof ++
        Tracer.Phases.map(ph => s"stream.worker.${ph}_s" -> batchesW.map(_.durMs.getOrElse(ph, 0L)).sum / 1e3))
  }
}
