package graftbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLongArray}
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import graft.api.ManagementApi
import graft.backend.ParquetBackend
import graft.client.GraftClient
import graft.worker.GraftWorker

/** An open loop into a running `GraftWorker` on `ParquetBackend` with the
  * default trigger and maintenance settings. Each second the generator
  * sends, on a fixed 5 ms schedule, 189 `performAsync`, 10 `performInSec`
  * (1-5 s) and one 10-job `performBatch`; a second thread polls the
  * console (closed loop: three calls, at most once a second). Times are
  * taken from each send's due time, so a stall shows as pickup latency,
  * not as a lower rate. */
object Stream {
  val SlotsPerSecond = 200
  val SlotNs = 1000000000L / SlotsPerSecond
  val InSecPerSecond = 10
  val BatchSize = 10
  val WarmS = 4
  val IdleS = 2
  val Queue = "bench"

  /** One running worker on a fresh root, with its client and console. */
  final class Live(ctx: Ctx, root: String) {
    val backend = new ParquetBackend(ctx.spark, root)
    /** Per-thread pinned clock: the generator pins it around a
      * `performInSec` so the harness knows the exact run-at it asked for. */
    val pin = new ThreadLocal[java.lang.Long] { override def initialValue(): java.lang.Long = 0L }
    val client = new GraftClient(backend, ctx.spark, Queue, Drain.Retry,
      () => { val p: Long = pin.get(); if (p != 0L) p else System.currentTimeMillis() })
    val api = new ManagementApi(backend, ctx.spark)
    val worker = new GraftWorker(backend, ctx.spark, root)

    def start(): Unit = {
      client.performEvery("pb-cron", "* * * * *", "pb_cron")
      ctx.tracer.span("worker.start", propagate = false)(worker.start())
    }

    /** Sends `n` jobs at ledger indices [0, n) and waits until they ran. */
    def warm(n: Int): Unit = {
      (0 until n).foreach(i => client.performAsync("pb_noop", i))
      waitUntil(60000)(Ledger.executions(n) >= n)
    }

    def stop(): Unit = ctx.tracer.span("worker.stop")(worker.stop())
  }

  def waitUntil(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(20)
    cond
  }

  /** What the generator did, per ledger index and per call. */
  final class Sent(capacity: Int) {
    val next = new AtomicInteger()
    val dueNs = new AtomicLongArray(capacity)
    val runAtMs = new AtomicLongArray(capacity) // performInSec jobs only
    val inWindow = new java.util.BitSet(capacity) // written by the generator thread only
    val asyncUs = ArrayBuffer.empty[Double]
    val inSecUs = ArrayBuffer.empty[Double]
    val batchMs = ArrayBuffer.empty[Double]
    val batches = ArrayBuffer.empty[(String, Long, Boolean)] // id, return ns, in window
    val lateMs = ArrayBuffer.empty[Double]
    val errors = new java.util.concurrent.atomic.AtomicLong()
    val calls = new java.util.concurrent.atomic.AtomicLong() // client calls
    val ops = new java.util.concurrent.atomic.AtomicLong() // client and console calls
  }

  def run(ctx: Ctx): Result = {
    val rng = ctx.seeded.rng
    ctx.withRoot("stream") { root =>
      Ledger.reset(20)
      val l = new Live(ctx, root)
      l.start(); l.warm(20)
      measure(ctx, l, rng)
    }
  }

  private def measure(ctx: Ctx, l: Live, rng: java.util.Random): Result = {
    val t = ctx.tracer
    val seconds = WarmS + ctx.seconds
    val capacity = seconds * (SlotsPerSecond + BatchSize) + 64
    Ledger.reset(capacity)
    val sent = new Sent(capacity)
    // the seeded plan: per second, which slots are which call and the delays
    val plan = (0 until seconds).map { _ =>
      val kinds = Array.fill(SlotsPerSecond)(0)
      (1 to InSecPerSecond).foreach(k => kinds(k) = 1)
      kinds(0) = 2
      val shuffled = scala.util.Random.javaRandomToRandom(rng).shuffle(kinds.toSeq)
      shuffled.map(k => (k, 1 + rng.nextInt(5)))
    }.flatten.toVector
    val consoleRounds = Vector.fill(seconds)(
      scala.util.Random.javaRandomToRandom(rng).shuffle(Vector(0, 1, 2)))

    val start = System.nanoTime() + 200000000L
    val w0 = start + WarmS * 1000000000L
    val w1 = start + seconds * 1000000000L
    val genDone = new java.util.concurrent.CountDownLatch(1)

    def timed[A](name: String, trace: Long)(f: => A): (Option[A], Long) = {
      val c0 = System.nanoTime()
      val r = try Some(t.span(name, trace)(f)) catch {
        case e: Exception =>
          System.err.println(s"$name failed: $e"); sent.errors.incrementAndGet(); None
      }
      sent.ops.incrementAndGet()
      if (name.startsWith("client.")) sent.calls.incrementAndGet()
      (r, System.nanoTime() - c0)
    }

    val generator = new Thread(() => {
      try {
        var s = 0
        while (s < plan.size) {
          val due = start + s * SlotNs
          var now = System.nanoTime()
          while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
          val window = due >= w0 && due < w1
          if (window) sent.lateMs += (now - due) / 1e6
          plan(s) match {
            case (0, _) =>
              val i = sent.next.getAndIncrement()
              sent.dueNs.set(i, due); if (window) sent.inWindow.set(i)
              val (_, ns) = timed("client.performAsync", i)(l.client.performAsync("pb_noop", i))
              if (window) sent.asyncUs += ns / 1e3
            case (1, delay) =>
              val i = sent.next.getAndIncrement()
              val pinned = System.currentTimeMillis()
              sent.dueNs.set(i, due); sent.runAtMs.set(i, pinned + delay * 1000L)
              if (window) sent.inWindow.set(i)
              l.pin.set(pinned)
              val (_, ns) = try timed("client.performInSec", i)(
                l.client.performInSec(delay.toLong, "pb_noop", i)) finally l.pin.set(0L)
              if (window) sent.inSecUs += ns / 1e3
            case _ =>
              val ids = (0 until BatchSize).map(_ => sent.next.getAndIncrement())
              ids.foreach { i => sent.dueNs.set(i, due); if (window) sent.inWindow.set(i) }
              val (id, ns) = timed("client.performBatch", ids.head)(
                l.client.performBatch(ids.map(i => ("pb_noop", Seq[Any](i))), "pb_batch_done"))
              id.foreach(b => sent.batches += ((b, System.nanoTime(), window)))
              if (window) sent.batchMs += ns / 1e6
          }
          s += 1
        }
      } finally genDone.countDown()
    }, "perfbench-generator")

    val consoleMs = ArrayBuffer.empty[(Int, Double)]
    val console = new Thread(() => {
      var j = 0
      while (genDone.getCount > 0) {
        val p0 = System.nanoTime()
        consoleRounds(j % consoleRounds.size).foreach { c =>
          val (_, ns) = c match {
            case 0 => timed("api.homeStats", 0)(l.api.homeStats())
            case 1 => timed("api.queueGauges", 0)(l.api.queueGauges())
            case _ => timed("api.enqueuedPage", 0)(l.api.enqueuedPage(Queue, 0))
          }
          if (p0 >= w0 && p0 < w1) consoleMs.synchronized(consoleMs += ((c, ns / 1e6)))
        }
        j += 1
        val nextAt = p0 + 1000000000L
        while (genDone.getCount > 0 && System.nanoTime() < nextAt) Thread.sleep(5)
      }
    }, "perfbench-console")

    generator.start(); console.start()
    // wait for the measured window, then sample the backlog with no Spark job
    while (System.nanoTime() < w0) Thread.sleep(5)
    val m = ctx.measure()
    var backlogMax = 0L
    while (genDone.getCount > 0) {
      val n = sent.next.get
      backlogMax = math.max(backlogMax, n - Ledger.executions(n))
      Thread.sleep(100)
    }
    val measuredS = m.stop()
    generator.join(); console.join()

    // drain: every sent job, every scheduled run-at, every batch callback
    val n = sent.next.get
    val lastRunAt = (0 until n).map(sent.runAtMs.get).max
    val executedAll = waitUntil(math.max(0L, lastRunAt - System.currentTimeMillis()) + 60000L)(
      Ledger.executions(n) >= n)
    val drained = t.span("worker.awaitDrained")(l.worker.awaitDrained(60000))
    val callbacksAll = waitUntil(30000)(sent.batches.forall(b => Ledger.batchCallbacks.containsKey(b._1)))
    val idle0 = System.nanoTime()
    Thread.sleep(IdleS * 1000L)
    val idle1 = System.nanoTime()
    val files = Seq("ready", "completions", "tombstones").map { tbl =>
      tbl -> scala.util.Try(t.span("backend.dataFileCount")(l.backend.dataFileCount(tbl))).getOrElse(0)
    }.toMap
    val compactions = l.worker.compactionsRun.get
    l.stop()

    // checks
    val c = ctx.checks
    c.add("stream.drained", 1, if (executedAll && drained && callbacksAll) 0 else 1)
    c.add("stream.exactly_once", n, (0 until n).count(i => Ledger.counts.get(i) != 1).toLong)
    val scheduled = (0 until n).filter(i => sent.runAtMs.get(i) != 0L)
    c.add("stream.scheduled_not_early", scheduled.size,
      scheduled.count(i => Ledger.startMs.get(i) < sent.runAtMs.get(i)).toLong)
    c.add("stream.batch_callback_once", sent.batches.size, sent.batches.count { b =>
      Option(Ledger.batchCallbacks.get(b._1)).forall(cb => cb.size != 1 || cb.head._1 != "success")
    }.toLong)
    c.add("stream.calls_ok", sent.ops.get, sent.errors.get)
    c.add("stream.no_strays", 1, if (Ledger.strays.get == 0) 0 else 1)

    // end-to-end, over jobs due in the measured window
    val win = (0 until n).filter(sent.inWindow.get)
    val pickup = win.filter(i => sent.runAtMs.get(i) == 0L)
      .map(i => (Ledger.startNs.get(i) - sent.dueNs.get(i)) / 1e6)
    val late = win.filter(i => sent.runAtMs.get(i) != 0L)
      .map(i => (Ledger.startMs.get(i) - sent.runAtMs.get(i)).toDouble)
    // throughput: executions started in the window ÷ its length; it can
    // reach at most the offered rate, so it guards that the worker keeps up
    val startsInWindow = (0 until n).count { i => val s = Ledger.startNs.get(i); s >= w0 && s < w1 }
    val rate = startsInWindow / ((w1 - w0) / 1e9)
    val batchDone = sent.batches.filter(_._3).flatMap { case (id, ret, _) =>
      Option(Ledger.batchCallbacks.get(id)).flatMap(_.headOption).map(cb => (cb._2 - ret) / 1e6)
    }.toSeq
    val consoleAll = consoleMs.map(_._2).toSeq
    def pctOr(xs: Seq[Double], q: Double) = if (xs.isEmpty) Double.NaN else Stats.pct(xs, q)

    val batchesW = t.batches.asScala.toSeq.filter(_.kind == "stream.worker")
    val batchesT = t.batches.asScala.toSeq.filter(_.kind == "stream.tracker")
    def phaseS(bs: Seq[t.BatchRec], ph: String) = bs.map(_.durMs.getOrElse(ph, 0L)).sum / 1e3
    val trig = batchesW.map(_.durMs.getOrElse("triggerExecution", 0L).toDouble)
    val jobsW = t.jobsIn("stream.worker"); val jobsT = t.jobsIn("stream.tracker")
    val apiJobs = Seq("api.homeStats", "api.queueGauges", "api.enqueuedPage").map(t.jobsIn).sum
    val ticks = (idle1 - idle0) / 1e9
    t.flush()
    val idleJobs = t.jobsStartedBetween(idle0, idle1)
    val clientS = Seq("client.performAsync", "client.performInSec", "client.performBatch").map(t.secondsIn).sum

    Result(
      e2e = Map(
        "ops_per_s" -> rate,
        "latency_p50_ms" -> pctOr(pickup, 0.5),
        "latency_p90_ms" -> pctOr(pickup, 0.9),
        "submit_p50_us" -> pctOr(sent.asyncUs.toSeq, 0.5)),
      layers = Map(
        "submit.busy_s" -> clientS,
        "execute.busy_s" -> trig.sum / 1e3,
        "client.calls" -> sent.calls.get.toDouble,
        "client.errors" -> sent.errors.get.toDouble,
        "stream.worker.batches" -> batchesW.size.toDouble,
        "stream.worker.input_rows" -> batchesW.map(_.inputRows).sum.toDouble,
        "stream.worker.spark_jobs" -> jobsW.toDouble,
        "stream.tracker.batches" -> batchesT.size.toDouble,
        "stream.tracker.spark_jobs" -> jobsT.toDouble,
        "worker.maintenance.spark_jobs" -> t.jobsIn("worker.maintenance").toDouble,
        "worker.idle_spark_jobs_per_tick" -> idleJobs.values.sum / ticks,
        "worker.compactions" -> compactions.toDouble,
        "backend.files.ready" -> files("ready").toDouble,
        "backend.files.completions" -> files("completions").toDouble,
        "backend.files.tombstones" -> files("tombstones").toDouble,
        "api.calls" -> consoleAll.size.toDouble,
        "api.spark_jobs" -> apiJobs.toDouble),
      report = Map(
        "backend" -> "parquet",
        "rate_submissions_per_s" -> SlotsPerSecond,
        "measured_s" -> measuredS,
        "sent_jobs" -> n,
        "window_jobs" -> win.size,
        "offered_jobs_per_s" -> (SlotsPerSecond - 1 + BatchSize),
        "pickup_samples" -> pickup.size,
        "latency_p99_ms" -> pctOr(pickup, 0.99),
        "scheduled_late_p50_ms" -> pctOr(late, 0.5),
        "batch_done_p50_ms" -> pctOr(batchDone, 0.5),
        "console_p50_ms" -> pctOr(consoleAll, 0.5),
        "api.homeStats.p50_ms" -> pctOr(consoleMs.filter(_._1 == 0).map(_._2).toSeq, 0.5),
        "api.queueGauges.p50_ms" -> pctOr(consoleMs.filter(_._1 == 1).map(_._2).toSeq, 0.5),
        "api.enqueuedPage.p50_ms" -> pctOr(consoleMs.filter(_._1 == 2).map(_._2).toSeq, 0.5),
        "api.spark_jobs_per_call" -> (if (consoleAll.isEmpty) 0.0 else apiJobs.toDouble / consoleAll.size),
        "client.performAsync.p99_us" -> pctOr(sent.asyncUs.toSeq, 0.99),
        "client.performAsync.p999_ms" -> pctOr(sent.asyncUs.toSeq, 0.999) / 1e3,
        "client.performInSec.p50_us" -> pctOr(sent.inSecUs.toSeq, 0.5),
        "client.performBatch.p50_ms" -> pctOr(sent.batchMs.toSeq, 0.5),
        "gen.late_max_ms" -> (if (sent.lateMs.isEmpty) 0.0 else sent.lateMs.max),
        "gen.late_p99_ms" -> pctOr(sent.lateMs.toSeq, 0.99),
        "gen.backlog_max" -> backlogMax,
        "idle_spark_jobs" -> idleJobs,
        "stream.worker.batch_p50_ms" -> pctOr(trig, 0.5),
        "stream.worker.batch_p99_ms" -> pctOr(trig, 0.99),
        "stream.worker.spark_jobs_per_batch" -> (if (batchesW.isEmpty) 0.0 else jobsW.toDouble / batchesW.size),
        "stream.tracker.addBatch_s" -> phaseS(batchesT, "addBatch"),
        "stream.tracker.spark_jobs_per_batch" -> (if (batchesT.isEmpty) 0.0 else jobsT.toDouble / batchesT.size),
        "worker.start.s" -> t.secondsIn("worker.start"),
        "worker.awaitDrained.s" -> t.secondsIn("worker.awaitDrained"),
        "worker.stop.s" -> t.secondsIn("worker.stop")) ++
        Tracer.Phases.map(ph => s"stream.worker.${ph}_s" -> phaseS(batchesW, ph)))
  }
}
