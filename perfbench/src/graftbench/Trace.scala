package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One span: a timed call into a layer, a Spark job, or a micro-batch and
  * its phases. Times are this JVM's `System.nanoTime`. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spans around every harness call into a layer, plus Spark jobs and
  * streaming micro-batches as child spans. Kept in memory and written once
  * at the end of the run. With `on = false` every `span` is just its body
  * and no listener is installed, so untraced timings pay nothing. */
final class Tracer(val on: Boolean, spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  /** Finished harness spans by id. */
  private val harness = new ConcurrentHashMap[java.lang.Long, Span]()
  private val openAt = new ConcurrentHashMap[java.lang.Long, java.lang.Long]()

  /** Epoch millis → this JVM's nanoTime, for listener event timestamps. */
  private val nanoMinusEpochNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def nsOfEpochMs(ms: Long): Long = ms * 1000000L + nanoMinusEpochNs

  /** Times `body` as a span. `propagate = false` keeps the span out of the
    * thread's Spark local properties: threads created inside the call (a
    * worker's maintenance loop) would otherwise inherit it. */
  def span[A](name: String, trace: Long = 0L, propagate: Boolean = true)(body: => A): A =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent: Long = current.get()
      val prevProp = sc.getLocalProperty(Tracer.SpanKey)
      openAt.put(id, System.nanoTime())
      if (propagate) sc.setLocalProperty(Tracer.SpanKey, s"$id|$name")
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val s = Span(id, parent, trace, name, t0, System.nanoTime())
        harness.put(id, s); openAt.remove(id)
        current.set(parent)
        sc.setLocalProperty(Tracer.SpanKey, prevProp)
      }
    }

  // ---------- Spark jobs ----------

  /** One finished Spark job and the span category it was charged to. */
  final case class JobRec(jobId: Int, category: String, parent: Long,
      query: String, batch: Long, startNs: Long, endNs: Long)

  val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val started = new ConcurrentHashMap[Integer, (String, Long, String, Long, Long)]()
  val tasks = new AtomicLong()
  val shuffleWriteBytes = new AtomicLong()
  /** query id -> name, from query-start events. */
  val queryNames = new ConcurrentHashMap[String, String]()

  private def queryKind(name: String): String =
    if (name == null) "stream.other"
    else if (name.startsWith("graft-tracker")) "stream.tracker"
    else if (name.startsWith("graft-worker")) "stream.worker"
    else "stream.other"

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val qid = p.flatMap(x => Option(x.getProperty("sql.streaming.queryId"))).orNull
      val batch = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId")))
        .map(_.toLong).getOrElse(-1L)
      val spanProp = p.flatMap(x => Option(x.getProperty(Tracer.SpanKey)))
      val t = nsOfEpochMs(e.time)
      val (cat, parent) =
        if (qid != null) (queryKind(queryNames.get(qid)), 0L)
        else spanProp.map(_.split("\\|", 2)) match {
          // a job belongs to a harness span only while that span is open:
          // a thread spawned inside the call keeps the property after it
          case Some(Array(id, name)) if openAt.containsKey(id.toLong) => (name, id.toLong)
          case _ => ("worker.maintenance", 0L)
        }
      started.put(e.jobId, (cat, parent, qid, batch, t))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = started.remove(e.jobId)
      if (s != null) {
        val (cat, parent, qid, batch, t0) = s
        jobs.add(JobRec(e.jobId, cat, parent, qid, batch, t0, math.max(t0, nsOfEpochMs(e.time))))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }

  // ---------- micro-batches ----------

  /** One executed micro-batch: its trigger span and phase durations (ms). */
  final case class BatchRec(kind: String, queryId: String, batchId: Long,
      startNs: Long, durMs: Map[String, Long], inputRows: Long)

  val batches = new ConcurrentLinkedQueue[BatchRec]()
  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      queryNames.put(e.id.toString, Option(e.name).getOrElse(""))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      // no-data progress events carry no addBatch phase: nothing executed
      if (d.contains("addBatch")) {
        val start = nsOfEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
        batches.add(BatchRec(queryKind(p.name), p.id.toString, p.batchId, start, d, p.numInputRows))
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  if (on) {
    sc.addSparkListener(jobListener)
    spark.streams.addListener(queryListener)
  }

  /** Waits until every event posted so far has reached the listeners. */
  def flush(): Unit = if (on) org.apache.spark.ListenerBusDrain(sc)

  /** Waits for the listener bus, then stops listening. */
  def close(): Unit = if (on) {
    flush()
    sc.removeSparkListener(jobListener)
    spark.streams.removeListener(queryListener)
  }

  // ---------- derived numbers ----------

  def harnessSpans: Seq[Span] = harness.values.asScala.toSeq.sortBy(_.startNs)
  def spansNamed(name: String): Seq[Span] = harnessSpans.filter(_.name == name)
  def secondsIn(name: String): Double = spansNamed(name).map(_.durNs).sum / 1e9
  def jobsIn(category: String): Long = jobs.asScala.count(_.category == category).toLong
  /** Spark jobs started in [t0, t1), by category. */
  def jobsStartedBetween(t0: Long, t1: Long): Map[String, Int] =
    jobs.asScala.toSeq.filter(j => j.startNs >= t0 && j.startNs < t1)
      .groupBy(_.category).map { case (k, v) => k -> v.size }

  /** Length of the union of intervals, clipped to [lo, hi). */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var end = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  /** Self seconds per harness span name: duration minus the part covered
    * by its child harness spans and the Spark jobs charged to it. */
  def selfSeconds: Map[String, Double] = {
    val hs = harnessSpans
    val childIv = (hs.map(s => s.parent -> (s.startNs, s.endNs)) ++
      jobs.asScala.toSeq.filter(_.parent != 0).map(j => j.parent -> (j.startNs, j.endNs)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    hs.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map(s => s.durNs - covered(childIv.getOrElse(s.id, Nil), s.startNs, s.endNs)).sum / 1e9
    }
  }

  /** Every span, batches and their phases included, as JSON lines. */
  def write(path: java.nio.file.Path): Int = {
    val next = new AtomicLong(ids.get() + 1)
    val out = Seq.newBuilder[Span]
    out ++= harnessSpans
    val batchIds = batches.asScala.toSeq.map(b => (b.queryId, b.batchId) -> next.getAndIncrement()).toMap
    // a stream's job is a child of its micro-batch; other jobs of the span
    // that was open on their thread
    jobs.asScala.foreach { j =>
      val parent = Option(j.query).flatMap(q => batchIds.get((q, j.batch))).getOrElse(j.parent)
      out += Span(next.getAndIncrement(), parent, 0L, s"spark.job:${j.category}", j.startNs, j.endNs)
    }
    batches.asScala.foreach { b =>
      val id = batchIds((b.queryId, b.batchId))
      val total = b.durMs.getOrElse("triggerExecution", b.durMs.values.sum)
      out += Span(id, 0L, b.batchId, s"${b.kind}.batch", b.startNs, b.startNs + total * 1000000L)
      // phases have durations only: laid out in execution order
      var t = b.startNs
      Tracer.Phases.foreach { ph =>
        b.durMs.get(ph).foreach { ms =>
          out += Span(next.getAndIncrement(), id, b.batchId, s"${b.kind}.$ph", t, t + ms * 1000000L)
          t += ms * 1000000L
        }
      }
    }
    val all = out.result()
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.foreach { s =>
      w.write(Json(Map("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
        "start_us" -> s.startNs / 1000, "end_us" -> s.endNs / 1000)))
      w.newLine()
    } finally w.close()
    all.size
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
  val Phases = Seq("latestOffset", "queryPlanning", "getBatch", "addBatch", "walCommit")
}
