package graftbench

import java.util.concurrent.atomic.{AtomicIntegerArray, AtomicLong, AtomicLongArray}
import scala.collection.mutable

/** Nearest-rank percentiles over a sample. */
object Stats {
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

/** Executions seen inside the job functions. Local mode runs executor code
  * in this JVM, so plain atomics see every invocation: this, not the
  * program's own completion rows, is the exactly-once evidence. Job `i`
  * carries `i` as its only argument. */
object Ledger {
  @volatile var counts = new AtomicIntegerArray(1)
  @volatile var startNs = new AtomicLongArray(1)
  @volatile var startMs = new AtomicLongArray(1)
  val strays = new AtomicLong()
  val batchCallbacks = new java.util.concurrent.ConcurrentHashMap[String, Vector[(String, Long)]]()

  def reset(n: Int): Unit = {
    counts = new AtomicIntegerArray(n)
    startNs = new AtomicLongArray(n)
    startMs = new AtomicLongArray(n)
    strays.set(0)
    batchCallbacks.clear()
  }

  def hit(args: Seq[Any]): Unit = {
    val t = System.nanoTime()
    val ms = System.currentTimeMillis()
    val i = args.headOption match {
      case Some(n: Number) => n.intValue
      case other => other.map(_.toString.toInt).getOrElse(-1)
    }
    val c = counts
    if (i < 0 || i >= c.length) strays.incrementAndGet()
    else {
      startNs.compareAndSet(i, 0L, t)
      startMs.compareAndSet(i, 0L, ms)
      c.incrementAndGet(i)
    }
  }

  /** Total executions recorded over indices [0, n). */
  def executions(n: Int): Long = {
    var s = 0L; var i = 0
    while (i < n) { s += counts.get(i); i += 1 }
    s
  }

  def register(): Unit = {
    import graft.model.JobRegistry
    JobRegistry.register("pb_noop", args => { hit(args); "ok" })
    JobRegistry.register("pb_flaky", args => {
      hit(args); throw new RuntimeException("perfbench flaky job")
    })
    JobRegistry.register("pb_cron", _ => "ok")
    JobRegistry.register("pb_batch_done", args => {
      val id = args.headOption.map(_.toString).getOrElse("")
      val status = args.lift(1).map(_.toString).getOrElse("")
      val t = System.nanoTime()
      batchCallbacks.merge(id, Vector((status, t)), (a, b) => a ++ b)
      "ok"
    })
    JobRegistry.registerBackoff("pb_instant", _ => 0)
  }
}

/** Named output checks; each failed check adds to the run's failed count. */
final class Checks {
  val results = mutable.LinkedHashMap.empty[String, (Long, Long)] // name -> (attempted, failed)
  def add(name: String, attempted: Long, failed: Long): Unit = {
    val (a, f) = results.getOrElse(name, (0L, 0L))
    results(name) = (a + attempted, f + failed)
  }
  def attempted: Long = results.values.map(_._1).sum
  def failed: Long = results.values.map(_._2).sum
}

/** External CPU load during a section: host busy jiffies from /proc/stat
  * minus this process's own, as average cores. Shows a contended run. */
object ExternalLoad {
  private def snap(): (Long, Long, Long) = {
    val host = scala.io.Source.fromFile("/proc/stat").getLines().next()
      .trim.split("\\s+").drop(1).take(8).map(_.toLong)
    val busy = host.sum - host(3) - host(4)
    val st = scala.io.Source.fromFile("/proc/self/stat").mkString
    val self = st.substring(st.lastIndexOf(')') + 2).split(" ")
    (busy, self(11).toLong + self(12).toLong, System.nanoTime())
  }

  final class Section {
    private val (b0, s0, t0) = snap()
    def cores(): Double = {
      val (b1, s1, t1) = snap()
      val sec = math.max((t1 - t0) / 1e9, 1e-3)
      math.max(((b1 - b0) - (s1 - s0)) / 100.0 / sec, 0.0)
    }
  }
  def start(): Section = new Section
  /** Above this external load the stamp marks a run as contended. */
  val ContendedCores = 0.5
}

/** GC time and heap peak over a section, from the JVM's MX beans. */
final class JvmSection {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._
  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  heapPools.foreach(_.resetPeakUsage())
  private val gc0 = gcMs
  def gcSeconds: Double = (gcMs - gc0) / 1e3
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** JSON output through Jackson, which ships among Spark's jars. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
  def read(path: java.nio.file.Path): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(path.toFile)
}

/** Seeded choices shared by the workloads. */
final class Seeded(seed: Long) {
  val rng = new java.util.Random(seed)

  /** A bijection on [0, n): job `i` fails iff `perm(i) < n / 100`, so exactly
    * 1% of any cycle fails, and which ones depends on the seed. */
  def affine(n: Int): (Long, Long) = {
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    var a = 1L + rng.nextInt(n - 1)
    while (gcd(a, n) != 1) a += 1
    (a, rng.nextInt(n).toLong)
  }
}
