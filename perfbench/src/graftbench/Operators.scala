package graftbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row}
import scala.jdk.CollectionConverters._

/** The data operators: a fixed sample of `SparkEntry.queries`, one from
  * each module that declares them (the `EngineE2E` fixtures excluded), run
  * over the sf0.001 tables kept under `perfbench/data`. The set-up runs
  * each query cold and checks its full output against the DuckDB oracle
  * stored beside the tables (`oracle.py` makes it). The measured passes
  * build and force each query the way `Bench.force` does, in an order the
  * seed decides, and check every row count. Each query's time is its
  * median over the passes; the end-to-end figures are taken over those
  * per-query times, so the number of passes that fit in a run does not
  * move them; `submit_p50_us` is the median over passes of a pass's mean
  * build time. */
object Operators {
  val Data = "perfbench/data"
  val Sf = "0.001"

  /** (module, query); the module names the `SparkEntry` map. */
  val Queries: Seq[(String, String)] = Seq(
    "queue" -> "q22_revenue_by_nation",
    "dedup" -> "d05_lsh_candidate_pairs",
    "similarity" -> "s03_ann_ivf",
    "text" -> "t07_tfidf",
    "multimodal" -> "m05_ahash_neardup",
    "pipeline" -> "p12_curriculum_phases",
    "sql" -> "s28_sql_ngram_jaccard")

  def tablesDir: String = Paths.get(Data, s"sf$Sf").toAbsolutePath.toString
  def oracleFile: java.nio.file.Path = Paths.get(Data, s"oracle-sf$Sf.json").toAbsolutePath

  /** One timed query: build (analysis) and force, with the rows counted. */
  final case class Exec(pass: Long, name: String, buildNs: Long, forceNs: Long, rows: Long) {
    def ms: Double = (buildNs + forceNs) / 1e6
  }

  private def exec(ctx: Ctx, module: String, name: String, trace: Long): Exec = {
    val fn = graft.SparkEntry.queries(name)
    ctx.tracer.span(s"operators.$module", trace) {
      val t0 = System.nanoTime()
      val df = fn(ctx.spark, tablesDir)
      val t1 = System.nanoTime()
      val rows = try graft.Bench.force(df) catch {
        case e: Exception => System.err.println(s"$name failed: $e"); -1L
      }
      Exec(trace, name, t1 - t0, System.nanoTime() - t1, rows)
    }
  }

  /** One pass over every query, in the seeded order. */
  private def pass(ctx: Ctx, trace: Long): Seq[Exec] =
    scala.util.Random.javaRandomToRandom(ctx.seeded.rng).shuffle(Queries)
      .map { case (module, name) => exec(ctx, module, name, trace) }

  def run(ctx: Ctx): Result = {
    require(Files.isDirectory(Paths.get(tablesDir)), s"no tables under $tablesDir")
    val oracle = Json.read(oracleFile)
    val c = ctx.checks
    // set-up: one cold pass that collects each query's output and checks it
    val outputs = Queries.map { case (module, name) =>
      val got = ctx.tracer.span(s"operators.$module", -1)(scala.util.Try(
        Digest.of(graft.SparkEntry.queries(name)(ctx.spark, tablesDir))))
      val want = oracle.path(name)
      val ok = got.toOption.exists { d =>
        d.rows == want.path("rows").asLong(-2) &&
          d.cols == want.path("cols").elements().asScala.map(_.asText).toSeq &&
          d.digest == want.path("digest").asText()
      }
      if (!ok) System.err.println(s"$name: output $got differs from the oracle $want")
      ok
    }
    c.add("operators.oracle_match", outputs.size, outputs.count(!_).toLong)

    val m = ctx.measure()
    val done = Vector.newBuilder[Exec]
    var k = 1
    do { done ++= pass(ctx, k); k += 1 } while (!m.elapsed)
    val execs = done.result()
    val sec = m.stop()
    c.add("operators.row_counts", execs.size,
      execs.count(e => e.rows != oracle.path(e.name).path("rows").asLong(-2)).toLong)

    val t = ctx.tracer
    val measured = t.harnessSpans.filter(s => s.trace > 0 && s.name.startsWith("operators."))
    val measuredIds = measured.map(_.id).toSet
    val sparkJobs = t.jobs.asScala.count(j => measuredIds.contains(j.parent)).toDouble
    val byQuery = execs.groupBy(_.name).values.toSeq
    val queryMs = byQuery.map(es => es.head.name -> Stats.median(es.map(_.ms))).toMap
    val buildMs = byQuery.map(es => es.head.name -> Stats.median(es.map(_.buildNs / 1e6))).toMap
    Result(
      e2e = Map(
        "ops_per_s" -> queryMs.size / (queryMs.values.sum / 1e3),
        "latency_p50_ms" -> Stats.median(queryMs.values.toSeq),
        "latency_p90_ms" -> Stats.pct(queryMs.values.toSeq, 0.9),
        "submit_p50_us" -> Stats.median(execs.groupBy(_.pass).values.toSeq
          .map(es => es.map(_.buildNs).sum / 1e3 / es.size))),
      layers = Map(
        "submit.busy_s" -> execs.map(_.buildNs).sum / 1e9,
        "execute.busy_s" -> execs.map(_.forceNs).sum / 1e9,
        "operators.queries" -> execs.size.toDouble,
        "operators.spark_jobs" -> sparkJobs),
      report = Map(
        "backend" -> "n/a",
        "sf" -> Sf,
        "passes" -> (k - 1),
        "measured_s" -> sec,
        "operators_s" -> queryMs.values.sum / 1e3,
        "query_ms" -> queryMs,
        "query_build_ms" -> buildMs) ++
        Queries.map { case (g, _) => s"operators.${g}_s" ->
          measured.filter(_.name == s"operators.$g").map(_.durNs).sum / 1e9 })
  }
}

/** An order-insensitive digest of a query's output, computed the same way
  * by `oracle.py` over the DuckDB oracle's rows: columns in name order;
  * numbers as decimals of 9 significant digits, timestamps as epoch
  * microseconds, dates as epoch days; each row's SHA-256 summed mod 2^64. */
object Digest {
  final case class Of(rows: Long, cols: Seq[String], digest: String)

  def of(df: DataFrame): Of = {
    val cols = df.columns.toSeq.sorted
    val idx = cols.map(df.columns.indexOf(_))
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var sum = 0L
    var n = 0L
    df.collect().foreach { r =>
      val line = idx.map(i => cell(r.get(i))).mkString("\u001f")
      sum += java.nio.ByteBuffer.wrap(md.digest(line.getBytes("UTF-8"))).getLong
      n += 1
    }
    Of(n, cols, f"$sum%016x")
  }

  def num(x: Double): String =
    if (x.isNaN) "NaN"
    else if (x.isInfinite) (if (x > 0) "Inf" else "-Inf")
    else if (x == 0.0) "0"
    else {
      val b = new java.math.BigDecimal(x)
        .round(new java.math.MathContext(9, java.math.RoundingMode.HALF_EVEN)).stripTrailingZeros
      s"${b.unscaledValue}e${-b.scale}"
    }

  def cell(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "T" else "F"
    case d: java.math.BigDecimal => num(d.doubleValue)
    case x: Number => num(x.doubleValue)
    case s: String => "s" + s
    case d: java.sql.Date => "d" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "d" + d.toEpochDay
    case t: java.sql.Timestamp => "t" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant => "t" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime => cell(t.toInstant(java.time.ZoneOffset.UTC))
    case b: Array[Byte] => "b" + b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "=" + cell(x) }.sorted.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(cell).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"no digest for ${other.getClass}")
  }
}

/** Prints the oracle SQL of `Operators.Queries` as one JSON object, for
  * `oracle.py`. */
object OracleSql {
  def main(args: Array[String]): Unit =
    println(Json(Operators.Queries.map { case (_, n) => n -> graft.SparkEntry.oracleSql(n) }.toMap))
}
