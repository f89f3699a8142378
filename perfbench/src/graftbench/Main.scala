package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.SparkSession

/** Command-line settings of one benchmark run. */
final case class Settings(workload: String, seed: Long, seconds: Int,
                          trace: Boolean, work: Path, traceOut: Option[Path]) {
  /** Spark's local[k]: k plus the benchmark's one generator or client
    * thread stays within the machine's cores.
    */
  val cores: Int = math.max(1, math.min(3, Runtime.getRuntime.availableProcessors - 1))
}

/** What one workload run measured. `e2e` holds the end-to-end metrics of
  * the untraced window; `layers` the per-layer metrics of the traced one.
  */
final case class Outcome(e2e: Map[String, Double], layers: Map[String, Double])

/** Shared state of one run: the session, the tracer, the listeners and the
  * operation tally that feeds `attempted` / `failed`.
  */
final class Ctx(val spark: SparkSession, val s: Settings) {
  val tracer = new Tracer(false)
  val jobs = new JobLedger
  private var ledgerOn = false
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  private var nextGroup = 0L

  /** Counts one operation; `problem` is its failed output check, if any. */
  def tally(problem: Option[String]): Unit = synchronized {
    attempted += 1
    problem.foreach { p =>
      failed += 1
      if (problems.size < 20) problems += p
    }
  }

  /** A run-level check (not an operation): failing it marks the run incorrect. */
  def require(ok: Boolean, what: => String): Unit =
    if (!ok) synchronized { problems += what; runLevelFailure = true }

  var runLevelFailure = false

  /** Switches tracing on: spans are recorded and Spark jobs are grouped. */
  def startTracing(): Unit = {
    tracer.enabled = true
    if (!ledgerOn) { spark.sparkContext.addSparkListener(jobs); ledgerOn = true }
  }

  /** Runs `body` with its Spark jobs under the job group of request
    * (`op`, `id`, `phase`) when tracing; untraced runs set no group.
    */
  def grouped[T](op: String, id: Long, phase: String)(body: => T): T =
    if (!tracer.enabled) body
    else {
      val sc = spark.sparkContext
      sc.setJobGroup(s"bench|$op|$id|$phase", s"$op $id $phase", interruptOnCancel = false)
      try body finally sc.clearJobGroup()
    }

  /** A progress line on standard error (standard output carries the result). */
  def log(msg: String): Unit =
    System.err.println(f"graftbench: [${Jvm.uptimeMs / 1000.0}%.1f s] $msg")

  def newId(): Long = synchronized { nextGroup += 1; nextGroup }

  def dir(name: String): Path = {
    val p = s.work.resolve(name)
    Files.createDirectories(p)
    p
  }

  /** Median Spark counters of the requests of `op` (keys `op|id|phase`),
    * as `<op>.spark.<key>` per-layer metrics; `wallMs` maps a request id to
    * its wall time for the overhead fraction.
    */
  def sparkLayer(op: String, wallMs: Map[String, Double]): Map[String, Double] = {
    Bus.drain(spark.sparkContext)
    val byReq = jobs.matching(s"$op|").groupBy { case (k, _) =>
      k.split('|')(1)
    }.map { case (req, cs) => req -> cs.values.toSeq }
    val reqs = byReq.keys.toSeq
    def med(f: Seq[SparkCounters] => Double): Double =
      Stats.orZero(Stats.median(reqs.map(r => f(byReq(r)))))
    val overhead = reqs.flatMap { r =>
      wallMs.get(r).filter(_ > 0).map { w =>
        1.0 - byReq(r).map(_.runMs).sum / (w * s.cores)
      }
    }
    Map(
      "jobs" -> med(_.map(_.jobs).sum.toDouble),
      "stages" -> med(_.map(_.stages).sum.toDouble),
      "tasks" -> med(_.map(_.tasks).sum.toDouble),
      "executor_run_ms" -> med(_.map(_.runMs).sum.toDouble),
      "executor_cpu_ms" -> med(_.map(_.cpuNs).sum / 1e6),
      "input_bytes" -> med(_.map(_.inputBytes).sum.toDouble),
      "shuffle_read_bytes" -> med(_.map(_.shuffleRead).sum.toDouble),
      "shuffle_write_bytes" -> med(_.map(_.shuffleWrite).sum.toDouble),
      "spill_bytes" -> med(_.map(_.spill).sum.toDouble),
      "gc_ms" -> med(_.map(_.gcMs).sum.toDouble),
      "overhead_frac" -> Stats.orZero(Stats.median(overhead))
    ).map { case (k, v) => s"$op.spark.$k" -> v }
  }

  /** Median self time per occurrence of every reported span name. */
  def selfTimeLayer(): Map[String, Double] = {
    val st = tracer.selfTimes.groupBy(_._1.name)
    Metrics.spanNames.map { n =>
      s"self_ms.$n" -> Stats.orZero(Stats.median(
        st.getOrElse(n, Nil).map { case (_, ns) => Stats.ms(ns) }))
    }.toMap
  }

  /** Caches counters summed over families. */
  def cacheTotals: (Long, Long) = {
    val c = graft.Caches.counters.values
    (c.map(_._1).sum, c.map(_._2).sum)
  }
}

/** A workload: set up, measure, check. */
trait Workload {
  /** Runs the workload and returns its metrics; tallies operations on `ctx`. */
  def run(ctx: Ctx): Outcome
}

object Main {

  private val workloads: Map[String, () => Workload] = Map(
    "ship" -> (() => new ShipWorkload),
    "search" -> (() => new SearchWorkload))

  private def usage(msg: String): Nothing = {
    System.err.println(s"graftbench: $msg")
    System.err.println("usage: graftbench.Main --workload ship|search " +
      "--seed N --seconds S --trace 0|1 --work DIR [--trace-out FILE] | --list-metrics")
    sys.exit(2)
  }

  def parse(args: Array[String]): Settings = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => usage(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def need(k: String): String = kv.getOrElse(k, usage(s"missing --$k"))
    val wl = need("workload")
    if (!workloads.contains(wl)) usage(s"unknown workload $wl")
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => usage(s"--trace must be 0 or 1, got $t")
    }
    Settings(wl, need("seed").toLong, need("seconds").toInt, trace,
      Paths.get(need("work")).toAbsolutePath, kv.get("trace-out").map(Paths.get(_)))
  }

  def session(s: Settings): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${s.cores}]")
      .appName(s"graftbench-${s.workload}")
      .config("spark.sql.shuffle.partitions", s.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", s.work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", s.work.resolve("hadoop").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def resultJson(correct: Boolean, attempted: Long, failed: Long,
                 metrics: Seq[(String, String, Double)]): String = {
    val ms = metrics.map { case (n, u, v) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }

  def main(args: Array[String]): Unit = {
    if (args.sameElements(Array("--list-metrics"))) { Metrics.list(); return }
    val s = parse(args)
    Files.createDirectories(s.work)
    val spark = session(s)
    val ctx = new Ctx(spark, s)
    val code =
      try {
        val out = workloads(s.workload)().run(ctx)
        val table = if (s.trace) Metrics.perLayer else Metrics.endToEnd
        val values = if (s.trace) out.layers else out.e2e
        val missing = table.map(_._1).filterNot(values.contains)
        if (missing.nonEmpty)
          throw new IllegalStateException(s"metrics not measured: ${missing.mkString(", ")}")
        if (ctx.attempted == 0) throw new IllegalStateException("no operation was attempted")
        ctx.problems.foreach(p => System.err.println(s"graftbench: check failed: $p"))
        s.traceOut.foreach(ctx.tracer.write)
        val correct = ctx.failed == 0 && !ctx.runLevelFailure
        println(resultJson(correct, ctx.attempted, ctx.failed,
          table.map { case (n, u) => (n, u, values(n)) }))
        0
      } catch {
        case e: Throwable =>
          System.err.println(s"graftbench: run failed: $e")
          e.printStackTrace()
          1
      } finally {
        try graft.Caches.clear() catch { case _: Throwable => () }
        spark.stop()
      }
    sys.exit(code)
  }
}
