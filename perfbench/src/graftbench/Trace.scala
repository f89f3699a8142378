package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Small statistics helpers shared by the workloads. */
object Stats {
  /** Linear-interpolated quantile (the R-7 / numpy default); NaN if empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** `x` or 0 when undefined — per-layer metrics of an unexercised layer. */
  def orZero(x: Double): Double = if (x.isNaN || x.isInfinite) 0.0 else x

  def ms(ns: Long): Double = ns / 1e6
}

/** One traced interval. Spans of one request share `req`; `parent` is the
  * id of the enclosing span of the same request, or -1 for its root.
  */
final case class Span(req: Long, id: Long, parent: Long, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans are kept until the run ends and then
  * written as JSON lines. A disabled tracer runs the traced bodies without
  * recording anything, so untraced and traced runs share one code path.
  */
final class Tracer(@volatile var enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  // (request id, span id) of the innermost open span on this thread
  private val open = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  /** Runs `body` as the root span of a new request. */
  def request[T](name: String)(body: => T): T =
    if (!enabled) body
    else withSpan(ids.incrementAndGet(), -1L, name)(body)

  /** Runs `body` as a child of the innermost open span of this thread. */
  def span[T](name: String)(body: => T): T =
    open.get match {
      case (req, parent) :: _ if enabled => withSpan(req, parent, name)(body)
      case _ => body
    }

  /** Records an interval measured elsewhere (e.g. by a listener). */
  def record(req: Long, parent: Long, name: String, startNs: Long,
             endNs: Long): Long = {
    val id = ids.incrementAndGet()
    if (enabled) synchronized { spans += Span(req, id, parent, name, startNs, endNs) }
    id
  }

  /** A fresh request id for spans recorded through [[record]]. */
  def newRequest(): Long = ids.incrementAndGet()

  private def withSpan[T](req: Long, parent: Long, name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    open.set((req, id) :: open.get)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open.set(open.get.tail)
      synchronized { spans += Span(req, id, parent, name, t0, t1) }
    }
  }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time of every span: its duration minus the union of its
    * children's intervals (clipped to the span).
    */
  def selfTimes: Seq[(Span, Long)] = Tracer.selfTimes(all)

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = all.sortBy(s => (s.req, s.startNs)).map { s =>
      s"""{"req":${s.req},"id":${s.id},"parent":${s.parent},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  def selfTimes(spans: Seq[Span]): Seq[(Span, Long)] = {
    val kids = spans.filter(_.parent >= 0).groupBy(s => (s.req, s.parent))
    spans.map { s =>
      val cs = kids.getOrElse((s.req, s.id), Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      // union of the clipped child intervals
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      cs.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s -> (s.durNs - covered)
    }
  }

  /** Nesting violations: a child outside its parent, a parent in another
    * request, or a dangling parent id. Empty when the spans nest.
    */
  def nestingErrors(spans: Seq[Span]): Seq[String] = {
    val byId = spans.map(s => s.id -> s).toMap
    spans.filter(_.parent >= 0).flatMap { s =>
      byId.get(s.parent) match {
        case None => Seq(s"span ${s.id} (${s.name}) has no parent ${s.parent}")
        case Some(p) if p.req != s.req =>
          Seq(s"span ${s.id} (${s.name}) crosses requests")
        case Some(p) if s.startNs < p.startNs || s.endNs > p.endNs =>
          Seq(s"span ${s.id} (${s.name}) leaves its parent ${p.name}")
        case _ => Nil
      }
    } ++ spans.filter(s => s.endNs < s.startNs).map(s => s"span ${s.id} ends before it starts")
  }
}

/** Spark counters of one request (one job group or one streaming batch). */
final class SparkCounters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, inputBytes, inputRecords, shuffleRead, shuffleWrite,
      spill, gcMs = 0L
  // (job start, job end) wall-clock ms of every finished job
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** A SparkListener keyed by request: a job belongs to the job group the
  * benchmark set around the call (`bench|<op>|<id>|<phase>`), or, for the
  * shipper stream, to its micro-batch id. Stages and tasks inherit the key
  * of the job that submitted them.
  */
final class JobLedger extends SparkListener {
  private val byKey = new ConcurrentHashMap[String, SparkCounters]()
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val jobKey = new ConcurrentHashMap[Int, (String, Long)]()

  private def counters(k: String): SparkCounters =
    byKey.computeIfAbsent(k, _ => new SparkCounters)

  private def keyOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap { p =>
      Option(p.getProperty("streaming.sql.batchId")).map(b => s"ship_batch|$b")
        .orElse(Option(p.getProperty("spark.jobGroup.id"))
          .filter(_.startsWith("bench|")).map(_.stripPrefix("bench|")))
    }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    keyOf(e.properties).foreach { k =>
      jobKey.put(e.jobId, (k, e.time))
      e.stageIds.foreach(s => stageKey.put(s, k))
      val c = counters(k)
      c.synchronized { c.jobs += 1 }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobKey.remove(e.jobId)).foreach { case (k, t0) =>
      val c = counters(k)
      c.synchronized { c.jobSpans += ((t0, e.time)) }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageKey.get(e.stageInfo.stageId)).foreach { k =>
      val c = counters(k)
      c.synchronized { c.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageKey.get(e.stageId)).foreach { k =>
      val m = e.taskMetrics
      val c = counters(k)
      if (m != null) c.synchronized {
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.gcMs += m.jvmGCTime
      }
    }

  /** Counters of every key starting with `prefix`. */
  def matching(prefix: String): Map[String, SparkCounters] =
    byKey.asScala.filter(_._1.startsWith(prefix)).toMap

  def get(key: String): Option[SparkCounters] = Option(byKey.get(key))
}

/** Progress of every micro-batch of the shipper stream, as the engine
  * reports it to a StreamingQueryListener.
  */
final case class BatchProgress(runId: String, batchId: Long, startMs: Long,
                               rows: Long, durations: Map[String, Long]) {
  def triggerMs: Long = durations.getOrElse("triggerExecution", 0L)
  def endMs: Long = startMs + triggerMs
}

final class StreamLedger extends StreamingQueryListener {
  private val buf = mutable.ArrayBuffer.empty[BatchProgress]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val bp = BatchProgress(p.runId.toString, p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
    synchronized { buf += bp }
  }

  def batches: Seq[BatchProgress] = synchronized(buf.toList)
}

/** Process-level readings: GC beans and the resident-set high-water mark. */
object Jvm {
  import java.lang.management.ManagementFactory

  /** (total GC ms, total collections) since JVM start. */
  def gc: (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(b => math.max(0L, b.getCollectionTime)).sum,
      beans.map(b => math.max(0L, b.getCollectionCount)).sum)
  }

  /** VmHWM of this process in MB (Linux /proc), NaN elsewhere. */
  def peakRssMb: Double = {
    val f = java.nio.file.Paths.get("/proc/self/status")
    if (!java.nio.file.Files.exists(f)) Double.NaN
    else java.nio.file.Files.readAllLines(f).asScala
      .find(_.startsWith("VmHWM:"))
      .map(l => l.replaceAll("[^0-9]", "").toLong / 1024.0)
      .getOrElse(Double.NaN)
  }

  /** Milliseconds since this JVM was launched. */
  def uptimeMs: Long = ManagementFactory.getRuntimeMXBean.getUptime
}
