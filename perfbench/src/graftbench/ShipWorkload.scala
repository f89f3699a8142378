package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.LogPipeline
import graft.streaming.{BulkSink, FileSourceAdapter, ShipperStream}

/** `ship`: open-loop log shipping. A generator thread moves pre-generated
  * Kinesis-envelope files into the stream's source directory on a fixed
  * schedule that does not wait for the system; `ShipperStream.start` decodes,
  * parses, classifies and bulk-ships them. Lag is measured from each file's
  * due time, so a stall that delays later files is charged to them.
  */
final class ShipWorkload extends Workload {
  import ShipWorkload._

  private final case class Stream(query: StreamingQuery, in: Path, out: Path)

  /** Per shipped batch: docs, error docs, output bytes, and per-file JSON docs. */
  private final case class Shipped(docs: Long, errors: Long, bytes: Long,
                                   jsonByDue: Map[Long, Long])

  override def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val s = ctx.s
    val sessionS = Jvm.uptimeMs / 1000.0
    val ledger = new StreamLedger
    spark.streams.addListener(ledger)
    val windows = if (s.trace) 2 else 1
    val nFiles = (windows * s.seconds * 1000L / CadenceMs).toInt

    // set-up repetitions: the warm-up files and the measured schedule,
    // generated and staged on disk, each time into a fresh directory
    val warm = (0 until WarmFiles).map(i =>
      Gen.envFile(s.seed ^ 0x5EEDL, i, Envelopes, Fanout, 0L))
    def files0 = (0 until nFiles).map(i => Gen.envFile(s.seed, i, Envelopes, Fanout, CadenceMs))
    val reps = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      val staging = ctx.dir(s"staging$rep")
      val fs = files0
      (warm.map(f => ("warm-" + f.name, f)) ++ fs.map(f => (f.name, f))).foreach {
        case (n, f) => Files.write(staging.resolve(n), f.content)
      }
      ((staging, fs), (System.nanoTime() - t0) / 1e9)
    }
    val (staging, files) = reps.last._1

    // then, once: start the shipper stream and push the warm-up files
    // through it, batch by batch (JIT and codegen warm-up)
    var live: Option[Stream] = None
    try {
      val w0 = System.nanoTime()
      val st0 = startStream(ctx, ctx.dir("stream"))
      live = Some(st0)
      warm.grouped(WarmFiles / WarmBatches).foreach { group =>
        group.foreach(f => Files.copy(staging.resolve("warm-" + f.name),
          st0.in.resolve("warm-" + f.name)))
        awaitRows(st0.query, ledger,
          warm.take(warm.indexOf(group.last) + 1).map(_.envelopes.toLong).sum)
      }
      val warmS = (System.nanoTime() - w0) / 1e9
      val setupS = sessionS + Stats.median(reps.map(_._2)) + warmS
      ctx.log(f"session $sessionS%.2f s, inputs " +
        reps.map(r => f"${r._2}%.2f").mkString(" ") + f" s, stream start and warm-up $warmS%.2f s")
      val st = live.get
      val runId = st.query.runId.toString
      val warmBatches = ledger.batches.filter(_.runId == runId).map(_.batchId)
      val lastWarm = if (warmBatches.isEmpty) -1L else warmBatches.max

      // the schedule: file i is due at t0 + i * cadence, whatever the stream does
      val late = new Array[Long](nFiles)
      // processing-time triggers fire on multiples of the interval, so the
      // schedule starts at a fixed phase to them: file due times then sit
      // at the same offsets from the triggers in every run
      val t0 = (System.currentTimeMillis() / TriggerMs + 2) * TriggerMs + PhaseMs
      val mid = t0 + s.seconds * 1000L
      // the traced window starts with the second half of the schedule
      var gcAtTrace = (0L, 0L)
      val tracing = new Thread(() => {
        Thread.sleep(math.max(0L, mid - System.currentTimeMillis()))
        ctx.startTracing()
        gcAtTrace = Jvm.gc
      }, "graftbench-trace-switch")
      tracing.setDaemon(true)
      if (s.trace) tracing.start()
      val gen = new Thread(() => {
        files.foreach { f =>
          val due = t0 + f.dueOffsetMs
          val wait = due - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          Files.move(staging.resolve(f.name), st.in.resolve(f.name),
            StandardCopyOption.ATOMIC_MOVE)
          late(f.index) = System.currentTimeMillis() - due
        }
      }, "graftbench-generator")
      gen.setDaemon(true)
      gen.start()
      gen.join()
      if (s.trace) tracing.join()
      val scheduleEnd = System.currentTimeMillis()
      val total = files.map(_.envelopes.toLong).sum +
        warm.map(_.envelopes.toLong).sum
      awaitRows(st.query, ledger, total)
      val gcAtEnd = Jvm.gc
      st.query.stop()
      live = None
      Bus.drain(spark.sparkContext)

      val batches = ledger.batches.filter(b => b.runId == runId &&
        b.batchId > lastWarm && b.rows > 0)
      val shipped = batches.map(b => b.batchId -> readBatch(st.out, b.batchId)).toMap
      checkShipped(ctx, st.out, files, shipped)

      val endOf = batches.map(b => b.batchId -> b.endMs).toMap
      def lags(w: Int): Seq[Double] = shipped.toSeq.flatMap { case (id, sh) =>
        sh.jsonByDue.toSeq.filter { case (due, _) => due / (s.seconds * 1000L) == w }
          .flatMap { case (due, n) => Seq.fill(n.toInt)((endOf(id) - (t0 + due)).toDouble) }
      }
      def inWindow(w: Int): Seq[BatchProgress] = batches.filter { b =>
        val idx = if (b.startMs < mid) 0 else 1
        math.min(idx, windows - 1) == w
      }
      def throughput(w: Int): Double = {
        val bs = inWindow(w)
        bs.map(b => shipped(b.batchId).docs).sum / (bs.map(_.triggerMs).sum / 1000.0)
      }
      val lag0 = lags(0)
      ctx.log("batches " + batches.map(b => s"${b.batchId}:${b.rows}r/${b.triggerMs}ms").mkString(" "))
      ctx.require(lag0.nonEmpty, "no shipped doc carried a due time")
      val e2e = Map(
        "setup_s" -> setupS,
        "throughput_per_s" -> throughput(0),
        "latency_p50_ms" -> Stats.median(lag0),
        "peak_rss_mb" -> Jvm.peakRssMb)
      if (!s.trace) return Outcome(e2e, Map.empty)

      val tb = inWindow(1)
      // spans: each traced batch, with the Spark jobs it ran as children
      tb.foreach { b =>
        val req = ctx.tracer.newRequest()
        val bs = b.startMs * 1000000L
        val be = b.endMs * 1000000L
        val root = ctx.tracer.record(req, -1L, "ship.batch", bs, be)
        ctx.jobs.get(s"ship_batch|${b.batchId}").foreach { c =>
          c.jobSpans.foreach { case (js, je) =>
            val a = math.max(bs, js * 1000000L)
            val z = math.min(be, je * 1000000L)
            if (z > a) ctx.tracer.record(req, root, "ship.batch.job", a, z)
          }
        }
      }
      def med(key: String): Double =
        Stats.orZero(Stats.median(tb.map(_.durations.getOrElse(key, 0L).toDouble)))
      val processedBy = batches.filter(_.endMs <= scheduleEnd).map(_.rows).sum
      val moved = files.count(f => t0 + f.dueOffsetMs <= scheduleEnd)
      val probe = layerProbe(ctx, st.in, files.take(ProbeFiles))
      val curate = new CurateProbe(ctx).layers()
      val docs1 = tb.map(b => shipped(b.batchId).docs).sum
      val lag1 = lags(1)
      val layers = Layers.zero ++ ctx.selfTimeLayer() ++ probe ++ curate ++
        ctx.sparkLayer("ship_batch",
          tb.map(b => b.batchId.toString -> b.triggerMs.toDouble).toMap) ++ Map(
        "gen.late_ms_max" -> late.max.toDouble,
        "streaming.batches" -> tb.size.toDouble,
        "streaming.rows_per_batch" -> Stats.orZero(Stats.median(tb.map(_.rows.toDouble))),
        "streaming.trigger_ms_p50" -> med("triggerExecution"),
        "streaming.add_batch_ms_p50" -> med("addBatch"),
        "streaming.wal_commit_ms_p50" -> med("walCommit"),
        "streaming.commit_offsets_ms_p50" -> med("commitOffsets"),
        "streaming.query_planning_ms_p50" -> med("queryPlanning"),
        "streaming.latest_offset_ms_p50" -> med("latestOffset"),
        "streaming.backlog_files_end" ->
          math.max(0.0, moved - processedBy.toDouble / Envelopes),
        "ship_lag_p90_ms" -> Stats.orZero(Stats.quantile(lag1, 0.9)),
        "logpipeline.docs_per_event" ->
          files.map(_.docs.toDouble).sum / files.map(_.events).sum,
        "bulksink.bytes_per_doc" ->
          tb.map(b => shipped(b.batchId).bytes).sum.toDouble / math.max(1L, docs1),
        "jvm.gc_ms" -> (gcAtEnd._1 - gcAtTrace._1).toDouble,
        "jvm.gc_count" -> (gcAtEnd._2 - gcAtTrace._2).toDouble,
        "trace_overhead.latency_p50_ms" -> (Stats.median(lag1) - e2e("latency_p50_ms")),
        "trace_overhead.throughput_per_s" -> (throughput(1) - e2e("throughput_per_s")))
      Outcome(e2e, layers)
    } finally {
      live.foreach(l => try l.query.stop() catch { case _: Throwable => () })
      spark.streams.removeListener(ledger)
    }
  }

  private def startStream(ctx: Ctx, dir: Path): Stream = {
    val in = Files.createDirectories(dir.resolve("in"))
    val out = dir.resolve("out")
    val q = ShipperStream.start(ctx.spark, FileSourceAdapter(in.toString, MaxFilesPerTrigger),
      out.toString, dir.resolve("checkpoint").toString, BulkSize, TriggerMs, None)
    Stream(q, in, out)
  }

  /** Blocks until the query has processed `rows` input records in total. */
  private def awaitRows(q: StreamingQuery, ledger: StreamLedger, rows: Long): Unit = {
    val deadline = System.currentTimeMillis() + DrainTimeoutMs
    def done = ledger.batches.filter(_.runId == q.runId.toString).map(_.rows).sum >= rows
    while (!done) {
      q.exception.foreach(e => throw e)
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(s"stream did not process $rows records in time")
      Thread.sleep(20)
    }
  }

  private val severityRe = "\"severity\":\"([a-z]+)\"".r
  private val dueRe = "\"bench_due_ms\":\"([0-9]+)\"".r

  /** Reads the bulk files a batch wrote: `_bulk` bodies of action/doc line pairs. */
  private def readBatch(out: Path, batchId: Long): Shipped = {
    val dir = out.resolve(s"batch=$batchId")
    val parts = if (!Files.isDirectory(dir)) Nil
      else Files.list(dir).iterator().asScala.toSeq
        .filter(_.getFileName.toString.startsWith("part-"))
    var docs, errors, bytes = 0L
    val byDue = mutable.HashMap.empty[Long, Long]
    parts.foreach { p =>
      bytes += Files.size(p)
      Files.readAllLines(p).asScala.grouped(2).foreach { pair =>
        val doc = pair.last
        docs += 1
        if (severityRe.findFirstMatchIn(doc).exists(_.group(1) == "error")) errors += 1
        dueRe.findFirstMatchIn(doc).foreach { m =>
          val d = m.group(1).toLong
          byDue(d) = byDue.getOrElse(d, 0L) + 1
        }
      }
    }
    Shipped(docs, errors, bytes, byDue.toMap)
  }

  /** Every file is one shipping operation: it fails if its JSON docs did not
    * all arrive. The totals, the severity classes and the error channel are
    * run-level checks.
    */
  private def checkShipped(ctx: Ctx, out: Path, files: Seq[Gen.EnvFile],
                           shipped: Map[Long, Shipped]): Unit = {
    val jsonByDue = shipped.values.flatMap(_.jsonByDue).groupBy(_._1)
      .map { case (d, xs) => d -> xs.map(_._2).sum }
    files.foreach { f =>
      val got = jsonByDue.getOrElse(f.dueOffsetMs, 0L)
      ctx.tally(if (got == f.json) None
        else Some(s"${f.name}: $got of ${f.json} JSON docs shipped"))
    }
    val docs = shipped.values.map(_.docs).sum
    val errors = shipped.values.map(_.errors).sum
    val wantDocs = files.map(_.docs.toLong).sum
    val wantErrors = files.map(_.errors.toLong).sum
    ctx.require(docs == wantDocs, s"shipped $docs docs, generated $wantDocs")
    ctx.require(errors == wantErrors, s"$errors docs classed error, generated $wantErrors")
    val errDir = out.resolve("errors")
    ctx.require(!Files.exists(errDir) ||
      !Files.walk(errDir).iterator().asScala.exists(p =>
        Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-") &&
          Files.size(p) > 0),
      "the shipper wrote error docs")
  }

  /** Layer probe, after the stream stopped: the same files read as a batch,
    * timed through each public stage — read, `LogPipeline.decodeRecords`,
    * `LogPipeline.pipeline`, `BulkSink.ship` — so each layer's cost is the
    * difference between consecutive stages (median of three).
    */
  private def layerProbe(ctx: Ctx, in: Path, sample: Seq[Gen.EnvFile]): Map[String, Double] = {
    val spark = ctx.spark
    def records: DataFrame = spark.read.schema(ShipperStream.recordSchema)
      .json(sample.map(f => in.resolve(f.name).toString): _*)
    def timed(body: => Unit): Double = {
      val t = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        body
        Stats.ms(System.nanoTime() - t0)
      }
      Stats.median(t)
    }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val probeOut = ctx.dir("ship-probe").toString
    var id = 0L
    val read = timed(noop(records))
    val decode = timed(noop(LogPipeline.decodeRecords(records)))
    val parse = timed(noop(LogPipeline.pipeline(records)))
    val ship = timed { id += 1; BulkSink.ship(LogPipeline.pipeline(records), probeOut, id, BulkSize) }
    val recs = sample.map(_.envelopes).sum / 1000.0
    val events = sample.map(_.events).sum / 1000.0
    val docs = sample.map(_.docs).sum / 1000.0
    Map(
      "logpipeline.decode_ms_per_krec" -> (decode - read) / recs,
      "logpipeline.parse_ms_per_kevent" -> (parse - decode) / events,
      "bulksink.ship_ms_per_kdoc" -> (ship - parse) / docs)
  }
}

object ShipWorkload {
  /** A file is due every CadenceMs: 10 files/s. */
  val CadenceMs = 100L
  /** Envelopes (Kinesis records) per file: 250 records/s. */
  val Envelopes = 25
  /** Log events per envelope: 2500 events/s. */
  val Fanout = 10
  /** A batch of 375 records takes 0.5-1 s as the machine's speed drifts,
    * so the interval keeps the stream below saturation (at 1 s triggers and
    * twice the rate it saturated in slow phases and the backlog grew), and
    * a 12 s window holds eight batches.
    */
  val TriggerMs = 1500L
  /** Offset of the schedule from the trigger grid. */
  val PhaseMs = 50L
  val BulkSize = 100
  val MaxFilesPerTrigger = 100
  /** Warm-up: seven batches of fifteen files, the measured batch size.
    * After three, the first four measured batches still ran up to twice as
    * slow as the later ones (JIT), and the window's throughput followed.
    */
  val WarmFiles = 105
  val WarmBatches = 7
  val SetupReps = 3
  val ProbeFiles = 20
  val DrainTimeoutMs = 60000L
}
