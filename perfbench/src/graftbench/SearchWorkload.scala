package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.{DataFrame, Row}

import graft.operators.{Similarity, TextIndex}

/** Exact BM25 over the raw documents, kept on the driver: the same
  * scaled-integer scoring the program documents (k1 = 1.2, b = 0.75 cleared
  * to integers), recomputed from the texts the benchmark generated.
  */
final class Bm25Model {
  private val postings = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Long, Long)]]
  private val dl = mutable.HashMap.empty[Long, Long]
  private var n = 0L
  private var tl = 0L

  def docs: Long = n

  def add(docs: Seq[(Long, String)]): Unit = docs.foreach { case (id, text) =>
    val toks = text.split(" ", -1)
    dl(id) = toks.length
    n += 1
    tl += toks.length
    toks.groupBy(identity).foreach { case (t, occ) =>
      postings.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += ((id, occ.length.toLong))
    }
  }

  def df(term: String): Long = postings.get(term).map(_.size.toLong).getOrElse(0L)

  /** Top-k (doc_id, score) by score desc, doc_id asc. */
  def topK(terms: Seq[String], k: Int): Seq[(Long, BigInt)] = {
    val scores = mutable.HashMap.empty[Long, BigInt]
    val bn = BigInt(n)
    val btl = BigInt(tl)
    terms.distinct.foreach { t =>
      val ps = postings.getOrElse(t, mutable.ArrayBuffer.empty)
      val bdf = BigInt(ps.size)
      ps.foreach { case (d, tf) =>
        val btf = BigInt(tf)
        val num = (2 * (bn - bdf) + 1) * 44 * btf * btl * 1000000000L
        val den = (2 * bdf + 1) * (20 * btf * btl + 6 * btl + 18 * BigInt(dl(d)) * bn)
        scores(d) = scores.getOrElse(d, BigInt(0)) + num / den
      }
    }
    scores.toSeq.sortBy { case (d, s) => (-s, d) }.take(k)
  }
}

/** `search`: one client, closed loop. Each step is one interactive turn —
  * a 3-term `TextIndex.bm25TopK` and a single-arrival `Similarity.annRoute`
  * — for `--seconds`; then the client appends a fresh document slice
  * (`appendBm25Index`) and runs `maintainBm25Index`.
  */
final class SearchWorkload extends Workload {
  import SearchWorkload._

  private final case class Fixture(bm25Dir: String, ivfDir: String,
                                   model: Bm25Model, var nextSlice: Int)

  private final case class Window(wallNs: Long, steps: Seq[Double],
                                  bm25: Seq[Double], ann: Seq[Double],
                                  appends: Seq[Double]) {
    /** Reads per second of the loop at its write cadence, from the median
      * step and append times: the loop's steady rate, free of how many
      * whole cycles fit the window.
      */
    def readsPerS: Double = {
      val cycleMs = Stats.median(steps) * AppendEvery + Stats.orZero(Stats.median(appends))
      2.0 * AppendEvery / (cycleMs / 1000.0)
    }
  }

  private var queries: Vector[Seq[String]] = Vector.empty
  private var arrivals: Vector[Array[Float]] = Vector.empty
  private var corpus: Vector[Array[Float]] = Vector.empty
  private var slices: Vector[Vector[(Long, String)]] = Vector.empty
  private var baseDocs: Vector[(Long, String)] = Vector.empty
  private var qi = 0
  // per-request layer samples of the traced window
  private val planMs = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val execMs = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val wallByReq = mutable.HashMap.empty[String, mutable.HashMap[String, Double]]
  private val rowsByReq = mutable.HashMap.empty[String, Long]
  private val recalls = mutable.ArrayBuffer.empty[Double]
  private val probed = mutable.ArrayBuffer.empty[Double]
  private val maintainMs = mutable.ArrayBuffer.empty[Double]
  private var maintainUnits = 0L

  private def sample(m: mutable.HashMap[String, mutable.ArrayBuffer[Double]],
                     k: String, v: Double): Unit =
    m.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v

  override def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val s = ctx.s
    val sessionS = Jvm.uptimeMs / 1000.0
    val g0 = System.nanoTime()
    baseDocs = Gen.zipfDocs(s.seed, 1, BaseDocs, 0L)
    slices = Vector.tabulate(Slices)(j =>
      Gen.zipfDocs(s.seed, 10 + j, SliceDocs, BaseDocs.toLong + j * SliceDocs))
    val cs = Gen.centers(s.seed, Clusters, Dim)
    corpus = Gen.vectors(s.seed, 2, Vectors, cs)
    arrivals = Gen.vectors(s.seed, 3, 4 * s.seconds * MaxStepsPerS, cs)
    val probe = new Bm25Model
    probe.add(baseDocs)
    // queries the base corpus can answer: >= 2k candidate postings
    queries = Gen.tailQueries(s.seed, 4, 8 * s.seconds * MaxStepsPerS)
      .filter(q => q.map(probe.df).sum >= 2 * K)
    ctx.require(queries.size >= 2 * s.seconds * MaxStepsPerS,
      s"only ${queries.size} answerable queries were generated")

    val genS = (System.nanoTime() - g0) / 1e9
    // set-up repetitions: the documents and vectors written to parquet, each
    // time into a fresh directory
    val reps = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      val in = writeInputs(ctx, ctx.dir(s"inputs$rep"))
      (in, (System.nanoTime() - t0) / 1e9)
    }
    // then, once: both index builds, and warm-up — WarmSteps steps, an
    // append and a step, discarded, so JIT and codegen warm-up and the first
    // read after a write (about 40% slower than the next) stay out of the
    // measured window
    val b0 = System.nanoTime()
    val fx = buildIndexes(ctx, reps.last._1, ctx.dir("index"))
    val buildS = (System.nanoTime() - b0) / 1e9
    val w0 = System.nanoTime()
    (0 until WarmSteps).foreach(_ => step(ctx, fx, warm = true))
    append(ctx, fx, warm = true)
    step(ctx, fx, warm = true)
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + genS + Stats.median(reps.map(_._2)) + buildS + warmS
    ctx.log(f"session $sessionS%.2f s, inputs $genS%.2f s + " +
      reps.map(r => f"${r._2}%.2f").mkString(" ") + f" s, index builds $buildS%.2f s, warm-up $warmS%.2f s")
    val untraced = window(ctx, fx, s.seconds)
    ctx.log(s"window: ${untraced.steps.size} steps, bm25 ${untraced.bm25.map(_.round)} " +
      s"ann ${untraced.ann.map(_.round)} appends ${untraced.appends.map(_.round)}")
    val e2e = Map(
      "setup_s" -> setupS,
      "throughput_per_s" -> untraced.readsPerS,
      "latency_p50_ms" -> Stats.median(untraced.steps),
      "peak_rss_mb" -> Jvm.peakRssMb)
    ctx.require(untraced.steps.nonEmpty, "no search step completed")
    if (!s.trace) return Outcome(e2e, Map.empty)

    ctx.startTracing()
    val (gc0, gcn0) = Jvm.gc
    val (h0, m0) = ctx.cacheTotals
    val traced = window(ctx, fx, s.seconds)
    val (gc1, gcn1) = Jvm.gc
    val (h1, m1) = ctx.cacheTotals
    def med(m: mutable.HashMap[String, mutable.ArrayBuffer[Double]], k: String): Double =
      Stats.orZero(Stats.median(m.getOrElse(k, Nil).toSeq))
    // jobs started inside the call, per traced request (none is 0)
    def preJobs(op: String): Double = {
      Bus.drain(spark.sparkContext)
      Stats.orZero(Stats.median(wallByReq.getOrElse(op, mutable.HashMap.empty).keys.toSeq
        .map(id => ctx.jobs.get(s"$op|$id|plan").map(_.jobs.toDouble).getOrElse(0.0))))
    }
    val scanned = ctx.jobs.matching("bm25_query|").groupBy(_._1.split('|')(1))
      .flatMap { case (req, cs) =>
        rowsByReq.get(req).filter(_ > 0).map(r => cs.values.map(_.inputRecords).sum.toDouble / r)
      }.toSeq
    val layers = Layers.zero ++
      ctx.sparkLayer("bm25_query", wallByReq.getOrElse("bm25_query", mutable.HashMap.empty).toMap) ++
      ctx.sparkLayer("ann_query", wallByReq.getOrElse("ann_query", mutable.HashMap.empty).toMap) ++
      ctx.sparkLayer("bm25_append", wallByReq.getOrElse("bm25_append", mutable.HashMap.empty).toMap) ++
      ctx.selfTimeLayer() ++ Map(
      "bm25_p50_ms" -> Stats.orZero(Stats.median(traced.bm25)),
      "bm25_query.plan_ms" -> med(planMs, "bm25_query"),
      "bm25_query.exec_ms" -> med(execMs, "bm25_query"),
      "bm25_query.pre_action_jobs" -> preJobs("bm25_query"),
      "bm25_query.rows_scanned_per_result" -> Stats.orZero(Stats.median(scanned)),
      "ann_p50_ms" -> Stats.orZero(Stats.median(traced.ann)),
      "ann_query.plan_ms" -> med(planMs, "ann_query"),
      "ann_query.exec_ms" -> med(execMs, "ann_query"),
      "ann_query.pre_action_jobs" -> preJobs("ann_query"),
      "ann_query.probed_fraction" -> Stats.orZero(Stats.median(probed.toSeq)),
      "ann_query.recall_at_10" -> Stats.orZero(recalls.sum / recalls.size),
      "append_ms" -> Stats.orZero(Stats.median(traced.appends)),
      "bm25_maintain.ms" -> Stats.orZero(Stats.median(maintainMs.toSeq)),
      "bm25_maintain.units" -> maintainUnits.toDouble,
      "index.bm25.files" -> Layers.dataFiles(fx.bm25Dir).size.toDouble,
      "index.bm25.bytes_per_doc" ->
        Layers.dataFiles(fx.bm25Dir).map(Files.size).sum.toDouble / fx.model.docs,
      "index.ivf.bytes_per_vec" ->
        Layers.dataFiles(fx.ivfDir).map(Files.size).sum.toDouble / Vectors,
      "caches.hits" -> (h1 - h0).toDouble,
      "caches.misses" -> (m1 - m0).toDouble,
      "jvm.gc_ms" -> (gc1 - gc0).toDouble,
      "jvm.gc_count" -> (gcn1 - gcn0).toDouble,
      "trace_overhead.latency_p50_ms" ->
        (Stats.median(traced.steps) - Stats.median(untraced.steps)),
      "trace_overhead.throughput_per_s" -> (traced.readsPerS - untraced.readsPerS))
    Outcome(e2e, layers)
  }

  private final case class Inputs(docs: String, emb: String)

  /** The generated documents and vectors, as parquet. */
  private def writeInputs(ctx: Ctx, dir: Path): Inputs = {
    val spark = ctx.spark
    import spark.implicits._
    val in = Inputs(dir.resolve("docs").toString, dir.resolve("emb").toString)
    baseDocs.toDF("doc_id", "text").coalesce(1).write.parquet(in.docs)
    corpus.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("vec_id", "embedding").coalesce(1).write.parquet(in.emb)
    in
  }

  /** The BM25 and the IVF index builds. */
  private def buildIndexes(ctx: Ctx, in: Inputs, dir: Path): Fixture = {
    val spark = ctx.spark
    val bm25Dir = dir.resolve("bm25").toString
    val ivfDir = dir.resolve("ivf").toString
    val t0 = System.nanoTime()
    TextIndex.writeBm25Index(spark.read.parquet(in.docs), bm25Dir)
    val t1 = System.nanoTime()
    Similarity.ivfWriteIndex(spark.read.parquet(in.emb), ivfDir,
      nCells = Similarity.AutoCells)
    val t2 = System.nanoTime()
    ctx.log(f"bm25 build ${(t1 - t0) / 1e9}%.2f s, ivf build ${(t2 - t1) / 1e9}%.2f s")
    val model = new Bm25Model
    model.add(baseDocs)
    Fixture(bm25Dir, ivfDir, model, 0)
  }

  private def window(ctx: Ctx, fx: Fixture, seconds: Int): Window = {
    val steps, bm25, ann, appends = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val end = t0 + seconds * 1000000000L
    while (System.nanoTime() < end) {
      val (b, a) = step(ctx, fx, warm = false)
      steps += b + a
      bm25 += b
      ann += a
    }
    // one write closes the window: every window holds one, and no measured
    // read follows a write (the first read after one runs ~40% slower)
    append(ctx, fx, warm = false).foreach(appends += _)
    Window(System.nanoTime() - t0, steps.toSeq, bm25.toSeq, ann.toSeq, appends.toSeq)
  }

  /** Runs `plan` (the call into the program) and `exec` (the action), with
    * both timed and grouped; returns (wall ms, rows) or None if it threw.
    */
  private def request(ctx: Ctx, op: String, warm: Boolean)(plan: => DataFrame)
      : Option[(Double, Array[Row])] = {
    val id = ctx.newId()
    try ctx.tracer.span(op) {
      val t0 = System.nanoTime()
      val df = ctx.tracer.span(s"$op.plan")(ctx.grouped(op, id, "plan")(plan))
      val t1 = System.nanoTime()
      val rows = ctx.tracer.span(s"$op.exec")(ctx.grouped(op, id, "exec")(df.collect()))
      val t2 = System.nanoTime()
      if (ctx.tracer.enabled && !warm) {
        sample(planMs, op, Stats.ms(t1 - t0))
        sample(execMs, op, Stats.ms(t2 - t1))
        wallByReq.getOrElseUpdate(op, mutable.HashMap.empty)(id.toString) = Stats.ms(t2 - t0)
        rowsByReq(id.toString) = rows.length
      }
      Some((Stats.ms(t2 - t0), rows))
    } catch {
      case e: Exception =>
        ctx.tally(Some(s"$op threw $e"))
        None
    }
  }

  /** One interactive turn; returns the (bm25, ann) latencies in ms. */
  private def step(ctx: Ctx, fx: Fixture, warm: Boolean): (Double, Double) = {
    val spark = ctx.spark
    import spark.implicits._
    val terms = queries(qi % queries.size)
    val q = arrivals(qi % arrivals.size)
    qi += 1
    val qid = 1000000000L + qi
    ctx.tracer.request("search.step") {
      val b = request(ctx, "bm25_query", warm)(
        TextIndex.bm25TopK(spark, fx.bm25Dir, terms, k = K))
      b.foreach { case (_, rows) => ctx.tally(guard(checkBm25(fx.model, terms, rows))) }
      val a = request(ctx, "ann_query", warm)(
        Similarity.annRoute(Seq((qid, q.toSeq)).toDF("vec_id", "embedding"),
          fx.ivfDir, k = K, nprobe = NProbe))
      a.foreach { case (_, rows) => ctx.tally(guard(checkAnn(ctx, q, rows, warm))) }
      (b.map(_._1).getOrElse(Double.NaN), a.map(_._1).getOrElse(Double.NaN))
    }
  }

  /** Appends the next slice and runs maintenance; returns the append ms. */
  private def append(ctx: Ctx, fx: Fixture, warm: Boolean): Option[Double] = {
    if (fx.nextSlice >= slices.size) return None
    val j = fx.nextSlice
    fx.nextSlice += 1
    val spark = ctx.spark
    import spark.implicits._
    // the client sends the slice from memory; generating it is not timed
    val newDocs = slices(j).toDF("doc_id", "text")
    val id = ctx.newId()
    ctx.tracer.request("search.write") {
      try {
        val t0 = System.nanoTime()
        ctx.tracer.span("bm25_append")(ctx.grouped("bm25_append", id, "call")(
          TextIndex.appendBm25Index(newDocs, fx.bm25Dir)))
        val t1 = System.nanoTime()
        val m = ctx.tracer.span("bm25_maintain")(ctx.grouped("bm25_maintain", id, "call")(
          TextIndex.maintainBm25Index(spark, fx.bm25Dir)))
        val t2 = System.nanoTime()
        fx.model.add(slices(j))
        ctx.tally(None)
        if (ctx.tracer.enabled && !warm) {
          wallByReq.getOrElseUpdate("bm25_append", mutable.HashMap.empty)(id.toString) =
            Stats.ms(t1 - t0)
          maintainMs += Stats.ms(t2 - t1)
          maintainUnits += m.units
        }
        Some(Stats.ms(t1 - t0))
      } catch {
        case e: Exception =>
          ctx.tally(Some(s"append of slice $j threw $e"))
          None
      }
    }
  }

  /** An output check that throws fails its operation. */
  private def guard(check: => Option[String]): Option[String] =
    try check catch { case e: Exception => Some(s"output check threw $e") }

  private def checkBm25(model: Bm25Model, terms: Seq[String],
                        rows: Array[Row]): Option[String] = {
    val got = rows.toSeq.map(r => (r.getLong(0), r.get(1) match {
      case d: java.math.BigDecimal => BigInt(d.toBigIntegerExact)
      case n: java.lang.Number => BigInt(n.longValue)
      case other => return Some(s"bm25TopK score $other is not a number")
    }))
    val want = model.topK(terms, K)
    if (got == want) None
    else Some(s"bm25TopK(${terms.mkString(" ")}) returned ${got.take(3)}..., " +
      s"recompute gives ${want.take(3)}...")
  }

  private def checkAnn(ctx: Ctx, q: Array[Float], rows: Array[Row],
                       warm: Boolean): Option[String] = {
    val got = rows.toSeq.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("nid"))
    if (got.size != K || got.distinct.size != K || got.exists(n => n < 0 || n >= Vectors))
      return Some(s"annRoute returned ${got.size} rows: ${got.take(K)}")
    val exact = exactTopK(q)
    val recall = got.count(exact.contains).toDouble / K
    if (ctx.tracer.enabled && !warm) {
      recalls += recall
      probed += rows.head.getAs[Double]("probed_fraction")
    }
    if (recall < RecallFloor) Some(f"annRoute recall@$K $recall%.2f below $RecallFloor")
    else None
  }

  /** Brute-force cosine top-k over the generated corpus vectors. */
  private def exactTopK(q: Array[Float]): Set[Long] = {
    val qd = q.map(_.toDouble)
    val qn = math.sqrt(qd.map(x => x * x).sum)
    corpus.iterator.zipWithIndex.map { case (v, i) =>
      var dot, nn = 0.0
      var d = 0
      while (d < v.length) { dot += qd(d) * v(d); nn += v(d).toDouble * v(d); d += 1 }
      (dot / (qn * math.sqrt(nn)), i.toLong)
    }.toSeq.sortBy { case (c, i) => (-c, i) }.take(K).map(_._2).toSet
  }
}

object SearchWorkload {
  val BaseDocs = 2000
  val SliceDocs = 200
  val Vectors = 4000
  val Dim = 32
  val Clusters = 20
  val K = 10
  val NProbe = 5
  /** The stated write cadence: one append per this many steps. */
  val AppendEvery = 4
  /** Appends per run: the warm-up's and one per window. */
  val Slices = 3
  val SetupReps = 3
  /** Warm-up steps before the warm-up append. A fresh JVM's steps get
    * faster for a dozen steps as the JIT compiles Spark's planner; the
    * first four are 20-50% slower than the sixth, and after six the first
    * measured steps were still 30% slower than the later ones.
    */
  val WarmSteps = 8
  /** Generous bound on loop steps per second, used to size the inputs. */
  val MaxStepsPerS = 4
  /** Per-request recall@10 floor of the IVF route against brute force. */
  val RecallFloor = 0.5
}

/** Per-layer helpers shared by the workloads. */
object Layers {
  /** Every per-layer metric at 0: the base map each workload overrides. */
  val zero: Map[String, Double] = Metrics.perLayer.map(_._1 -> 0.0).toMap

  def dataFiles(dir: String): Seq[Path] = {
    val root = java.nio.file.Paths.get(dir)
    if (!Files.exists(root)) Nil
    else Files.walk(root).iterator().asScala.toSeq.filter { p =>
      Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")
    }
  }
}
