package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkThrowable
import org.apache.spark.graftspec.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}

import graft.functions.{HeldMatrix, VectorTextImpl}
import graft.functions.gcolumns.{dotp, ivf_cell, ivf_cells}
import graft.operators.Similarity
import graft.sources.StoredIndex

/** The IVF cell-assignment kernel ([[graft.functions.IvfCells]]) against
  * the two column formulas it replaced, kept here as oracles: the probe
  * side's `transform` / `array_sort` / `array_position` over a centroid
  * literal and the build side's per-cell score columns + first-match
  * `when` chain. Also: the routes' plans never print the centroids, the
  * probed-cell collect is one job with no exchange, and driver-held
  * arrivals serve with no plan-time job at all.
  */
class IvfCellsSpec extends SparkSpec {

  private lazy val emb = Tables.t(spark, sf001, "embeddings")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The former probe-side formula, verbatim. */
  private def oracleCells(v: Column, cents: Seq[Seq[Double]],
                          nprobe: Int): Column = {
    val cLit = typedlit(cents)
    val cn = typedlit(cents.map(c =>
      math.sqrt(c.foldLeft(0.0)((a, x) => a + x * x))))
    val scores = transform(sequence(lit(0), lit(cents.size - 1)), i =>
      dotp(v, element_at(cLit, i + 1)) / element_at(cn, i + 1))
    transform(slice(reverse(array_sort(scores)), 1, nprobe),
      s => array_position(scores, s) - 1)
  }

  /** The former build-side argmax, verbatim: (cell, qerr). */
  private def oracleArgmax(v: Column, vn: Column,
                           cents: Seq[Seq[Double]]): (Column, Column) = {
    val s = cents.indices.map { c =>
      val cn = math.sqrt(cents(c).foldLeft(0.0)((a, x) => a + x * x))
      dotp(v, typedlit(cents(c))) / lit(cn)
    }
    val mx = if (cents.size == 1) s.head else greatest(s: _*)
    val cell =
      if (cents.size == 1) lit(0L)
      else cents.indices.tail.foldLeft(when(s.head === mx, lit(0L))) {
        (w, c) => w.when(s(c) === mx, lit(c.toLong))
      }
    (cell, lit(1.0) - mx / vn)
  }

  private def withConf[T](kv: (String, String)*)(f: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Vectors as a two-partition RDD-backed frame (id, v): no local-
    * relation folding, so the projection runs in the executors. */
  private def vectors(vs: Seq[Seq[java.lang.Double]]): DataFrame = {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", ArrayType(DoubleType, containsNull = true))))
    val rows = vs.zipWithIndex.map { case (v, i) =>
      Row(i.toLong, if (v == null) null else v) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  /** Each (name, kernel, oracle) column pair per row, the kernels both
    * whole-stage codegen'd (a compile error fails instead of falling
    * back) and interpreted. */
  private def assertSame(vs: Seq[Seq[java.lang.Double]],
                         pairs: Seq[(String, Column, Column)],
                         kernelInPlan: Boolean = true): Unit = {
    val df = vectors(vs)
    def rows(cs: Seq[Column]): Map[Long, Seq[Any]] =
      df.select(col("id") +: cs: _*).collect()
        .map(r => r.getLong(0) -> cs.indices.map(i => r.get(i + 1))).toMap
    val want = PlanLiteralGuard.allowing(rows(pairs.map(_._3)))
    val kernels = pairs.map(_._2)
    val codegen = withConf("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.fallback" -> "false") {
      val plan = df.select(kernels: _*).queryExecution.executedPlan
      assert(!kernelInPlan || plan.collect {
          case w: WholeStageCodegenExec => w
        }.exists(_.toString.contains("ivf_cells")),
        s"ivf_cells must run whole-stage codegen'd:\n$plan")
      rows(kernels)
    }
    val interpreted = withConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(rows(kernels))
    for ((mode, got) <- Seq("codegen" -> codegen, "interpreted" -> interpreted);
         (id, w) <- want; i <- pairs.indices)
      assert(got(id)(i) == w(i), s"$mode, vector $id, ${pairs(i)._1}: " +
        s"kernel ${got(id)(i)}, formula ${w(i)}")
  }

  /** Probe side: the kernel's cells vs the former probe-side formula. */
  private def assertSameCells(vs: Seq[Seq[java.lang.Double]],
                              cents: Seq[Seq[Double]],
                              nprobes: Seq[Int]): Unit = {
    val held = new HeldMatrix(cents)
    assertSame(vs, nprobes.map(p => (s"nprobe $p",
      ivf_cells(col("v"), held, p), oracleCells(col("v"), cents, p))))
  }

  /** Build side: the kernel's argmax and the driver training loops'
    * [[VectorTextImpl.nearestCell]] vs the former when-chain. */
  private def assertSameArgmax(vs: Seq[Seq[java.lang.Double]],
                               cents: Seq[Seq[Double]]): Unit = {
    val held = new HeldMatrix(cents)
    val want = oracleArgmax(col("v"), lit(1.0), cents)._1
    // a one-cell index is a constant assignment, no kernel
    assertSame(vs, Seq(("argmax", ivf_cell(col("v"), held), want)),
      kernelInPlan = cents.size > 1)
    val oracle = PlanLiteralGuard.allowing(
        vectors(vs).select(col("id"), want).collect())
      .map(r => r.getLong(0) -> r.get(1)).toMap
    for ((v, id) <- vs.zipWithIndex if v != null) {
      val got = VectorTextImpl.nearestCell(v.map(_.doubleValue).toArray, held)
      // no cell scores (every centroid zero-norm): the driver takes cell 0
      val exp = Option(oracle(id.toLong)).getOrElse(0L)
      assert(got.toLong == exp, s"driver, vector $id: $got, formula $exp")
    }
  }

  private def boxed(v: Seq[Double]): Seq[java.lang.Double] =
    v.map(java.lang.Double.valueOf)

  test("ivf_cells chooses the former formula's cells: random vectors, " +
      "ties, zero/null/NaN vectors, nprobe past the cell count") {
    val rnd = new scala.util.Random(17)
    val dim = 8
    def gauss(): Seq[Double] = Seq.fill(dim)(rnd.nextGaussian())
    val cents = Seq.fill(16)(gauss())
    val random = Seq.fill(60)(boxed(gauss()))
    val edge = Seq(
      boxed(Seq.fill(dim)(0.0)), // every score 0: ties collapse to cell 0
      boxed(Seq.fill(dim)(-0.0)),
      null, // null vector: nprobe null cells
      boxed(Seq(Double.NaN) ++ Seq.fill(dim - 1)(1.0)), // all scores NaN
      boxed(cents(5)), boxed(cents(5).map(_ * -1.0)),
      boxed(Seq(1.0) ++ Seq.fill(dim - 1)(0.0)))
    assertSameCells(random ++ edge, cents, Seq(1, 3, 16, 40))
    assertSameArgmax(random ++ edge, cents)
    // duplicate centroids tie exactly: first index wins, and a probe
    // ranking both keeps the first id twice
    val dup = cents.updated(9, cents(2)).updated(12, cents(2))
    assertSameCells(random.take(20) ++ edge ++ Seq(boxed(cents(2))), dup,
      Seq(1, 2, 3, 5, 20))
    assertSameArgmax(random.take(20) ++ edge ++ Seq(boxed(cents(2))), dup)
    // a one-cell index
    assertSameCells(random.take(10) ++ edge, Seq(cents.head), Seq(1, 5))
    assertSameArgmax(random.take(10) ++ edge, Seq(cents.head))
  }

  test("a zero-norm centroid fails as the formulas' division by zero " +
      "does under ANSI, and ranks like their null score otherwise: " +
      "first on the probe side, last on the build side") {
    val rnd = new scala.util.Random(23)
    val cents = Seq.fill(6)(Seq.fill(4)(rnd.nextGaussian()))
      .updated(3, Seq.fill(4)(0.0))
    val vs = Seq.fill(12)(boxed(Seq.fill(4)(rnd.nextGaussian()))) :+ null
    withConf("spark.sql.ansi.enabled" -> "true") {
      val held = new HeldMatrix(cents)
      for (c <- Seq(ivf_cells(col("v"), held, 2),
                    oracleCells(col("v"), cents, 2),
                    ivf_cell(col("v"), held),
                    oracleArgmax(col("v"), lit(1.0), cents)._1)) {
        val e = intercept[Exception](vectors(vs).select(c).collect())
        val causes = Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).toSeq
        assert(causes.exists {
          case t: SparkThrowable => t.getCondition == "DIVIDE_BY_ZERO"
          case _ => false
        }, s"expected DIVIDE_BY_ZERO, got $e")
      }
    }
    withConf("spark.sql.ansi.enabled" -> "false") {
      assertSameCells(vs, cents, Seq(1, 2, 6))
      assertSameArgmax(vs, cents)
      // every centroid zero-norm: no cell scores, so no cell
      val zero = Seq.fill(3)(Seq.fill(4)(0.0))
      assertSameCells(vs, zero, Seq(1, 3))
      assertSameArgmax(vs, zero)
    }
  }

  test("the IVF build, append and rebuild assign every vector the " +
      "former when-chain's cell, and stats carry its qerr") {
    val dir = tmp("graft-ivfcells-build")
    def storedCents(): Seq[Seq[Double]] =
      spark.read.parquet(s"$dir/centroids").orderBy("cell").collect()
        .map(_.getSeq[Double](1).toSeq).toSeq
    def check(step: String, corpus: DataFrame, gens: Set[Int]): Unit = {
      val cents = storedCents()
      val vecs = corpus.select(col("vec_id").as("nid"),
          transform(col("embedding"), _.cast("double")).as("v"))
        .withColumn("vn", sqrt(dotp(col("v"), col("v"))))
      val (cell, qerr) = oracleArgmax(col("v"), col("vn"), cents)
      val want = PlanLiteralGuard.allowing(
          vecs.select(col("nid"), cell.as("cell"), qerr.as("qerr")).collect())
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val got = StoredIndex.readTable(spark, s"$dir/postings",
          "nid BIGINT, cell BIGINT").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want.map { case (n, (c, _)) => n -> c },
        s"$step: stored cells differ from the when-chain's")
      // every generation's per-cell counts and mean qerr, recomputed from
      // the oracle's per-vector assignment (the avg's sum order is the
      // build's, so compare to a relative 1e-12)
      val stats = StoredIndex.readTable(spark, s"$dir/stats",
          "gen INT, cell BIGINT, n_vecs BIGINT, mean_qerr DOUBLE")
        .collect().map(r => (r.getInt(0), r.getLong(1)) ->
          (r.getLong(2), r.getDouble(3))).toMap
      assert(stats.keySet.map(_._1) == gens, s"$step: generations")
      val byCell = want.values.groupBy(_._1)
      val pooled = stats.groupBy(_._1._2).map { case (c, g) =>
        c -> (g.values.map(_._1).sum,
          g.values.map(x => x._1 * x._2).sum / g.values.map(_._1).sum) }
      assert(pooled.keySet == byCell.keySet, s"$step: occupied cells")
      byCell.foreach { case (c, xs) =>
        val (n, mq) = pooled(c)
        val exp = xs.map(_._2).sum / xs.size
        assert(n == xs.size, s"$step: cell $c count")
        assert(math.abs(mq - exp) <= 1e-12 * math.max(1.0, math.abs(exp)),
          s"$step: cell $c mean qerr $mq vs $exp")
      }
    }
    val half1 = emb.filter(col("vec_id") % 2 === 0)
    Similarity.ivfWriteIndex(half1, dir)
    check("build", half1, Set(0))
    Similarity.appendIvfIndex(emb.filter(col("vec_id") % 2 === 1), dir)
    check("append", emb, Set(0, 1))
    Similarity.rebuildIvfIndex(spark, dir, nCells = 12)
    assert(storedCents().size == 12)
    check("rebuild", emb, Set(0))
  }

  test("annRoute's plan never prints a centroid and does not grow with " +
      "the cell count") {
    val probe = emb.filter(col("vec_id") === 7)
    def plan(nCells: Int): (String, String, Seq[Double]) = {
      val dir = tmp("graft-ivfcells-plan")
      Similarity.ivfWriteIndex(emb, dir, nCells = nCells)
      val routed = Similarity.annRoute(probe, dir, k = 5)
      routed.collect()
      val cents = spark.read.parquet(s"$dir/centroids").collect()
        .flatMap(_.getSeq[Double](1))
      val qe = routed.queryExecution
      (qe.executedPlan.toString,
        qe.optimizedPlan.toString.replaceAll("#\\d+L?", "#")
          .replace(dir, "<dir>"), cents.toSeq)
    }
    val (x8, o8, c8) = plan(8)
    val (x64, o64, c64) = plan(64)
    for ((p, cs) <- Seq(x8 -> c8, x64 -> c64, o8 -> c8, o64 -> c64)) {
      assert(p.contains("ivf_cells("), p)
      val shown = cs.filter(d => p.contains(d.toString))
      assert(shown.isEmpty, s"plan prints centroid components $shown:\n$p")
    }
    // 64 x 64 doubles would add ~90k characters; the cell count shows
    // only in the table's short form, the probed-cell ids and
    // probed_fraction (the physical plans may pick different join sides)
    assert(math.abs(o64.length - o8.length) < 40,
      s"plan length moved with the cell count:\n$o8\n$o64")
  }

  /** (description, stage count) of each Spark job `f` starts. */
  private def jobsOf(f: => Unit): Seq[(String, Int)] = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add((Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""), e.stageInfos.size))
    }
    ListenerBus.drain(sc)
    sc.addSparkListener(l)
    try { f; ListenerBus.drain(sc) } finally sc.removeSparkListener(l)
    seen.asScala.toSeq
  }

  test("the probed-cell collect is one job with no exchange") {
    val dir = tmp("graft-ivfcells-jobs")
    Similarity.ivfWriteIndex(emb, dir)
    val probes = emb.filter(col("vec_id") < 40)
    val first = Similarity.annRoute(probes, dir, k = 5).collect().toSet
    // planning the second serve runs only the probed-cell collect
    var routed: DataFrame = null
    val jobs = jobsOf { routed = Similarity.annRoute(probes, dir, k = 5) }
    assert(jobs.size == 1 && jobs.head._2 == 1,
      s"plan-time jobs (description, stages): $jobs")
    assert(routed.collect().toSet == first)
    // the helper itself: same keys as distinct(), one single-stage job
    val keys = spark.range(0, 1000, 1, 4).select((col("id") % 37).as("k"))
    var got: Array[Row] = null
    val kjobs = jobsOf { got = StoredIndex.distinctKeys(keys) }
    assert(kjobs.map(_._2) == Seq(1), s"distinctKeys jobs: $kjobs")
    assert(got.toSet == keys.distinct().collect().toSet && got.length == 37)
  }

  test("driver-held arrivals serve with no plan-time job and no dedup " +
      "exchange, and return the distributed path's neighbors") {
    val dir = tmp("graft-ivfcells-local")
    Similarity.ivfWriteIndex(emb, dir)
    val picked = emb.filter(col("vec_id") < 12).collect().toSeq
    // a duplicate arrival id scores each (qid, cell) once on both paths
    val local = spark.createDataFrame((picked :+ picked.head).asJava,
      emb.schema)
    val spread = local.repartition(3)
    val dedupExchange = "hashpartitioning\\(qid#\\d+L?, cell#".r
    def serve(arrivals: DataFrame): (Set[Row], String) = {
      val routed = Similarity.annRoute(arrivals, dir, k = 5)
      (routed.collect().toSet, routed.queryExecution.executedPlan.toString)
    }
    val (want, spreadPlan) = serve(spread)
    assert(dedupExchange.findFirstIn(spreadPlan).isDefined, spreadPlan)
    val (got, localPlan) = serve(local)
    assert(got == want)
    assert(dedupExchange.findFirstIn(localPlan).isEmpty, localPlan)
    assert(!localPlan.contains("ivf_cells("), localPlan)
    val jobs = jobsOf { Similarity.annRoute(local, dir, k = 5) }
    assert(jobs.isEmpty, s"plan-time jobs: $jobs")
  }
}
