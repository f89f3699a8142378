package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType, StructField, StructType}

import graft.functions.HeldMatrix
import graft.functions.gcolumns.{dotp, ivf_centroid}
import graft.operators.Similarity

/** The constant matrices of the vector family — PQ codebooks, the ADC
  * lookup table's codewords, LSH hyperplanes — are read from a
  * [[HeldMatrix]] through the IVF kernels instead of plan literals. The
  * former literal formulas stay here as oracles: the per-codeword
  * `greatest` + first-match `when` PQ encoding, the per-plane `typedlit`
  * signatures and the `typedlit` lookup table. Also: the routes' optimized
  * plans hold no floating-point array literal, and the
  * [[PlanLiteralGuard]] every suite runs under trips past its limit.
  */
class HeldMatrixSpec extends SparkSpec {

  private def withConf[T](kv: (String, String)*)(f: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** (id, v, cell) as a two-partition RDD-backed frame: no local-relation
    * folding, so the projections run in the executors. */
  private def vectors(vs: Seq[Seq[java.lang.Double]],
                      cells: Int): DataFrame = {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", ArrayType(DoubleType, containsNull = true)),
      StructField("cell", LongType)))
    val rows = vs.zipWithIndex.map { case (v, i) =>
      Row(i.toLong, if (v == null) null else v, (i % cells).toLong) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  /** Doubles by their bits (NaN and -0.0 included), arrays element-wise. */
  private def bits(x: Any): Any = x match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case s: scala.collection.Seq[_] => s.map(bits)
    case o => o
  }

  /** The program's column (`kernel`) equals the former formula
    * (`oracle`) bit for bit on every row, with ANSI on and off, both
    * whole-stage codegen'd (a compile error fails instead of falling
    * back) and interpreted. The columns are built inside each ANSI
    * setting, as a route builds them. */
  private def assertSame(df: DataFrame, what: String)
                        (kernel: DataFrame => DataFrame,
                         oracle: DataFrame => DataFrame): Unit =
    for (ansi <- Seq("true", "false"))
      withConf("spark.sql.ansi.enabled" -> ansi) {
        def byId(out: DataFrame): Map[Long, Any] =
          out.collect().map(r => r.getLong(0) -> bits(r.get(1))).toMap
        val want = PlanLiteralGuard.allowing(byId(oracle(df)))
        for ((mode, conf) <- Seq(
            "codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true",
              "spark.sql.codegen.fallback" -> "false"),
            "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
              "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))) {
          val got = withConf(conf: _*)(byId(kernel(df)))
          assert(got.keySet == want.keySet)
          for ((id, w) <- want)
            assert(got(id) == w, s"$what, ansi=$ansi, $mode, row $id: " +
              s"kernel ${got(id)}, formula $w")
        }
      }

  /** The former PQ encoding, verbatim: per-codeword score columns
    * dot(r, c) − |c|²/2 and a first-match when-chain over `greatest`. */
  private def oracleCodes(df: DataFrame, cents: HeldMatrix,
                          cbs: Seq[Seq[Seq[Double]]]): DataFrame = {
    val sd = cbs.head.head.size
    val res = zip_with(col("v"), ivf_centroid(col("cell"), cents),
      (x, c) => x - c)
    val withRes = df.withColumn("__res", res)
    val codeCols = cbs.indices.map { s =>
      val sub = slice(col("__res"), s * sd + 1, sd)
      val scores = cbs(s).map { c =>
        val halfSq = c.foldLeft(0.0)((a, x) => a + x * x) / 2.0
        dotp(sub, typedlit(c)) - lit(halfSq)
      }
      val mx = if (scores.size == 1) scores.head else greatest(scores: _*)
      scores.indices.tail.foldLeft(when(scores(0) === mx, lit(0))) {
        (w, cc) => w.when(scores(cc) === mx, lit(cc))
      }.cast("int")
    }
    withRes.withColumn("codes", array(codeCols: _*)).drop("__res")
  }

  /** The former ADC lookup table, verbatim. */
  private def oracleLut(qv: Column, cbs: Seq[Seq[Seq[Double]]]): Column = {
    val sd = cbs.head.head.size
    array(cbs.indices.map { s =>
      array(cbs(s).map(c => dotp(slice(qv, s * sd + 1, sd), typedlit(c))): _*)
    }: _*)
  }

  /** The former LSH signatures, verbatim: one `typedlit` per plane. */
  private def oracleSignatures(v: Column, planes: Int, tables: Int,
                               dim: Int): Column = {
    val bit = (i: Int) => {
      val plane = typedlit((0 until dim)
        .map(d => Similarity.planeComponent(i / planes, i % planes, d)))
      when(dotp(v, plane) >= 0, lit(1L)).otherwise(lit(0L))
    }
    array((0 until tables).map { t =>
      (0 until planes).map(j => bit(t * planes + j) * (1L << (planes - 1 - j)))
        .reduce(_ + _)
    }: _*)
  }

  private def boxed(v: Seq[Double]): Seq[java.lang.Double] =
    v.map(java.lang.Double.valueOf)

  private val rnd = new scala.util.Random(31)
  private def gauss(n: Int): Seq[Double] = Seq.fill(n)(rnd.nextGaussian())

  /** ~60 seeded random vectors plus the edge rows: null, a NaN
    * component, all -0.0, all 0.0, and copies of given rows. */
  private def corpus(dim: Int, copies: Seq[Seq[Double]]) =
    Seq.fill(60)(boxed(gauss(dim))) ++ Seq(null,
      boxed(Seq(Double.NaN) ++ gauss(dim - 1)),
      boxed(Seq.fill(dim)(-0.0)), boxed(Seq.fill(dim)(0.0))) ++
      copies.map(boxed)

  /** Codebook sets over `m` subspaces of `sd` dims: random, one holding
    * an exact zero codeword (and a -0.0 one), one with duplicate
    * codewords, and pqK = 1. */
  private def codebookSets(m: Int, sd: Int): Seq[(String, Seq[Seq[Seq[Double]]])] = {
    val random = Seq.fill(m)(Seq.fill(4)(gauss(sd)))
    Seq("random" -> random,
      "zero codeword" -> random.map(_.updated(2, Seq.fill(sd)(0.0))
        .updated(3, Seq.fill(sd)(-0.0))),
      "duplicate codewords" -> random.map(cb => cb.updated(3, cb(1))),
      "pqK = 1" -> random.map(cb => Seq(cb(2))))
  }

  test("PQ encoding through the held codebooks equals the former " +
      "greatest/when encoding, zero and duplicate codewords and pqK = 1 " +
      "included, with no DIVIDE_BY_ZERO under ANSI") {
    val (m, sd) = (2, 4)
    val cents = Seq.fill(3)(gauss(m * sd))
    val held = new HeldMatrix(cents)
    for ((name, cbs) <- codebookSets(m, sd)) {
      // row 64 is its cell's centroid (a zero residual); row 65's
      // residual is each subspace's codeword 2 (the zero codeword in one
      // set, a duplicated value's neighbor in another)
      val onCode = cents(65 % cents.size)
        .zip(cbs.flatMap(cb => cb(math.min(2, cb.size - 1))))
        .map { case (c, r) => c + r }
      val df = vectors(corpus(m * sd, Seq(cents(64 % cents.size), onCode)),
        cents.size)
      val cbsHeld = cbs.map(new HeldMatrix(_))
      assertSame(df, s"codes ($name)")(
        d => Similarity.withCodes(d, "v", "cell", held, cbsHeld)
          .select("id", "codes"),
        d => oracleCodes(d, held, cbs).select("id", "codes"))
    }
  }

  test("the ADC lookup table read from the held codebooks equals the " +
      "former typedlit table") {
    val (m, sd) = (2, 4)
    for ((name, cbs) <- codebookSets(m, sd)) {
      val df = vectors(corpus(m * sd, Seq(cbs.flatMap(_.head))), 1)
      val cbsHeld = cbs.map(new HeldMatrix(_))
      assertSame(df, s"lookup table ($name)")(
        d => d.select(col("id"), Similarity.lookupTable(col("v"), cbsHeld)),
        d => d.select(col("id"), oracleLut(col("v"), cbs)))
    }
  }

  test("LSH signatures read from the held hyperplanes equal the former " +
      "per-plane typedlit signatures") {
    for ((planes, tables, dim) <- Seq((3, 2, 8), (8, 8, 64))) {
      val plane0 = (0 until dim).map(d => Similarity.planeComponent(0, 0, d))
      val df = vectors(corpus(dim, Seq(plane0, plane0.map(-_))), 1)
      assertSame(df, s"signatures ($planes x $tables x $dim)")(
        d => d.select(col("id"),
          Similarity.signatures(col("v"), planes, tables, dim)),
        d => d.select(col("id"),
          oracleSignatures(col("v"), planes, tables, dim)))
    }
  }

  /** Array literals of floating-point elements in an optimized plan. */
  private def floatArrays(df: DataFrame): Seq[Literal] =
    df.queryExecution.optimizedPlan.collectWithSubqueries {
      case p => p.expressions.flatMap(_.collect {
        case l @ Literal(_, ArrayType(DoubleType | FloatType, _)) => l
        case l @ Literal(_, ArrayType(ArrayType(DoubleType | FloatType, _), _)) => l
      })
    }.flatten

  test("pqRoute's and annLsh's optimized plans read ivf_centroid( and " +
      "hold no floating-point array literal") {
    val emb = Tables.t(spark, sf001, "embeddings").select("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-heldmatrix")
      .toString
    Similarity.ivfWriteIndex(emb, dir, nCells = 8, pqM = 8, pqK = 16)
    val pq = Similarity.pqRoute(emb.filter(col("vec_id") < 5), dir, k = 5)
    val lsh = Similarity.annLsh(emb, col("vec_id") < 5, k = 5)
    for ((name, df) <- Seq("pqRoute" -> pq, "annLsh" -> lsh)) {
      assert(df.collect().nonEmpty, name)
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("ivf_centroid("), s"$name:\n$plan")
      assert(floatArrays(df).isEmpty, s"$name:\n${floatArrays(df)}")
    }
  }

  test("the plan literal guard fails a plan past its limit, counts " +
      "subqueries, and lets allowed reference formulas through") {
    val limit = PlanLiteralGuard.MaxFloats
    def withFloats(n: Int): DataFrame =
      spark.range(1).select(typedlit(Seq.fill(n)(0.5)).as("a"))
    assert(withFloats(limit).collect().length == 1)
    val e = intercept[Exception](withFloats(limit + 1).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains(s"holds ${limit + 1} floating-point")), e)
    assert(PlanLiteralGuard.allowing(withFloats(limit + 1).collect())
      .length == 1)
    val sub = spark.sql(
      s"SELECT (SELECT array(${Seq.fill(10)("0.5D").mkString(", ")})) AS a")
    assert(PlanLiteralGuard.count(sub.queryExecution.analyzed) == 10)
  }
}
