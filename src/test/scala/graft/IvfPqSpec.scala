package graft

import org.apache.spark.graftspec.ListenerBus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.Similarity

/** IVF-PQ (IVFADC with exact re-rank) — the vector family's compressed
  * 100 TB tier. Proves: the exhaustive-probe / no-cut adjudication mode
  * equals brute force EXACTLY (scores bit-identical — what `sim_ivfpq`
  * hash-checks through DuckDB); the full lifecycle
  * (append/delete/compact/rebuild/as-of) maintains the `codes` column and
  * keeps exact-mode parity with a brute-force recompute over the live
  * corpus; the ADC scan never reads the float vectors (the 64x
  * bytes-per-candidate story is a plan fact, not prose); and at
  * production knobs on the clustered fixture the rerank cut is REAL
  * (candidates far exceed the rerank budget) while recall@5 holds the
  * floor — including for probes from an appended batch, which proves the
  * appended rows' residual codes rank (garbage codes would collapse ADC
  * ordering and recall with it).
  */
class IvfPqSpec extends SparkSpec {

  private lazy val emb =
    Tables.t(spark, sf001, "embeddings").select("vec_id", "embedding")
  private val probeF = col("vec_id") % 100 === 0

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-ivfpq").toString

  private def rows(df: DataFrame): Set[(Long, Int, Long, Double)] =
    df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet

  /** Exhaustive-probe, no-rerank-cut serve: provably exact. */
  private def exactServe(dir: String, probes: DataFrame, nCells: Int,
                         asOf: Option[Int] = None): DataFrame =
    Similarity.pqRoute(probes, dir, k = 5, nprobe = nCells, rerank = 0,
      asOf = asOf)

  test("exhaustive probe + no rerank cut equals brute force bit-exactly " +
      "(the sim_ivfpq adjudication mode)") {
    val dir = tmp()
    Similarity.ivfWriteIndex(emb, dir, nCells = 8, pqM = 8, pqK = 16)
    val got = rows(exactServe(dir, emb.filter(probeF), nCells = 8))
    val want = rows(Similarity.bruteForceTopK(emb, probeF, k = 5))
    assert(got == want,
      "ADC-then-exact at exhaustive probe must reproduce the brute-force " +
        "cosine ranking, scores included")
  }

  test("lifecycle: append/delete/compact/rebuild keep exact-mode parity " +
      "with brute force over the live corpus; as-of serves the " +
      "pre-append state") {
    val dir = tmp()
    val base = emb.filter(col("vec_id") % 2 === 0)
    val grown = emb
    Similarity.ivfWriteIndex(base, dir, nCells = 8, pqM = 8, pqK = 16)
    // append the odd half: encoded through the STORED quantizers
    Similarity.appendIvfIndex(emb.filter(col("vec_id") % 2 === 1), dir)
    assert(rows(exactServe(dir, grown.filter(probeF), 8)) ==
      rows(Similarity.bruteForceTopK(grown, probeF, k = 5)),
      "append-grown PQ index must serve the union corpus exactly")
    // as-of: version 0 is the pre-append state
    assert(rows(exactServe(dir, base.filter(probeF), 8, asOf = Some(0))) ==
      rows(Similarity.bruteForceTopK(base, probeF, k = 5)),
      "as-of 0 must serve the base-half corpus exactly")
    // delete a slice; served view must equal brute force over the live set
    Similarity.deleteFromIvfIndex(
      emb.filter(col("vec_id") % 7 === 3).select("vec_id"), dir)
    val live = grown.filter(col("vec_id") % 7 =!= 3)
    assert(rows(exactServe(dir, live.filter(probeF), 8)) ==
      rows(Similarity.bruteForceTopK(live, probeF, k = 5)),
      "tombstoned ids must leave the served ranking")
    // compaction folds the tombstones and must carry `codes` forward
    assert(Similarity.compactIvfIndex(spark, dir) > 0)
    assert(rows(exactServe(dir, live.filter(probeF), 8)) ==
      rows(Similarity.bruteForceTopK(live, probeF, k = 5)),
      "compaction must not change the served ranking")
    val postCodes = spark.read.parquet(s"$dir/postings")
    assert(postCodes.schema.fieldNames.contains("codes") &&
      postCodes.filter(col("codes").isNull).count() == 0,
      "compacted postings must keep every row's codes")
    // rebuild retrains BOTH quantizer levels and re-encodes
    Similarity.rebuildIvfIndex(spark, dir, nCells = 8)
    val cbAfter = spark.read.parquet(s"$dir/codebooks").collect()
    assert(cbAfter.nonEmpty, "rebuild must rewrite the codebooks table")
    assert(rows(exactServe(dir, live.filter(probeF), 8)) ==
      rows(Similarity.bruteForceTopK(live, probeF, k = 5)),
      "rebuilt PQ index must serve the live corpus exactly")
  }

  test("the ADC scan reads codes + norm, never the float vectors; both " +
      "postings scans prune to the probed cells") {
    val dir = tmp()
    Similarity.ivfWriteIndex(emb, dir, nCells = 8, pqM = 8, pqK = 16)
    val plan = Similarity.pqRoute(emb.filter(probeF), dir, k = 5,
        nprobe = 3, rerank = 4)
      .queryExecution.executedPlan.toString
    val postScans = plan.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("postings"))
      .toSeq
    assert(postScans.size == 2,
      s"expected the ADC scan + the re-rank scan:\n${postScans.mkString("\n")}")
    val adcScan = postScans.filter(l =>
      l.contains("codes") && !l.contains("nv"))
    assert(adcScan.size == 1,
      "exactly one scan (the ADC pass) must read codes WITHOUT the " +
        s"float vectors:\n${postScans.mkString("\n")}")
    postScans.foreach { l =>
      assert(l.contains("PartitionFilters: [") &&
        ".*PartitionFilters: \\[[^\\]]*cell.*".r.findFirstIn(l).isDefined,
        s"every postings scan must prune to the probed cells:\n$l")
    }
  }

  test("production knobs on the clustered fixture: the rerank cut is " +
      "real and recall@5 holds, including for appended probes") {
    import spark.implicits._
    // the SimilaritySpec clustered-fixture discipline: 30 near-orthogonal
    // Gaussian clusters — but with sigma 0.15, rich WITHIN-cluster
    // geometry, the regime residual PQ exists for
    val rnd = new scala.util.Random(2024)
    val dim = 64
    val clusters = 30
    val perCluster = 400
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val centers =
      Array.fill(clusters)(unit(Array.fill(dim)(rnd.nextGaussian())))
    val rows0 = for (c <- 0 until clusters; i <- 0 until perCluster) yield {
      val v = unit(centers(c).map(_ + rnd.nextGaussian() * 0.15))
      // ids interleave across clusters so the bounded training sample
      // (first 4096 by id) sees every cluster
      (i.toLong * clusters + c, v.map(_.toFloat))
    }
    val all = rows0.toDF("vec_id", "embedding").repartition(8).persist()
    all.count()
    try {
      val baseN = clusters * perCluster / 2
      val base = all.filter(col("vec_id") < baseN)
      val appended = all.filter(col("vec_id") >= baseN)
      val dir = tmp()
      val nCells = 32
      // quantizer sizing, measured on this fixture (knob grid, r14): at
      // (m=8, ksub=16) ADC only separates clusters, not neighbors within
      // one (recall@5 0.38 at rerank=4); (m=16, ksub=16) reaches 0.81 at
      // rerank=8; (m=32, ksub=16 — 2-dim subspaces) reaches 0.90 at
      // rerank=4 and 0.98 at rerank=8. The floor below asserts the
      // production point with margin, with the cut still ~40 exact scores
      // out of ~1500 candidates per probe.
      Similarity.ivfWriteIndex(base, dir, nCells = nCells, pqM = 32, pqK = 16)
      Similarity.appendIvfIndex(appended, dir)
      val k = 5; val nprobe = 4; val rerank = 8
      // the cut is REAL: every probed cell set holds far more candidates
      // than the rerank budget
      val minCell = spark.read.parquet(s"$dir/postings")
        .groupBy("cell").count().agg(min("count")).collect().head.getLong(0)
      assert(minCell * nprobe > rerank * k * 3,
        s"fixture must force a real ADC cut (min cell $minCell)")
      def recallOf(probes: DataFrame): Double = {
        val got = Similarity.pqRoute(probes, dir, k = k,
            nprobe = nprobe, rerank = rerank)
          .select("qid", "nid").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val ids = probes.select("vec_id").collect().map(_.getLong(0)).toSet
        val want = Similarity.bruteForceTopK(all,
            col("vec_id").isInCollection(ids), k = k)
          .select("qid", "nid").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        (got & want).size.toDouble / want.size
      }
      val baseRecall = recallOf(base.filter(col("vec_id") % 100 === 0))
      val apndRecall = recallOf(appended.filter(col("vec_id") % 100 === 1))
      info(f"ivfpq recall@5: base-probes $baseRecall%.3f, " +
        f"appended-probes $apndRecall%.3f (nprobe=$nprobe rerank=$rerank)")
      assert(baseRecall >= 0.8, s"recall too low: $baseRecall")
      // appended rows encode through the stored quantizers: if their codes
      // were wrong, ADC ordering for/among them would be noise
      assert(apndRecall >= 0.8, s"appended-probe recall too low: $apndRecall")
    } finally all.unpersist()
  }

  test("a PQ build and a PQ rebuild each collect the training sample once") {
    val samples = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.executedPlan.toString.contains("TakeOrderedAndProject(limit=4096"))
          samples.incrementAndGet()
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // a corpus no other test trains on, so the centroid memo misses
    val dir = tmp()
    spark.listenerManager.register(listener)
    try {
      Similarity.ivfWriteIndex(emb.filter(col("vec_id") % 3 =!= 1), dir,
        nCells = 8, pqM = 8, pqK = 16)
      ListenerBus.drain(spark.sparkContext)
      assert(samples.get == 1)
      Similarity.rebuildIvfIndex(spark, dir, nCells = 6)
      ListenerBus.drain(spark.sparkContext)
      assert(samples.get == 2)
    } finally spark.listenerManager.unregister(listener)
  }
}
