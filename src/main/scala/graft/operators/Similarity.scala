package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.functions.{HeldMatrix, VectorTextImpl}
import graft.functions.gcolumns.{dotp, ivf_cell, ivf_cells, ivf_centroid}
import graft.sources.{IndexCommit, StoredIndex}

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Three tiers (the standard vector-search shape):
  *  - [[bruteForceTopK]]: exact cosine top-k, probe-set x corpus. The
  *    baseline and the verifier. Linear in |corpus| per probe; at 100 TB the
  *    corpus side streams (one pass, no corpus shuffle) and per-probe state
  *    is a k-heap.
  *  - [[annLsh]]: random-hyperplane LSH with multiprobe. The corpus-side
  *    index (bucketed signatures) is probe-independent and CACHED — the real
  *    ANN economics: index once, amortize across probe batches. Probes visit
  *    their own bucket plus every bucket within `maxFlips` sign flips
  *    (multiprobe raises recall without growing the index).
  *  - [[ivfTopK]]: inverted-file ANN with k-means-learned centroids. Cell
  *    assignment is one codegen'd kernel ([[graft.functions.IvfCells]],
  *    O(cells) dot products — no join, no window) holding the centroid
  *    table beside the plan, so the corpus index is one narrow pass and
  *    no plan ever prints the centroids.
  *
  * All dot products go through the codegen'd
  * [[graft.functions.DotProduct]] expression: sequential left-to-right
  * accumulation, bit-identical to DuckDB's `list_inner_product` on DOUBLE[]
  * (the oracle) and run-to-run reproducible. Norms are precomputed once per
  * vector — a pure per-vector value, so hoisting it out of the pair loop
  * changes no bits while cutting two dots per compared pair.
  *
  * Honest scale note: the sf test corpus is ~isotropic (top-5 neighbors
  * sit at cosine 0.24-0.45 vs random-pair 0.0 — per-hyperplane collision
  * 0.60 vs 0.50), so any >=0.8-recall index must examine a large corpus
  * fraction there; the indexes pay off through cache amortization and
  * probe-side narrowing. On CLUSTERED embeddings — the real-world shape —
  * both index tiers beat the brute-force scan outright: SimilaritySpec's
  * 30-cluster Gaussian fixture has [[annLsh]] ~2.5x and [[ivfTopK]] ~3x
  * faster than [[bruteForceTopK]] at recall >= 0.83, asserted every run.
  * Parameters follow corpus geometry: clustered data wants MORE planes and
  * FEWER tables/flips than the isotropic defaults (a tight cluster sits in
  * one bucket already; multiprobe only multiplies candidate volume).
  */
object Similarity {

  /** Deterministic "random" hyperplane component d of plane p of table t:
    * xxhash64 mapped to [-1, 1]. Fixed by (t, p, d) — pure plan constant,
    * so plans are reproducible run-to-run (a requirement both for the
    * driver's hash-compare and for incremental recomputation at scale).
    */
  private[graft] def planeComponent(t: Int, p: Int, d: Int): Double = {
    val h = org.apache.spark.sql.catalyst.expressions.XXH64
      .hashLong(((t.toLong * 131071 + p) << 20) + d, 2024L)
    h.toDouble / Long.MaxValue.toDouble
  }

  /** Sequential-accumulation dot product (bit-reproducible, codegen'd). */
  def dot(x: Column, y: Column): Column = dotp(x, y)

  def cosine(a: Column, b: Column): Column =
    dotp(a, b) / (sqrt(dotp(a, a)) * sqrt(dotp(b, b)))

  /** Vectors as double arrays plus the precomputed norm. */
  private def asDouble(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("vn", sqrt(dotp(col("v"), col("v"))))

  /** Probe batches up to this many vectors force a `broadcast()` of the
    * probe frames (the interactive-query fast path: one tiny table to every
    * executor, zero shuffle of the corpus index). PAST the threshold the
    * hint is dropped and the joins plan by size — probes-as-a-table (e.g.
    * corpus x corpus linking) must shuffle on the join keys, not ship an
    * executor-OOM-sized broadcast. Override via this session conf.
    */
  val maxBroadcastProbesKey = "spark.graft.similarity.maxBroadcastProbes"
  private def maxBroadcastProbes(df: DataFrame): Long =
    df.sparkSession.conf.get(maxBroadcastProbesKey, "10000").toLong

  /** `broadcast(df)` iff the counted probe-batch size is under the cap —
    * the count is one job against the already-cached vector frame.
    */
  private def probeHint(df: DataFrame, nProbes: Long): DataFrame =
    if (nProbes <= maxBroadcastProbes(df)) broadcast(df) else df

  /** Ranked top-k per probe over a scored (qid, nid, cos) frame: the
    * bounded-heap [[graft.plans.TopKPerGroupExec]] prunes each probe's
    * candidates to k rows WITHOUT sorting them (the window alternative
    * sorts every probe's full candidate list only to keep k), then a
    * residual row_number window ranks the k survivors — a sort of k rows
    * per probe, negligible by construction.
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    graft.plans.TopKPerGroup(scored, Seq("qid"),
        Seq("cos" -> false, "nid" -> true), k)
      .withColumn("rank", row_number().over(w))
      .select("qid", "rank", "nid", "cos")
  }

  /** Exact cosine top-k for each probe vector. The corpus-vector frame
    * (double cast + norms) is the same cached prep the ANN tiers probe
    * against — shared corpus preparation, per-operator search cost.
    */
  def bruteForceTopK(emb: DataFrame, probeFilter: Column, k: Int): DataFrame = {
    val e = graft.Caches.cached("emb-vectors",
      emb.queryExecution.analyzed.semanticHash().toString)(asDouble(emb))
    val probes = e.filter(probeFilter)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("vn").as("qn"))
    // driver-sized probe batches broadcast explicitly (every corpus
    // partition scans them locally — the intended brute-force shape); an
    // over-cap probe table falls back to a partitioned cartesian instead
    // of an executor-OOM broadcast
    rankTopK(probeHint(probes, probes.count())
      .crossJoin(e.select(col("vec_id").as("nid"), col("v").as("nv"),
        col("vn").as("nn")))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (dotp(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("cos")), k)
  }

  // -------------------------------------------------------------------------
  // IVF with k-means centroids
  // -------------------------------------------------------------------------

  /** The quantizers' bounded, deterministic training sample: the first
    * 4096 vectors by id, one Spark job. At 100 TB training runs on such a
    * sample while ASSIGNMENT stays distributed.
    */
  private def trainingSample(e: DataFrame): Array[Array[Double]] =
    e.orderBy("vec_id").limit(4096)
      .select("v").collect().map(_.getSeq[Double](0).toArray)

  /** Lloyd iterations over driver-held points, shared by the coarse
    * quantizer and the PQ codebooks: `k` stride-sampled initial centroids,
    * then `iters` rounds of `assign(round's centroids)` + per-centroid
    * mean; an empty centroid keeps its value. Sequential driver double
    * math — bit-reproducible run to run, no partition-order dependence.
    */
  private def lloyd(points: Array[Array[Double]], k: Int, iters: Int)
                   (assign: HeldMatrix => Array[Double] => Int): HeldMatrix = {
    val dim = points.head.length
    val stride = math.max(1, points.length / k)
    var cents = new HeldMatrix((0 until k)
      .map(i => points(math.min(i * stride, points.length - 1)).toSeq))
    for (_ <- 1 to iters) {
      val nearest = assign(cents)
      val sums = Array.fill(k, dim)(0.0)
      val counts = new Array[Int](k)
      points.foreach { v =>
        val best = nearest(v)
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      cents = new HeldMatrix((0 until k).map(c =>
        if (counts(c) == 0) cents.rows(c).toSeq
        else sums(c).map(_ / counts(c)).toSeq))
    }
    cents
  }

  /** The IVF coarse quantizer: [[lloyd]] on the [[trainingSample]] of `e`
    * (`sample`, evaluated only on a memo miss), each sample assigned by
    * [[graft.functions.VectorTextImpl.nearestCell]] (the driver form of the
    * build-side [[graft.functions.IvfCells]] argmax). Memoized per
    * (corpus, cells, iters) across queries.
    */
  private def kmeansCentroids(e: DataFrame, nCells: Int, iters: Int,
                              sample: => Array[Array[Double]]): HeldMatrix =
    graft.Caches.memo("ivf-kmeans",
        s"${e.queryExecution.analyzed.semanticHash()}|c=$nCells|i=$iters") {
      lloyd(sample, nCells, iters)(cents =>
        v => VectorTextImpl.nearestCell(v, cents))
    }

  /** Corpus-side IVF cell assignment: each vector's argmax cell through
    * the same [[graft.functions.IvfCells]] kernel as the probe side
    * (nprobe = 1: first index wins score ties; a zero-norm centroid's
    * null score ranks last). (cell, nid, nv, nn, qerr)
    * rows, with qerr = 1 - cos(v, assigned centroid) from the chosen
    * cell's own dot — the per-vector quantization error the drift
    * statistics aggregate ([[ivfDriftStats]]). The centroid norm is
    * re-derived per row by the same sequential sum the driver uses, so
    * qerr keeps the bits of the kernel's score.
    */
  private def corpusCellsScored(e: DataFrame,
                                cents: HeldMatrix): DataFrame = {
    val cv = ivf_centroid(col("cell"), cents)
    e.select(ivf_cell(col("v"), cents).as("cell"),
        col("vec_id").as("nid"), col("v").as("nv"), col("vn").as("nn"))
      .withColumn("qerr",
        lit(1.0) - dotp(col("nv"), cv) / sqrt(dotp(cv, cv)) / col("nn"))
  }

  private def corpusCells(e: DataFrame, cents: HeldMatrix): DataFrame =
    corpusCellsScored(e, cents).drop("qerr")

  /** IVF ANN top-k: corpus vectors index into their argmax cell (one narrow
    * pass, cached), probes search their `nprobe` best cells. Recall is the
    * nprobe knob; the learned centroids replace round-1's stride-sampled
    * ones (recall 0.51 -> asserted >= 0.8 in SimilaritySpec).
    */
  def ivfTopK(emb: DataFrame, probeFilter: Column, k: Int,
              nCells: Int = 8, iters: Int = 3, nprobe: Int = 5): DataFrame = {
    val embKey = emb.queryExecution.analyzed.semanticHash().toString
    val key = s"$embKey|c=$nCells|i=$iters"
    // shared with annLsh/bruteForce callers — one vector cache per corpus
    val e = graft.Caches.cached("emb-vectors", embKey)(asDouble(emb))
    val cents = kmeansCentroids(e, nCells, iters, trainingSample(e))
    val corpus = graft.Caches.cached("ivf-index", key)(corpusCells(e, cents))
    val probes = e.filter(probeFilter)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("vn").as("qn"),
        explode(ivf_cells(col("v"), cents, nprobe)).as("cell"))
      .dropDuplicates("qid", "cell")
    rankTopK(probes.join(corpus, "cell")
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (dotp(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("cos")), k)
  }

  /** Sentinel `nCells` value asking [[ivfWriteIndex]] / [[rebuildIvfIndex]]
    * to size the cell count from the corpus ([[autoCellsFor]]).
    */
  val AutoCells: Int = -1

  /** CELL-COUNT POLICY (VERDICT r12 item #2): nCells = max(8,
    * min(ceil(sqrt(N)), maxSample/8)) — the standard IVF sizing rule.
    * Per-probe serving cost is O(nprobe * N / nCells) postings scored +
    * O(nCells) centroid dots; sqrt(N) balances the two terms, so a
    * policy-rebuilt index keeps per-decision cost ~flat as the corpus
    * grows 10x (a FIXED nCells makes it grow linearly — the r12
    * `ann_route` exponent 0.306). The upper cap keeps >= 8 training
    * points per cell in the bounded k-means sample (training would
    * otherwise fragment into empty cells); a 100 TB deployment raises
    * `maxSample` and this cap together — the policy is the ratio, the
    * constants are the local test budget.
    */
  def autoCellsFor(n: Long, maxSample: Int = 4096): Int =
    math.max(8L, math.min(math.ceil(math.sqrt(n.toDouble)).toLong,
      (maxSample / 8).toLong)).toInt

  private def resolveCells(e: DataFrame, nCells: Int): Int =
    if (nCells != AutoCells) nCells
    else autoCellsFor(e.count())

  /** Persist the IVF search state for [[annRoute]]: `centroids` (cell ->
    * centroid vector — k x dim, driver-sized), `postings` (the
    * [[corpusCells]] cell-keyed corpus, PARTITIONED BY `cell` so a
    * probe's `nprobe` cells prune to their own files — at 100 TB the
    * postings scan per probe batch is O(probed cells), never a full-index
    * pass; SimilaritySpec asserts the route plan carries the partition
    * filters), and `stats/gen-00000` (per-cell occupancy + mean
    * quantization error at build time — the drift baseline
    * [[ivfDriftStats]] compares appends against). Parquet DOUBLE
    * round-trips are lossless, so a route against the stored index
    * reproduces the batch assignment bit for bit. Tables publish through
    * an [[graft.sources.IndexCommit]] manifest like the LSH index.
    *
    * PRODUCT QUANTIZATION (`pqM` > 0 — the IVFADC layout): additionally
    * trains `pqM` per-subspace codebooks of `pqK` codewords each on the
    * same bounded driver sample ([[pqCodebooks]]), stores them in a
    * `codebooks` table (pqM x pqK rows — driver-sized, like the
    * centroids), and every postings row gains `codes ARRAY<INT>` — the
    * vector's per-subspace nearest codewords. [[pqRoute]] then serves the
    * candidate scan from (codes, nn) ONLY: at dim=64/pqM=8 the scanned
    * payload is 8 code bytes + a norm instead of 512 vector bytes —
    * parquet column pruning makes the 64x memory/IO cut a free
    * consequence of the columnar layout, no second table needed — while
    * the full vectors stay in the same rows for the exact re-rank of the
    * short candidate list. Non-PQ readers declare schemas without `codes`
    * and are untouched; every lifecycle op (append/delete/compact/
    * rebuild/as-of) maintains the column.
    */
  def ivfWriteIndex(emb: DataFrame, dir: String, nCells: Int = 8,
                    iters: Int = 3, pqM: Int = 0, pqK: Int = 16): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    graft.sources.IndexCommit.deleteTree(java.nio.file.Paths.get(dir))
    val embKey = emb.queryExecution.analyzed.semanticHash().toString
    val e = graft.Caches.cached("emb-vectors", embKey)(asDouble(emb))
    // one sample collect serves both quantizers
    lazy val sample = trainingSample(e)
    val cents = kmeansCentroids(e, resolveCells(e, nCells), iters, sample)
    cents.toSeq.zipWithIndex.map { case (c, i) => (i.toLong, c) }
      .toDF("cell", "cv")
      .write.mode("overwrite").parquet(s"$dir/centroids")
    // two narrow passes over the CACHED vector frame: the lean postings
    // (qerr dropped) and the gen-0 stats baseline
    val scored = corpusCellsScored(e, cents)
    val post =
      if (pqM <= 0) scored.drop("qerr")
      else {
        val cbs = pqCodebooks(sample, cents, pqM, pqK, iters)
        writeCodebooks(spark, cbs, s"$dir/codebooks")
        withCodes(scored.drop("qerr"), "nv", "cell", cents, cbs)
      }
    // postings and the gen-0 stats baseline are independent writes over
    // the cached vector frame — concurrent jobs (guide §2.6)
    graft.sources.StoredIndex.parallelStages(Seq(
      () => graft.sources.StoredIndex.writeByPart(post, "cell",
        s"$dir/postings"),
      () => genStats(scored, gen = 0)
        .write.mode("overwrite").parquet(s"$dir/stats/gen-00000")))
    graft.sources.IndexCommit.commitFiles(dir,
      graft.sources.IndexCommit.walkDataFiles(dir))
  }

  // -------------------------------------------------------------------------
  // Product quantization (IVF-PQ / IVFADC)
  // -------------------------------------------------------------------------

  /** Per-subspace PQ codebooks over coarse-assignment RESIDUALS: each
    * [[trainingSample]] vector (`sample`) assigns to its argmax cell
    * ([[graft.functions.VectorTextImpl.nearestCell]], the cell the build
    * stores it under), its residual v − centroid(cell) splits into `m`
    * contiguous subspaces, and each subspace runs [[lloyd]] (`ksub`
    * codewords, assignment by squared-L2 `<`) independently — so a
    * rebuild over an unchanged corpus retrains identical codebooks.
    * RESIDUAL encoding is the standard IVFADC choice for a reason that
    * the clustered fixture makes falsifiable: raw-vector codes collapse a
    * tight cluster to one code word (ADC then cannot rank within the
    * cluster at all — exactly where the neighbors are), while residuals
    * ARE the within-cell geometry. The serving cost is one extra
    * dot(q, centroid) per (probe, cell) — probe-side, never per
    * candidate ([[pqRoute]]).
    */
  private def pqCodebooks(sample: Array[Array[Double]], cents: HeldMatrix,
                          m: Int, ksub: Int, iters: Int): Seq[HeldMatrix] = {
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim is not divisible into $m subspaces")
    val sd = dim / m
    val residuals = sample.map { v =>
      val cv = cents.rows(VectorTextImpl.nearestCell(v, cents))
      Array.tabulate(dim)(i => v(i) - cv(i))
    }
    (0 until m).map { s =>
      val sub = residuals.map(v =>
        java.util.Arrays.copyOfRange(v, s * sd, (s + 1) * sd))
      lloyd(sub, ksub, iters) { cents => v =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < ksub) {
          var d = 0.0; var i = 0
          while (i < sd) { val t = v(i) - cents.rows(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        best
      }
    }
  }

  /** Add the `codes ARRAY<INT>` residual-PQ encoding of double-array
    * column `vCol` under coarse assignment column `cellCol`: the row's
    * residual (v − centroid(cell), one zip_with against the cell's
    * [[graft.functions.IvfCentroid]] vector) splits into subspaces, and
    * each subspace's code is its nearest codeword by squared L2 through
    * the codegen'd [[graft.functions.IvfCells]] argmax (`l2` mode:
    * scores dot(r, c) − |c|²/2, the common |r|² term dropped; first
    * index wins ties). The expression is a pure function of (vector,
    * cell, centroids, codebooks), so append-encoded rows are
    * BIT-identical to a rebuild's encoding under the same quantizers.
    */
  private[graft] def withCodes(df: DataFrame, vCol: String, cellCol: String,
                               cents: HeldMatrix,
                               cbs: Seq[HeldMatrix]): DataFrame = {
    val sd = cbs.head.dim
    val res = zip_with(col(vCol), ivf_centroid(col(cellCol), cents),
      (x, c) => x - c)
    val codeCols = cbs.indices.map(s => ivf_cells(
      slice(col("__res"), s * sd + 1, sd), cbs(s), 1, l2 = true)(0).cast("int"))
    df.withColumn("__res", res)
      .withColumn("codes", array(codeCols: _*)).drop("__res")
  }

  /** The `codebooks` table: one (sub, code, cv) row per codeword. */
  private def writeCodebooks(spark: org.apache.spark.sql.SparkSession,
                             cbs: Seq[HeldMatrix], path: String): Unit = {
    import spark.implicits._
    cbs.zipWithIndex.flatMap { case (cb, s) =>
      cb.toSeq.zipWithIndex.map { case (c, i) => (s, i, c) } }
      .toDF("sub", "code", "cv")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** The ADC lookup table lut(s)(c) = dot(qv_s, cbs(s)(c)) as m x ksub
    * CODEGEN'D dotp columns over held codewords ([[signatures]]' shape: a
    * transform-over-literal HOF evaluates every dot interpreted, the
    * probe-side bottleneck of ROUTEBENCH r14).
    */
  private[graft] def lookupTable(qv: Column, cbs: Seq[HeldMatrix]): Column = {
    val sd = cbs.head.dim
    array(cbs.indices.map { s =>
      array((0 until cbs(s).size).map(c =>
        dotp(slice(qv, s * sd + 1, sd),
          ivf_centroid(lit(c.toLong), cbs(s)))): _*)
    }: _*)
  }

  /** Stored codebooks, one held matrix per subspace; empty when the
    * index was built without PQ (the presence check every lifecycle op
    * keys off — no meta flag needed).
    */
  private def readCodebooks(spark: org.apache.spark.sql.SparkSession,
                            dir: String,
                            asOf: Option[Int] = None): Seq[HeldMatrix] =
    // commit-keyed driver memo, same contract as readCentroids
    graft.sources.StoredIndex.memoByCommit("ivf-codebooks", dir, asOf) {
      graft.sources.StoredIndex.readTable(spark, s"$dir/codebooks",
          "sub INT, code INT, cv ARRAY<DOUBLE>", asOf)
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toSeq))
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map(sub => new HeldMatrix(sub._2.sortBy(_._2).map(_._3).toSeq))
    }

  /** IVF-PQ serving (IVFADC with exact re-rank) — per arriving probe:
    *
    *  1. COARSE probe: `nprobe` best cells through the
    *     [[graft.functions.IvfCells]] kernel (identical to [[annRoute]]);
    *     the batch's probed-cell set ([[StoredIndex.distinctKeys]]: one
    *     job, no exchange) pushes as a partition filter.
    *  2. ADC scan: the probe computes its m x ksub lookup table (one
    *     dot per (subspace, codeword) — O(dim x ksub) work per PROBE,
    *     once) and every candidate's approximate score is m table
    *     lookups over its stored `codes` — the scan reads ONLY
    *     (nid, nn, codes, cell): parquet column pruning never touches
    *     the float vectors (IvfPqSpec pins the ReadSchema), which is
    *     the tier's 100 TB story — the per-decision scanned bytes drop
    *     ~64x (dim=64 doubles -> m=8 code ints + a norm).
    *  3. EXACT re-rank: the top `rerank * k` candidates per probe (by
    *     approximate cosine) join back to the stored float vectors and
    *     re-score with the same codegen'd sequential [[dotp]] as
    *     [[bruteForceTopK]] — the emitted cosine is exact, PQ error can
    *     only cost RECALL (a true neighbor ranked below the rerank cut),
    *     never a wrong score.
    *
    * `rerank <= 0` disables the cut: every candidate re-ranks exactly,
    * so at `nprobe >= nCells` the result provably equals
    * [[bruteForceTopK]] — the oracle-adjudication mode `sim_ivfpq`
    * hash-checks against the brute-force DuckDB oracle (the
    * `text_hybrid_route` pattern); production keeps (nprobe, rerank)
    * small and IvfPqSpec asserts the recall floor on the clustered
    * fixture. Output (qid, rank, nid, cos) like every similarity tier.
    *
    * `probeFraction` pins the probed-cell fraction against the
    * sqrt(N)-cell policy exactly as on [[annRoute]] (the r17
    * recall-at-scale knob — fixed nprobe measurably decays: ivfpq
    * 0.960 -> 0.695 from 2k to 20k vectors, SCALING_r17); the ADC scan
    * is unchanged.
    *
    * RERANK AT SCALE — `rerankFraction` (r18, the probeFraction lesson
    * applied to the tier's SECOND knob): the fixed `rerank * k` cut
    * truncates a candidate pool that grows as probeFraction x N, so
    * probeFraction alone recovered ivfpq recall only to 0.589 at 200k
    * vectors (ANNRECALL_r17 — the named r17 residual). With
    * `rerankFraction > 0` each probe exactly re-ranks
    * max(rerank * k, ceil(rerankFraction x its own ADC candidate
    * count)) candidates — the cut is a FRACTION of the pool, per
    * query, so the true neighbor only needs to sit in the top
    * rerankFraction of the ADC ranking at ANY corpus size (pinned by
    * construction; AnnScaleSpec pins the measured floor across a
    * decade). The proportional cut rides a spill-safe window sort
    * instead of the bounded heap — the cut size varies per query and
    * is itself O(pool), so the heap's k-much-smaller-than-group
    * advantage no longer applies (the TextIndex fraction-head
    * precedent, r17). Rerank cost scales with rerankFraction x
    * probeFraction x N per probe: the honest price of pinned recall,
    * still m-lookup-cheap at ADC time and far under the uncompressed
    * tier's full-vector reads.
    *
    * Output rows additionally carry `probed_fraction` =
    * nprobe_eff / cells — the served-regime signal (the text tier's
    * `coverage` analog, r18): a caller serving a fixed nprobe against
    * a sqrt(N)-grown cell count SEES the fraction shrink instead of
    * silently losing recall.
    */
  def pqRoute(arrivals: DataFrame, indexDir: String, k: Int,
              nprobe: Int = 5, rerank: Int = 4,
              idCol: String = "vec_id", embCol: String = "embedding",
              asOf: Option[Int] = None,
              probeFraction: Double = 0.0,
              rerankFraction: Double = 0.0): DataFrame = {
    val spark = arrivals.sparkSession
    require(probeFraction >= 0.0 && probeFraction <= 1.0,
      s"probeFraction must be in [0, 1] (got $probeFraction)")
    require(rerankFraction >= 0.0 && rerankFraction <= 1.0,
      s"rerankFraction must be in [0, 1] (got $rerankFraction)")
    val cents = readCentroids(spark, indexDir, asOf)
    val nprobeEff =
      if (probeFraction > 0)
        math.max(nprobe, math.ceil(cents.size * probeFraction).toInt)
      else nprobe
    val cbs = readCodebooks(spark, indexDir, asOf)
    require(cbs.nonEmpty,
      s"pq serving needs a PQ-enabled index under $indexDir " +
        "(ivfWriteIndex(..., pqM > 0))")
    val probesV = arrivals
      .select(col(idCol).cast("long").as("qid"),
        transform(col(embCol), _.cast("double")).as("qv"))
      .withColumn("qn", sqrt(dotp(col("qv"), col("qv"))))
    // the ADC lookup table, once per probe: lut(s)(c) = dot(qv_s, cb(s)(c))
    // over the RESIDUAL codebooks; dot(q, x̂) then decomposes as
    // dot(q, centroid(cell)) + Σ_s lut(s)(codes_s) — the centroid term is
    // per (probe, cell), computed on the exploded probe side, NEVER per
    // candidate, so the per-candidate cost stays m table lookups
    val lut = lookupTable(col("qv"), cbs)
    val cells = explode(ivf_cells(col("qv"), cents, nprobeEff)).as("cell")
    val probes = probesV
      .select(col("qid"), col("qv"), col("qn"), lut.as("lut"), cells)
      .dropDuplicates("qid", "cell")
      .withColumn("centdot",
        dotp(col("qv"), ivf_centroid(col("cell"), cents)))
    // bounded collect (<= nCells values): the probed-cell partition
    // filter. Collected off a LUT-FREE plan: the probes frame above is
    // evaluated again by the ADC join, so collecting `wanted` through it
    // would build every probe's m x ksub lookup table twice per batch —
    // the keep-up residual ROUTEBENCH r14 attributed to the probe side
    val wanted = StoredIndex.distinctKeys(probesV.select(cells))
      .map(_.getLong(0)).toSeq
    // ADC scan: codes + norm only — the narrow read is the whole point
    val codesTbl = graft.sources.StoredIndex.antiTombstoned(spark, indexDir,
      "ivf-tombstones",
      graft.sources.StoredIndex.readTable(spark, s"$indexDir/postings",
        "nid BIGINT, nn DOUBLE, codes ARRAY<INT>, cell BIGINT", asOf),
      "nid", asOf)
    val adc = probes
      .join(codesTbl.filter(col("cell").isin(wanted: _*)), "cell")
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        ((col("centdot") +
          graft.functions.gcolumns.adc_sum(col("codes"), col("lut")))
          / (col("qn") * col("nn"))).as("adcos"))
    val cand =
      if (rerank <= 0) adc.select("qid", "nid")
      else if (rerankFraction > 0) {
        // df-proportional cut (r18): per query, keep
        // max(rerank*k, ceil(rerankFraction x that query's pool)).
        // count() over the unordered partition shares the ordered
        // window's exchange; the sort is Spark's own spill-safe
        // SortExec (per-query cut size varies — heap mode's fixed-k
        // contract doesn't fit, and the cut is O(pool) anyway)
        val wq = Window.partitionBy(col("qid"))
        adc
          .withColumn("pool", count(lit(1)).over(wq))
          .withColumn("rk", row_number().over(
            wq.orderBy(col("adcos").desc, col("nid"))))
          .filter(col("rk") <= greatest(lit(rerank.toLong * k),
            ceil(col("pool") * lit(rerankFraction)).cast("long")))
          .select("qid", "nid")
      } else graft.plans.TopKPerGroup(adc, Seq("qid"),
        Seq("adcos" -> false, "nid" -> true), rerank * k)
        .select("qid", "nid")
    // exact re-rank: candidate-bounded join back to the stored floats
    // (tombstoned ids already left at the ADC stage — inner join on nid)
    val vecs = graft.sources.StoredIndex.readTable(spark,
        s"$indexDir/postings",
        "nid BIGINT, nv ARRAY<DOUBLE>, nn DOUBLE, cell BIGINT", asOf)
      .filter(col("cell").isin(wanted: _*)).select("nid", "nv", "nn")
    rankTopK(cand
      .join(vecs, "nid")
      .join(probesV.select(col("qid"), col("qv"), col("qn")), "qid")
      .select(col("qid"), col("nid"),
        (dotp(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("cos")), k)
      .withColumn("probed_fraction",
        lit(math.min(1.0, nprobeEff.toDouble / cents.size)))
  }

  /** Per-cell occupancy + mean quantization error of one assignment
    * batch (`gen` 0 = the build, 1.. = appends).
    */
  private def genStats(scored: DataFrame, gen: Int): DataFrame =
    scored.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"), avg(col("qerr")).as("mean_qerr"))
      .select(lit(gen).as("gen"), col("cell"), col("n_vecs"),
        col("mean_qerr"))

  private def readCentroids(spark: org.apache.spark.sql.SparkSession,
                            dir: String,
                            asOf: Option[Int] = None): HeldMatrix =
    // commit-keyed driver memo: centroids change only through commits
    // (retrain/rebuild), and collecting them was one plan-time job per
    // annRoute/pqRoute serve (StoredIndex.memoByCommit doc)
    graft.sources.StoredIndex.memoByCommit("ivf-centroids", dir, asOf) {
      new HeldMatrix(graft.sources.StoredIndex.readTable(spark,
          s"$dir/centroids", "cell BIGINT, cv ARRAY<DOUBLE>", asOf)
        .orderBy("cell").collect().map(_.getSeq[Double](1).toSeq).toSeq)
    }

  private def readPostings(spark: org.apache.spark.sql.SparkSession,
                           dir: String,
                           asOf: Option[Int] = None): DataFrame =
    graft.sources.StoredIndex.readTable(spark, s"$dir/postings",
      "nid BIGINT, nv ARRAY<DOUBLE>, nn DOUBLE, cell BIGINT", asOf)

  /** The postings table with tombstoned vectors excluded — the served
    * corpus view ([[deleteFromIvfIndex]]). One broadcast anti-join on the
    * tiny delete set, planned ONLY while tombstones exist; the clean
    * index serves the raw scan unchanged. `asOf` serves a historical
    * committed version (its tombstone set included) instead of the
    * latest.
    */
  private def servedPostings(spark: org.apache.spark.sql.SparkSession,
                             dir: String,
                             asOf: Option[Int] = None): DataFrame =
    // family label is only the tombstone-set CACHE key (nothing on disk
    // records it), so the r14 "lsh-tombstones" label renames freely —
    // old indexes serve unchanged (VERDICT r14 naming-debt item)
    graft.sources.StoredIndex.antiTombstoned(spark, dir, "ivf-tombstones",
      readPostings(spark, dir, asOf), "nid", asOf)

  /** TOMBSTONE-DELETE vectors from a stored IVF index — the FORGET half
    * of the vector maintenance tier ([[graft.operators.Dedup.deleteFromLshIndex]]
    * analog; takedowns / GDPR erasure against a standing 100 TB corpus
    * where a rebuild-to-remove re-embeds petabytes to drop megabytes).
    * O(delete set) work: `tombstones` gains `(id, cell)` rows by pure
    * file-append — the cell is looked up with ONE column-pruned (nid,
    * cell) postings read so compaction can partition-prune its physical
    * reclaim to the dead cells — and every served read
    * ([[servedPostings]], hence [[annRoute]]) excludes the dead ids via
    * one broadcast anti-join from the next committed version. The trained
    * centroids and the `stats` generations are deliberately NOT adjusted:
    * centroids are the frozen quantizer (the standard IVF model — see
    * [[appendIvfIndex]]), and stats are the ASSIGNMENT history the drift
    * signal compares against, not a live-occupancy view. Ids absent from
    * the index are no-ops; already-tombstoned ids are filtered out
    * (idempotent); crash-atomic. Physical rows leave in
    * [[compactIvfIndex]] (DELETE-then-COMPACT, the LSM split).
    *
    * Returns the number of NEWLY tombstoned ids.
    */
  def deleteFromIvfIndex(ids: DataFrame, dir: String,
                         idCol: String = "vec_id"): Long =
    StoredIndex.mutate(dir, "ivf-del") { t =>
      val spark = ids.sparkSession
      val dead = ids.select(col(idCol).cast("long").as("id")).distinct()
        .join(StoredIndex.readTable(spark, s"$dir/tombstones", "id BIGINT"),
          Seq("id"), "left_anti")
        .join(readPostings(spark, dir)
          .select(col("nid").as("id"), col("cell")), Seq("id"))
      dead.coalesce(1).write.mode("overwrite").parquet(t.stage("tombstones"))
      val nDead = StoredIndex.readDirTable(spark, t.stage("tombstones"),
        "id BIGINT, cell BIGINT").count()
      if (nDead > 0) {
        IndexCommit.hit("ivf-del-staged")
        t.moveIn("tombstones", "tombstones")
      }
      nDead
    }

  /** INCREMENTAL IVF maintenance — the [[graft.operators.Dedup.appendLshIndex]]
    * analog for vectors, and structurally much simpler: an IVF index's
    * only global artifact is the TRAINED centroid set, which appends do
    * not touch (the standard IVF maintenance model — postings grow;
    * retraining is a periodic rebuild decision driven by the stored
    * drift statistics, see [[ivfDriftStats]]; nothing like the LSH df
    * cut shifts under growth). The new batch assigns through the SAME
    * [[corpusCells]] argmax against the STORED centroids and its part
    * files move into the cell-partitioned postings — so an append-grown
    * index is BIT-IDENTICAL to a rebuild over the union with those
    * centroids (SimilaritySpec proves it), and [[annRoute]] serves the
    * grown corpus unchanged. Compute per append: O(batch x cells) dots;
    * no rewrite of existing rows, and the whole append (postings + its
    * stats generation) publishes in one commit.
    *
    * Precondition: `newEmb` ids are fresh (append-only corpus).
    */
  def appendIvfIndex(newEmb: DataFrame, dir: String): Unit =
    StoredIndex.mutate(dir, "ivf") { t =>
      val spark = newEmb.sparkSession
      val cents = readCentroids(spark, dir)
      val scored = corpusCellsScored(asDouble(newEmb), cents)
      // a PQ index's appends encode through the STORED codebooks — same
      // frozen-quantizer model as the centroids, so append == rebuild
      // bit-identically for codes too
      val cbs = readCodebooks(spark, dir)
      val post = if (cbs.isEmpty) scored.drop("qerr")
                 else withCodes(scored.drop("qerr"), "nv", "cell", cents, cbs)
      StoredIndex.writeByPart(post, "cell", t.stage("postings"))
      genStats(scored, StoredIndex.nextSeg(dir, "stats", "gen-"))
        .write.mode("overwrite").parquet(t.stage("stats"))
      IndexCommit.hit("ivf-staged")
      t.moveIn("postings", "postings")
      t.moveToNextSeg("stats", "stats", "gen-")
    }

  /** SMALL-FILES compaction for an append-grown IVF index — every
    * [[appendIvfIndex]] adds part files to its batch's cells, so a
    * long-running ingest accumulates per-cell file counts. Rewrites each
    * `cell=` dir holding more than `maxFilesPerCell` data files down to
    * one file (a crash at any point leaves the pre-compaction version
    * serving; idempotent when nothing exceeds the threshold). Tombstones
    * fold in the same sweep — dead vectors' rows physically leave their
    * cells (partition-pruned to the dead `(id, cell)` rows' cells,
    * O(delete set) IO) and the tombstones retire, so this commit's
    * served plans lose the anti-join entirely; the storage-reclaim half
    * of [[deleteFromIvfIndex]]. The `stats` generations are semantic (one
    * row set per append — the drift history) and are left alone. Returns
    * the number of rewritten cells.
    */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                      maxFilesPerCell: Int = 4): Int =
    StoredIndex.mutate(dir, "ivf-compact") { t =>
      // a PQ index's rewrites must carry the `codes` column forward (the
      // positional-BM25 `ps` discipline)
      val postDdl =
        if (t.liveUnder("codebooks").nonEmpty)
          "nid BIGINT, nv ARRAY<DOUBLE>, nn DOUBLE, codes ARRAY<INT>, cell BIGINT"
        else "nid BIGINT, nv ARRAY<DOUBLE>, nn DOUBLE, cell BIGINT"
      val dead = StoredIndex.liveTombstones(t, "id BIGINT, cell BIGINT")
      val deadCells = dead.fold(Seq.empty[Long])(
        _.select("cell").distinct().collect().map(_.getLong(0)).toSeq)
      val n = StoredIndex.rewriteParts(t, "postings", postDdl, Some("cell"),
        deadCells, maxFilesPerCell, dead, "nid")
      t.retireUnder("tombstones")
      n
    }

  /** Stored drift statistics vs the gen-0 training baseline — the
    * "retrain or keep appending?" signal [[appendIvfIndex]]'s maintenance
    * model calls for: per generation, the total-variation distance
    * between that append's cell-occupancy distribution and the build's
    * (0 = same mix, 1 = disjoint cells), its batch-mean quantization
    * error, and the ratio of that error to the build's. Driver-side math
    * over the k x gens stats rows (tiny by construction).
    *
    * Rebuild guidance (documented threshold, asserted in SimilaritySpec):
    * retrain when `tv_vs_base >= 0.25` or `qerr_ratio >= 1.3` — a batch
    * whose assignments concentrate that differently (or fit the trained
    * centroids that much worse) is drawing from a shifted distribution,
    * and recall for the NEW data degrades even though append-equals-
    * rebuild correctness never does.
    */
  def ivfDriftStats(spark: org.apache.spark.sql.SparkSession,
                    dir: String): DataFrame = {
    import spark.implicits._
    val rows = graft.sources.StoredIndex.readTable(spark, s"$dir/stats",
        "gen INT, cell BIGINT, n_vecs BIGINT, mean_qerr DOUBLE")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    val byGen = rows.groupBy(_._1)
    def dist(gen: Int): Map[Long, Double] = {
      val g = byGen.getOrElse(gen, Array.empty[(Int, Long, Long, Double)])
      val tot = g.map(_._3).sum.toDouble
      g.map(r => r._2 -> r._3 / tot).toMap
    }
    def meanQerr(gen: Int): Double = {
      val g = byGen.getOrElse(gen, Array.empty[(Int, Long, Long, Double)])
      val tot = g.map(_._3).sum.toDouble
      g.map(r => r._4 * r._3).sum / tot
    }
    val base = dist(0)
    val baseQ = meanQerr(0)
    byGen.keys.toSeq.sorted.map { gen =>
      val d = dist(gen)
      val cells = (base.keySet ++ d.keySet).toSeq
      val tv = 0.5 * cells.map(c =>
        math.abs(d.getOrElse(c, 0.0) - base.getOrElse(c, 0.0))).sum
      val q = meanQerr(gen)
      (gen, byGen(gen).map(_._3).sum, tv, q, q / baseQ)
    }.toDF("gen", "n_vecs", "tv_vs_base", "mean_qerr", "qerr_ratio")
  }

  /** RETRAIN a stored IVF index in place — the ACTION the
    * [[ivfDriftStats]] signal calls for (tv_vs_base >= 0.25 or
    * qerr_ratio >= 1.3): when appends have drifted the arrival
    * distribution away from the centroids' training mix, recall on the
    * new data degrades and the fix is new centroids, not more appends.
    * The live corpus is reconstructed from the index's OWN payload (the
    * served postings — parquet doubles round-trip losslessly, so this
    * equals retraining from the original embeddings; no second copy of a
    * 100 TB corpus is needed), k-means retrains on the same bounded
    * deterministic sample as a fresh build, every vector re-assigns
    * through the new argmax (the one unavoidable corpus-scale pass — the
    * point of a rebuild), and `centroids` + `postings` + a fresh `gen-0`
    * stats baseline REPLACE the old tables in ONE commit. Pending
    * tombstones fold for free (the rebuild reads the served view), and
    * the drift history resets — the new baseline is the new training
    * mix. The result equals [[ivfWriteIndex]] over the live corpus with
    * the same parameters: centroids and postings BIT-identical, the
    * stats baseline exact in counts and equal to float reassociation in
    * `mean_qerr` (a distributed avg whose accumulation follows the
    * physical row order). IndexDeleteSpec proves all of it.
    *
    * `nCells = AutoCells` retrains under the [[autoCellsFor]] sqrt(N)
    * policy — the rebuild is WHERE cell-count scaling happens (appends
    * keep the frozen quantizer; a corpus grown 10x past its training mix
    * wants ~3.2x the cells so [[annRoute]] per-decision cost returns to
    * small-index levels — SimilaritySpec measures the candidate volume).
    */
  def rebuildIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                      nCells: Int = 8, iters: Int = 3): Unit =
    StoredIndex.mutate(dir, "ivf-rebuild") { t =>
      import spark.implicits._
      val eRaw = servedPostings(spark, dir)
        .select(col("nid").as("vec_id"), col("nv").as("v"), col("nn").as("vn"))
      val e = graft.Caches.cached("emb-vectors",
        eRaw.queryExecution.analyzed.semanticHash().toString)(eRaw)
      lazy val sample = trainingSample(e)
      val cents = kmeansCentroids(e, resolveCells(e, nCells), iters, sample)
      cents.toSeq.zipWithIndex.map { case (c, i) => (i.toLong, c) }
        .toDF("cell", "cv")
        .write.mode("overwrite").parquet(t.stage("centroids"))
      val scored = corpusCellsScored(e, cents)
      // a PQ index RETRAINS its codebooks too (same m/ksub, read off the
      // stored table — no meta flag) and re-encodes every vector: the
      // rebuild is where quantizer drift resets, for both quantizer levels
      val oldCbs = readCodebooks(spark, dir)
      val post =
        if (oldCbs.isEmpty) scored.drop("qerr")
        else {
          val cbs = pqCodebooks(sample, cents, oldCbs.size, oldCbs.head.size,
            iters)
          writeCodebooks(spark, cbs, t.stage("codebooks"))
          withCodes(scored.drop("qerr"), "nv", "cell", cents, cbs)
        }
      StoredIndex.writeByPart(post, "cell", t.stage("postings"))
      genStats(scored, gen = 0)
        .write.mode("overwrite").parquet(t.stage("stats"))
      IndexCommit.hit("ivf-rebuild-staged")
      // every old table retires; the staged build moves in; one commit
      // flips the whole index version
      t.retireUnder("tombstones")
      if (oldCbs.nonEmpty) t.replace("codebooks", "codebooks")
      t.replace("centroids", "centroids")
      t.replace("postings", "postings")
      t.retireUnder("stats")
      t.moveIn("stats", "stats/gen-00000")
    }

  /** NIGHTLY-OPS policy entry point for a stored IVF / IVF-PQ index —
    * the "retrain or keep compacting?" decision [[ivfDriftStats]]
    * documents, as code: if ANY append generation's assignment mix sits
    * past the drift thresholds (tv_vs_base >= `tvThreshold` or
    * qerr_ratio >= `qerrRatioThreshold`), the indicated action is
    * [[rebuildIvfIndex]] — retrain the quantizers (under the
    * [[autoCellsFor]] sqrt(N) policy by default, codebooks included for
    * a PQ index), re-assign, reset the drift baseline, fold tombstones
    * for free. Otherwise the routine sweep: [[compactIvfIndex]]
    * (tombstone fold + small-files). Idempotent: a rebuild resets the
    * baseline so the re-run reports `noop`; crash-safe by inheritance
    * (both actions' one-commit protocol, IndexDeleteSpec failpoints).
    */
  def maintainIvfIndex(spark: org.apache.spark.sql.SparkSession,
                       dir: String, tvThreshold: Double = 0.25,
                       qerrRatioThreshold: Double = 1.3,
                       nCells: Int = AutoCells, iters: Int = 3)
      : graft.sources.Maintenance = {
    val drifted = ivfDriftStats(spark, dir).collect().exists(r =>
      r.getInt(0) > 0 && (r.getDouble(2) >= tvThreshold ||
        r.getDouble(4) >= qerrRatioThreshold))
    if (drifted) {
      rebuildIvfIndex(spark, dir, nCells, iters)
      graft.sources.Maintenance("ivf", "rebuild", 1L)
    } else {
      val n = compactIvfIndex(spark, dir)
      graft.sources.Maintenance("ivf", if (n > 0) "compact" else "noop", n)
    }
  }

  /** Streaming ANN — the [[graft.operators.Dedup.minhashRoute]] analog for
    * vectors: each ARRIVING embedding retrieves its top-k approximate
    * neighbors from a stored [[ivfWriteIndex]] index. The centroid table
    * is read once per commit and held by the [[graft.functions.IvfCells]]
    * kernel beside the plan (the batch [[ivfTopK]] kernel — cell choice
    * is bit-identical; no plan, explain or AQE update renders the
    * matrix), so the per-arrival work is in-row dots + ONE stream-static
    * equi-join against the cell-partitioned postings + the bounded-heap
    * top-k. The batch's probed cells (at most nCells distinct values —
    * one driver collect per micro-batch, [[StoredIndex.distinctKeys]]:
    * one job, no exchange) push onto the postings scan as PARTITION
    * FILTERS, so the scan reads only the probed cells' files — the
    * pruning that turns a 100 TB postings table into an O(probed cells)
    * read (SimilaritySpec asserts the filters are in the plan).
    * Driver-held arrivals (a local relation — an interactive query) skip
    * both Spark-side steps: the optimizer folds the probe projection into
    * the relation, so the probes, their dedup and the probed cells come
    * from the driver with no job, and the probe side joins as a local
    * relation (IvfCellsSpec pins the same neighbors). No state
    * store, no stream-stream join, no corpus scan per batch; run under
    * `foreachBatch` like the other route operators. SimilaritySpec
    * replays corpus probes and proves route == batch [[ivfTopK]] exactly.
    *
    * FILTERED search (`allowed`): the metadata-constrained ANN every
    * production vector store serves ("top-k neighbors WHERE lang='en'").
    * This is the PRE-FILTER shape — the allowed-id frame (the caller's
    * predicate evaluated on its own metadata table, with that table's
    * pushdown) semi-joins the cell-pruned postings BEFORE scoring, so
    * the result is exactly top-k OF THE ALLOWED SET: post-filtering an
    * unfiltered top-k instead can silently return fewer than k survivors
    * at selective predicates (the classic filtered-ANN failure). The
    * semi-join is on the already-pruned probed-cell slice and broadcasts
    * when the allowed set is small (AQE decides); at exhaustive nprobe
    * the route provably equals brute-force-with-filter — q:`sim_filtered`
    * hash-checks that bridge, production nprobe trades recall only
    * (exactly the [[pqRoute]] adjudication pattern).
    *
    * RECALL AT SCALE — the `probeFraction` knob (r17, the WAND lesson
    * applied to vectors): a FIXED nprobe against the AutoCells
    * sqrt(N)-cell policy probes a SHRINKING fraction of cells as the
    * corpus grows, and measured recall decays with it (SCALING_r17:
    * ann 0.974 -> 0.788 from 2k to 20k vectors at nprobe 5 — the exact
    * analog of the fixed WAND budget's df decay). `probeFraction > 0`
    * serves nprobe_eff = max(nprobe, ceil(nCells x probeFraction)) —
    * the probed-cell FRACTION is pinned, so recall is pinned by
    * construction on stationary geometry (IvfPqSpec / ANNRECALL_r17),
    * at candidates ~ probeFraction x N per probe: the honest price —
    * sublinear per-decision cost AND pinned recall cannot coexist for
    * exhaustive-in-cell scoring (the exact-IVF optimum is
    * sqrt(nprobe x N) per probe at whatever recall the geometry gives).
    *
    * Output rows additionally carry `probed_fraction` =
    * nprobe_eff / cells (r18, the served-regime signal — the text
    * tier's `coverage` analog): both operands already sit on the
    * driver at serve time, so the column is one literal. A caller
    * holding nprobe fixed while AutoCells grows the cell count
    * sqrt(N) SEES the served fraction shrink — the silent-recall-decay
    * failure ANNRECALL_r17 measured becomes caller-visible; with
    * `probeFraction` it stays ~fraction by construction
    * (AnnScaleSpec).
    */
  def annRoute(arrivals: DataFrame, indexDir: String, k: Int,
               nprobe: Int = 5, idCol: String = "vec_id",
               embCol: String = "embedding",
               asOf: Option[Int] = None,
               allowed: Option[DataFrame] = None,
               allowedIdCol: String = "vec_id",
               probeFraction: Double = 0.0): DataFrame = {
    val spark = arrivals.sparkSession
    require(probeFraction >= 0.0 && probeFraction <= 1.0,
      s"probeFraction must be in [0, 1] (got $probeFraction)")
    val cents = readCentroids(spark, indexDir, asOf)
    val nprobeEff =
      if (probeFraction > 0)
        math.max(nprobe, math.ceil(cents.size * probeFraction).toInt)
      else nprobe
    val corpus0 = servedPostings(spark, indexDir, asOf)
    val corpus = allowed.fold(corpus0)(a => corpus0.join(
      a.select(col(allowedIdCol).cast("long").as("nid")), Seq("nid"),
      "semi"))
    val probesV = arrivals
      .select(col(idCol).cast("long").as("qid"),
        transform(col(embCol), _.cast("double")).as("qv"))
      .withColumn("qn", sqrt(dotp(col("qv"), col("qv"))))
    val cellArr = ivf_cells(col("qv"), cents, nprobeEff)
    val withCells = probesV.select(col("qid"), col("qv"), col("qn"),
      cellArr.as("cells"))
    val (probes, wanted) = withCells.queryExecution.optimizedPlan match {
      // driver-held arrivals (an interactive query): the optimizer folds
      // the probe projection into the local relation, so the probes,
      // their (qid, cell) dedup and the probed-cell set are computed on
      // the driver with no Spark job, and the probe side joins as a local
      // relation (no dedup exchange). Null cells never join; dropped here
      case _: LocalRelation =>
        val rows = withCells.collect().toSeq.flatMap(r =>
          r.getSeq[java.lang.Long](3).filter(_ != null).map(c =>
            Row(r.get(0), r.get(1), r.get(2), c.longValue)))
          .distinctBy(r => (r.get(0), r.getLong(3)))
        (spark.createDataFrame(rows.asJava, StructType(
            withCells.schema.fields.take(3) :+
              StructField("cell", LongType, nullable = false))),
          rows.map(_.getLong(3)).distinct)
      case _ =>
        val cells = explode(cellArr).as("cell")
        // duplicate arrival ids (and tied cells) score each (qid, cell)
        // once; the probed-cell set (bounded by nCells regardless of batch
        // size) is collected once per batch and pushed as a partition
        // filter
        (probesV.select(col("qid"), col("qv"), col("qn"), cells)
          .dropDuplicates("qid", "cell"),
          StoredIndex.distinctKeys(probesV.select(cells))
            .map(_.getLong(0)).toSeq)
    }
    rankTopK(probes
      .join(corpus.filter(col("cell").isin(wanted: _*)), "cell")
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (dotp(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("cos")), k)
      .withColumn("probed_fraction",
        lit(math.min(1.0, nprobeEff.toDouble / cents.size)))
  }

  // -------------------------------------------------------------------------
  // Int8 quantization (compressed similarity tier)
  // -------------------------------------------------------------------------

  /** Symmetric per-vector int8 quantization: q_i = floor(x_i * 127 / mx)
    * with mx = max|x_i| — the embedding-compression tier every
    * vector-search system at 100 TB runs (4x smaller index than float32,
    * integer-SIMD dot products, and EXACT integer arithmetic downstream).
    *
    * `floor`, not `round`: floor is identically defined across engines
    * while round's half-way rule differs (Spark HALF_UP vs banker's
    * elsewhere) — the oracle-parity choice, costing at most half a bit of
    * extra quantization noise.
    */
  def quantize(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v"))
      .select(col("vec_id"), col("v"),
        array_max(transform(col("v"), x => abs(x))).as("mx"))
      .select(col("vec_id"),
        transform(col("v"), x => floor(x * lit(127.0) / col("mx"))
          .cast("long")).as("qv"))

  /** Exact-integer dot of two quantized vectors. */
  private def qdot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Top-k neighbors by QUANTIZED cosine — the scoring pass of the
    * compressed tier. The per-vector quantization scale (127/mx) differs
    * between vectors, so the raw int dot ranks by dot/(mx_a*mx_b), NOT by
    * similarity — the scores must renormalize by the QUANTIZED vectors'
    * own norms (sqrt of an exact integer self-dot) to approximate cosine.
    * Every input to the score is exact integer arithmetic (products
    * bounded by 127^2*dim); the final sqrt/divide is one deterministic
    * IEEE expression on both engines, so the ranking hash-verifies with
    * no float-accumulation caveats. Plan shape matches [[bruteForceTopK]]:
    * probe-blocked crossJoin against the CACHED quantized corpus (4x
    * smaller than the float cache — the point of the tier), candidates
    * pruned through the bounded-heap grouped top-k.
    */
  def quantizedTopK(emb: DataFrame, probeFilter: Column, k: Int): DataFrame = {
    val q = graft.Caches.cached("emb-quantized",
      emb.queryExecution.analyzed.semanticHash().toString)(
      // norms hoisted: one exact self-dot per vector, not two per pair
      quantize(emb).withColumn("qn",
        sqrt(qdot(col("qv"), col("qv")).cast("double"))))
    val probes = q.filter(probeFilter)
      .select(col("vec_id").as("qid"), col("qv").as("qa"),
        col("qn").as("qna"))
    val scored = probes
      .crossJoin(q.select(col("vec_id").as("nid"), col("qv").as("qb"),
        col("qn").as("qnb")))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        qdot(col("qa"), col("qb")).as("dot"),
        (qdot(col("qa"), col("qb")).cast("double") /
          (col("qna") * col("qnb"))).as("qcos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("qcos").desc, col("nid"))
    graft.plans.TopKPerGroup(scored, Seq("qid"),
        Seq("qcos" -> false, "nid" -> true), k)
      .withColumn("rank", row_number().over(w))
      .select("qid", "rank", "nid", "dot", "qcos")
  }

  // -------------------------------------------------------------------------
  // Label centroids (embedding-space aggregation)
  // -------------------------------------------------------------------------

  /** Per-label centroid summary: each label's per-dimension mean vector,
    * the centroid's norm, and the members' average cosine to their own
    * centroid — the embedding-space health check a curation pipeline runs
    * (tight clusters → high avg cosine; a label whose members sit at
    * cosine ≈ 0 from their centroid carries no geometric signal).
    *
    * Plan shape: one narrow posexplode pass, a (label, dim) partial
    * aggregation (map-side combine absorbs the fan-in), centroid assembly
    * as a per-label sorted collect of its `dim` means (O(dim) rows per
    * group — bounded by construction), then one broadcast-sized join back
    * to members for the cosine pass. No corpus-wide shuffle ever carries
    * vectors: the exploded aggregation moves (label, pos, x) triples.
    *
    * Determinism: per-dimension means and the final cosine average are
    * sorted-sequential double sums (sort the group's values, fold left) —
    * bit-identical across partitionings AND across engines (the DuckDB
    * oracle mirrors with list_sort + list_aggregate). The sort-collect
    * costs O(group) memory, bounded here by rows-per-label; at 100 TB
    * swap the mean to an exact decimal sum (order-free, constant memory —
    * [[graft.Tables]] `dec` pattern) and keep the plan otherwise.
    */
  def labelCentroids(emb: DataFrame): DataFrame = {
    val seqSum = (c: Column) =>
      aggregate(array_sort(collect_list(c)), lit(0.0), (acc, x) => acc + x)
    val exploded = emb.select(col("label"),
        posexplode(transform(col("embedding"), _.cast("double")))
          .as(Seq("pos", "x")))
    val dimMeans = exploded.groupBy(col("label"), col("pos"))
      .agg((seqSum(col("x")) / count(lit(1))).as("cx"))
    val cents = dimMeans.groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cx")))),
        s => s.getField("cx")).as("cv"))
      .withColumn("cnorm", sqrt(dotp(col("cv"), col("cv"))))
    val members = emb.select(col("label"),
        transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("vn", sqrt(dotp(col("v"), col("v"))))
    members.join(broadcast(cents), "label")
      .select(col("label"),
        (dotp(col("v"), col("cv")) / (col("vn") * col("cnorm"))).as("cos"),
        col("cnorm"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        (seqSum(col("cos")) / count(lit(1))).as("avg_cos"),
        min(col("cnorm")).as("centroid_norm"))
  }

  // -------------------------------------------------------------------------
  // Random-hyperplane LSH with multiprobe
  // -------------------------------------------------------------------------

  /** Per-table LSH signatures of a vector: one array<long> of `tables`
    * entries, each packing `planes` sign bits (first plane = MSB). Each
    * plane is its own codegen'd `dotp` column over a row of one held
    * hyperplane matrix: a `transform` HOF over the matrix evaluates the
    * dots interpreted, which lost the index build to the brute-force scan.
    */
  private[graft] def signatures(v: Column, planes: Int, tables: Int,
                                dim: Int): Column = {
    val hyper = new HeldMatrix((0 until tables * planes).map(i =>
      (0 until dim).map(d => planeComponent(i / planes, i % planes, d))))
    val bit = (i: Int) =>
      when(dotp(v, ivf_centroid(lit(i.toLong), hyper)) >= 0, lit(1L))
        .otherwise(lit(0L))
    array((0 until tables).map { t =>
      (0 until planes).map(j => bit(t * planes + j) * (1L << (planes - 1 - j)))
        .reduce(_ + _)
    }: _*)
  }

  /** ANN top-k via multiprobe hyperplane LSH: candidates share a bucket
    * with the probe in some table, where the probe visits its own bucket
    * plus all buckets within `maxFlips` bit flips (standard multiprobe:
    * the planes whose margin a near neighbor most likely crosses). Exact
    * cosine + rank within the candidate set; recall vs [[bruteForceTopK]]
    * is asserted in SimilaritySpec (>= 0.8 at k=5).
    *
    * The corpus index is cached (probe-independent); probe-side cost is
    * O(tables x planes) dots for signatures + the candidate dots. Parameter
    * intuition: P(per-plane agreement) = 1 - theta/pi; recall per table =
    * P(<= maxFlips disagreements among `planes`); total = 1-(1-r)^tables.
    */
  def annLsh(emb: DataFrame, probeFilter: Column, k: Int,
             planes: Int = 8, tables: Int = 8, maxFlips: Int = 2,
             dim: Int = 64): DataFrame = {
    val embKey = emb.queryExecution.analyzed.semanticHash().toString
    val key = s"$embKey|p=$planes|t=$tables"
    // vectors and the bucket index are cached separately: the index rows
    // stay id-only, so the candidate-dedupe shuffle below moves 16-byte
    // pairs, never 64-dim vectors (carrying vectors through the dedupe was
    // a 60x wall-clock blowup at a 400-probe batch)
    val vecs = graft.Caches.cached("emb-vectors", embKey)(asDouble(emb))
    // the index keeps vectors ALONGSIDE the bucket rows: it is cached once
    // and only ever streamed through narrow broadcast joins, so the vectors
    // never cross a shuffle (the shuffles below move bare (qid,nid,cos))
    val index = graft.Caches.cached("ann-lsh-index", key) {
      vecs.select(col("vec_id").as("nid"), col("v").as("nv"),
        col("vn").as("nn"),
        posexplode(signatures(col("v"), planes, tables, dim))
          .as(Seq("t", "sig")))
    }
    val flips = typedlit((0 until (1 << planes))
      .filter(m => Integer.bitCount(m) <= maxFlips).map(_.toLong))
    val probeBuckets = vecs.filter(probeFilter)
      .select(col("vec_id").as("qid"),
        posexplode(signatures(col("v"), planes, tables, dim))
          .as(Seq("t", "sig0")))
      .select(col("qid"), col("t"), col("sig0"), explode(flips).as("m"))
      .select(col("qid"), col("t"),
        col("sig0").bitwiseXOR(col("m")).as("sig"))
    val probeVecs = vecs.filter(probeFilter)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("vn").as("qn"))
    val nProbes = probeVecs.count()
    rankTopK(index
      // bare bucket ids broadcast while the probe batch is driver-sized;
      // past the cap both joins shuffle on their keys instead
      .join(probeHint(probeBuckets, nProbes), Seq("t", "sig"))
      .filter(col("qid") =!= col("nid"))
      .join(probeHint(probeVecs, nProbes), "qid")
      .select(col("qid"), col("nid"),
        (dotp(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("cos"))
      // dedupe multi-table/multi-flip hits of the same pair (cos identical)
      .groupBy("qid", "nid").agg(max(col("cos")).as("cos")), k)
  }
}
