package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.HeldMatrix
import graft.functions.gcolumns.ivf_centroid

/** Deterministic SYNTHETIC bench fixtures (VERDICT r12 items #1 and #5).
  *
  * The driver testdata's `documents` table has a ~31-word vocabulary with
  * every term in ~77% of docs (FIXTURES.md), so term-pruned retrieval can
  * never demonstrate its O(postings-of-query-terms) serving there: every
  * query is a near-full-corpus disjunction BY CONSTRUCTION. These
  * generators produce the realistic shapes the scaling axes need, at any
  * row count (the third decade the testdata lacks):
  *
  *  - [[zipfDocs]]: documents over a `vocab`-word Zipf(s) vocabulary —
  *    the natural-language df shape (a ~10%-of-tokens head word, a long
  *    tail of sub-1% terms), via the continuous bounded-Zipf inverse CDF
  *    rank(u) = (1 + u (V^(1-s) - 1))^(1/(1-s)), u drawn from xxhash64 of
  *    (doc, pos) — fully column-expressed, so generation distributes and
  *    the same (seed, row) always yields the same text.
  *  - [[zipfQueries]]: k-keyword retrieval queries whose terms follow the
  *    SAME Zipf law conditioned on rank >= minRank — real query workloads
  *    carry informative terms, not the stopword head.
  *  - [[clusteredEmbeddings]]: unit-ish vectors around `clusters`
  *    deterministic random centers with hash-uniform noise — the
  *    clustered geometry real embedding corpora have (the isotropic
  *    testdata embeddings are ANN's documented worst case).
  *
  * `ensure*` variants memoize to parquet under a fixture dir (default
  * `/tmp/graft-synth`, override via SPARK_GRAFT_SYNTH_DIR) so repeated
  * bench runs pay generation once. All shapes are seed-fixed; none of
  * this is test-oracle data — correctness queries stay on the driver
  * testdata.
  */
object SynthFixtures {

  private val Big = (1L << 40).toDouble

  /** Uniform (0,1) from a hashed key pair — deterministic per (a, b). */
  private def u01(a: Column, b: Column, seed: Long): Column =
    (pmod(xxhash64(a, b, lit(seed)), lit(1L << 40)).cast("double") + 0.5) /
      lit(Big)

  /** Bounded-Zipf(s) rank in [minRank, vocab] via the conditional
    * continuous inverse CDF (head ranks below minRank excluded by
    * renormalizing u into the tail's CDF band).
    */
  private def zipfRank(u: Column, vocab: Int, s: Double,
                       minRank: Int): Column = {
    val a = 1.0 - s
    val vTerm = math.pow(vocab.toDouble, a) - 1.0
    val pMin = (math.pow(minRank.toDouble, a) - 1.0) / vTerm
    val uu = lit(pMin) + u * lit(1.0 - pMin)
    least(lit(vocab.toLong), greatest(lit(minRank.toLong),
      floor(pow(uu * lit(vTerm) + lit(1.0), lit(1.0 / a))).cast("long")))
  }

  /** Fixed-width token for a rank (all tokens 7 chars — keyword-like). */
  private def tok(rank: Column): Column =
    concat(lit("w"), lpad(rank.cast("string"), 6, "0"))

  /** `n` documents (doc_id, text): `tokensPerDoc` Zipf(s) tokens each. */
  def zipfDocs(spark: SparkSession, n: Long, vocab: Int = 50000,
               tokensPerDoc: Int = 120, s: Double = 1.1,
               seed: Long = 7L): DataFrame =
    spark.range(n).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), lit(tokensPerDoc)),
        j => tok(zipfRank(u01(col("id"), j, seed), vocab, s, 1))))
        .as("text"))

  /** `n` documents with VARIED lengths — uniform 30..(2*meanTokens-30)
    * tokens per doc (mean ~= meanTokens), same Zipf vocabulary.
    * [[zipfDocs]] emits EXACTLY `tokensPerDoc` tokens per doc, which
    * makes BM25's length normalization degenerate: every tf=1 posting
    * of a term carries an IDENTICAL impact, so impact-ordered heads
    * reduce to doc_id-ordered ties and NO head budget can hold recall
    * there (measured r17: candidate recall plateaus at 0.84-0.89 at
    * 50k docs regardless of the coverage fraction — ties carry no
    * signal to order by). Real corpora carry length variance;
    * retrieval-RECALL measurements use this shape, while the
    * throughput/exponent axes keep [[zipfDocs]] for cross-round
    * comparability.
    */
  def zipfDocsVar(spark: SparkSession, n: Long, vocab: Int = 50000,
                  meanTokens: Int = 120, s: Double = 1.1,
                  seed: Long = 7L): DataFrame = {
    val len = (lit(30) + floor(u01(col("id"), lit(-1L), seed) *
      lit((2 * (meanTokens - 30)).toDouble + 1.0))).cast("int")
    spark.range(n).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), len),
        j => tok(zipfRank(u01(col("id"), j, seed), vocab, s, 1))))
        .as("text"))
  }

  /** `terms` keyword tokens for a query keyed by `id`, Zipf-drawn
    * conditioned on rank >= minRank (informative terms, not the stopword
    * head) — a pure column expression, so streaming rate sources can
    * synthesize arrivals in-row.
    */
  def zipfQueryText(id: Column, vocab: Int = 50000, terms: Int = 3,
                    minRank: Int = 100, s: Double = 1.1,
                    seed: Long = 77L): Column =
    concat_ws(" ", transform(sequence(lit(1), lit(terms)),
      j => tok(zipfRank(u01(id, j, seed), vocab, s, minRank))))

  /** `n` retrieval queries (qid, qtext) via [[zipfQueryText]]. */
  def zipfQueries(spark: SparkSession, n: Long, vocab: Int = 50000,
                  terms: Int = 3, minRank: Int = 100, s: Double = 1.1,
                  seed: Long = 77L): DataFrame =
    spark.range(n).select(col("id").as("qid"),
      zipfQueryText(col("id"), vocab, terms, minRank, s, seed).as("qtext"))

  /** A clustered embedding (float[dim]) keyed by `id`: one of `clusters`
    * deterministic unit centers + hash-uniform noise — a pure column
    * expression, so streaming rate sources can synthesize arrivals
    * in-row.
    */
  def clusteredEmbedding(id: Column, dim: Int = 64, clusters: Int = 30,
                         noise: Double = 0.1, seed: Long = 2024L): Column = {
    val rnd = new scala.util.Random(seed)
    val centers: Seq[Seq[Double]] = Seq.fill(clusters) {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / norm).toSeq
    }
    val center = ivf_centroid(pmod(id, lit(clusters.toLong)),
      new HeldMatrix(centers))
    transform(sequence(lit(1), lit(dim)), d =>
      (element_at(center, d) +
        (u01(id, d, seed) - lit(0.5)) * lit(2.0 * noise))
        .cast("float"))
  }

  /** `n` embeddings (vec_id, embedding) via [[clusteredEmbedding]]. */
  def clusteredEmbeddings(spark: SparkSession, n: Long, dim: Int = 64,
                          clusters: Int = 30, noise: Double = 0.1,
                          seed: Long = 2024L): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      clusteredEmbedding(col("id"), dim, clusters, noise, seed)
        .as("embedding"))

  def fixtureDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SYNTH_DIR", "/tmp/graft-synth")

  private def ensure(spark: SparkSession, name: String,
                     build: => DataFrame): String = {
    val path = s"$fixtureDir/$name.parquet"
    val done = java.nio.file.Paths.get(s"$path/_SUCCESS")
    if (!java.nio.file.Files.exists(done))
      build.write.mode("overwrite").parquet(path)
    path
  }

  /** Parquet-memoized [[zipfDocs]]; returns the path. */
  def ensureZipfDocs(spark: SparkSession, n: Long): String =
    ensure(spark, s"documents_zipf_$n", zipfDocs(spark, n))

  /** Parquet-memoized [[zipfDocsVar]]; returns the path. */
  def ensureZipfDocsVar(spark: SparkSession, n: Long): String =
    ensure(spark, s"documents_zipfvar_$n", zipfDocsVar(spark, n))

  /** Parquet-memoized [[clusteredEmbeddings]]; returns the path. */
  def ensureEmbeddings(spark: SparkSession, n: Long): String =
    ensure(spark, s"embeddings_synth_$n", clusteredEmbeddings(spark, n))
}
