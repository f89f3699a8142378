package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.{IndexCommit, StoredIndex}

/** Training-data curation operators (north star in /root/repo/BASELINE.json:
  * "the operations a large-scale training-data pipeline would need" beyond
  * the reference surface) — sequence packing, deterministic sampling,
  * benchmark-contamination screening, and the end-to-end keep/drop pipeline.
  *
  * Scale design notes live on each operator; the shared principles:
  *
  *  - Everything is a narrow pass or a bounded-key shuffle. No operator here
  *    materializes per-group state proportional to a hot key.
  *  - Sampling and selection are DETERMINISTIC (content hashes, never
  *    rand()): reruns, speculative task retries, and incremental re-curation
  *    of a grown corpus all reproduce the same keep set bit-for-bit.
  */
object Curation {

  /** Whitespace token count — the curation pipelines' budget unit (matches
    * [[TextAnalysis]]'s ws_tokens).
    */
  def tokenCount(text: Column): Column = size(split(text, " ")).cast("long")

  /** Concat-and-chop sequence packing — the standard LLM-pretraining batch
    * layout: within a shard, documents are laid out back to back in a
    * deterministic order and the token stream is chopped into
    * `budgetTokens`-sized training sequences; a document belongs to the
    * sequence its first token lands in.
    *
    * Emits one row per (shard, seq) with document and token accounting —
    * the packing manifest a downstream tokenizer-writer consumes.
    *
    * Scale: the running offset is a window sum PARTITIONED BY SHARD — state
    * is one accumulator per shard-partition, and shards are independent, so
    * the layout parallelizes to exactly the write parallelism you want at
    * 100 TB (`shards` ≙ output file count; at cluster scale you'd
    * `repartition($"shard").sortWithinPartitions($"doc_id")` and stream the
    * window without a global sort — the plan here is identical modulo the
    * presentation orderBy).
    */
  def packSequences(docs: DataFrame, budgetTokens: Int = 2048,
                    shards: Int = 8, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame =
    packTokens(docs.select(col(idCol),
      tokenCount(col(textCol)).as("tokens")), budgetTokens, shards, idCol)

  /** [[packSequences]] over PRE-COUNTED rows (idCol, tokens) — the layout
    * pass itself, for callers that already carry the token count (the
    * dataset build's persisted keep set) so the whole-text split is not
    * re-paid per serve. Plan and output identical to [[packSequences]] on
    * the same counts.
    */
  private[graft] def packTokens(docs: DataFrame, budgetTokens: Int,
                                shards: Int, idCol: String): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col(idCol), (col(idCol) % shards).as("shard"), col("tokens"))
      .withColumn("start", coalesce(sum(col("tokens")).over(w), lit(0L)))
      // integer division: exact at any offset (a double division could
      // misround exactly at sequence boundaries)
      .withColumn("seq", expr(s"start DIV $budgetTokens"))
      .groupBy(col("shard"), col("seq"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("sum_tokens"),
        min(col(idCol)).as("first_doc"), max(col(idCol)).as("last_doc"))
  }

  /** Deterministic stratified sample: the `perStratum` smallest documents
    * per stratum in md5(text) order (content-hash order ≙ a uniform draw,
    * but reproducible and engine-independent; ties broken by id).
    *
    * Scale: one shuffle on the stratum key, and the per-stratum quota runs
    * through the bounded-heap [[graft.plans.TopKPerGroupExec]] — O(strata x
    * quota) state, NO full per-stratum sort (the previous row_number window
    * sorted every stratum's millions of rows to keep a few hundred — the
    * classic skewed-window cost its own doc warned about). The residual
    * `rn` window then ranks only the <= quota survivors per stratum.
    */
  def stratifiedSample(docs: DataFrame, perStratum: Int,
                       stratumCol: String = "lang",
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val slim = docs.select(col(stratumCol), col(idCol),
      md5(col(textCol)).as("h"))
    val topk = graft.plans.TopKPerGroup(slim, Seq(stratumCol),
      Seq("h" -> true, idCol -> true), perStratum)
    val w = Window.partitionBy(col(stratumCol)).orderBy(col("h"), col(idCol))
    topk.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= perStratum)
      .select(col(stratumCol), col("rn"), col(idCol))
  }

  /** Deterministic rate sampling: keep a document iff its md5 hex digest is
    * below `hexThreshold` (e.g. "2" ≙ first hex digit ∈ {0,1} ≙ a 1/8 rate).
    * Purely narrow — a filter on a per-row hash, no shuffle at all: THE
    * sampling shape for 100 TB (every executor decides locally, the sample
    * is stable under re-partitioning, retries, and corpus growth).
    *
    * Returned per-source accounting (total vs sampled vs sampled tokens)
    * is what a curation report reads.
    */
  def hashSampleStats(docs: DataFrame, hexThreshold: String = "2",
                      textCol: String = "text"): DataFrame = {
    val in = md5(col(textCol)) < hexThreshold
    docs.groupBy(col("source")).agg(
      count(lit(1)).as("n_total"),
      count(when(in, 1)).as("n_sampled"),
      sum(when(in, tokenCount(col(textCol))).otherwise(0L))
        .as("sampled_tokens"))
  }

  /** Deterministic train/val/test split by content-hash range: md5 hex
    * digest < "c" → train (12/16), < "e" → val (2/16), else test (2/16).
    * Same scale shape as [[hashSampleStats]] — a narrow per-row decision,
    * no shuffle, stable under repartitioning/retries/corpus growth, and
    * duplicate texts always land in the SAME split (hash of content, not
    * of id — the property that keeps eval honest when dedup is imperfect).
    * Returns per-split accounting.
    */
  def splitStats(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val b = md5(col(textCol))
    val split = when(b < "c", "train").when(b < "e", "val").otherwise("test")
    docs.groupBy(split.as("split")).agg(
      count(lit(1)).as("n_docs"),
      sum(tokenCount(col(textCol))).as("sum_tokens"),
      count_distinct(col("lang")).as("n_langs"))
  }

  /** Benchmark-contamination screen: corpus documents sharing at least
    * `minOverlap` distinct k-word shingles with a benchmark document, with
    * the contaminated fraction of the benchmark doc's shingle set.
    *
    * This is the eval-leakage check every training-data pipeline runs
    * before a corpus ships: `benchFilter` marks the held-out set (here a
    * deterministic id slice; in production the actual benchmark corpus),
    * and any (benchmark, corpus) pair above the overlap floor is flagged.
    *
    * Scale: reuses the SAME df-cut inverted shingle index as the near-dup
    * family ([[Dedup.keptShingles]] — cached, document-frequency-bounded
    * posting lists), so candidate generation is a bounded-key join on the
    * shingle, never a doc x doc comparison. Overlap counting follows the
    * dedup family's candidate-verify shape: the posting join only yields
    * DISTINCT (bench, corpus) candidate pairs, and the overlap is computed
    * in-row as `array_intersect` against the cached per-doc sorted shingle
    * arrays — no per-hit row ever crosses a shuffle into a pair-keyed
    * aggregation (the r3 plan pushed one row per (bench, corpus, shingle)
    * HIT through the pair aggregation and cost 3x the strictly-harder LSH
    * query).
    *
    * Recall caveat (inherent to the shared df-cut index): shingles appearing
    * in more than [[Dedup.maxBucketSize]] documents are excluded from both
    * candidate generation and overlap counting, and `bench_n` counts the
    * KEPT shingle set — so recall degrades for benchmark text that is
    * already heavily replicated across the corpus. That trade is what makes
    * the screen run at 100 TB; for a small FIXED benchmark set where the
    * bench side must keep full recall, use [[contaminationAgainst]] (uncut
    * bench-side shingles, broadcast).
    */
  def contamination(docs: DataFrame, benchFilter: Column, k: Int = 3,
                    minOverlap: Int = 5): DataFrame = {
    val sh = Dedup.keptShingles(docs, k)
    val bench = sh.filter(benchFilter)
      .select(col("id").as("bench_doc"), col("shingle"))
    val corpus = sh.filter(!benchFilter)
      .select(col("id").as("corpus_doc"), col("shingle"))
    val cand = bench.join(corpus, "shingle")
      .select(col("bench_doc"), col("corpus_doc")).distinct()
    val arrays = Dedup.docShingleArrays(docs, k)
    cand
      .join(arrays.select(col("id").as("bench_doc"), col("sa").as("xa"),
        col("n").as("bench_n")), "bench_doc")
      .join(arrays.select(col("id").as("corpus_doc"), col("sa").as("xb")),
        "corpus_doc")
      .withColumn("overlap", graft.functions.gcolumns
        .sorted_intersect_count(col("xa"), col("xb")))
      .filter(col("overlap") >= minOverlap)
      .select(col("bench_doc"), col("corpus_doc"), col("overlap"),
        (col("overlap").cast("double") / col("bench_n")).as("bench_frac"))
  }

  /** Contamination screen against a FIXED benchmark table — the realistic
    * production shape: `bench` is a small held-out frame (`bench_id`,
    * `text`), e.g. an eval set's questions, screened against the full
    * corpus.
    *
    * Unlike [[contamination]]'s corpus-internal slice, the bench side here
    * is shingled UNCUT (full bench-side recall — heavily-replicated
    * benchmark text is exactly what a leakage screen must not miss) and
    * BROADCAST: per-bench-doc shingle arrays and exploded postings are both
    * benchmark-sized, so candidate generation is a broadcast hash join
    * against the corpus's df-cut posting lists and nothing benchmark-shaped
    * ever drives a shuffle. The corpus side reuses the shared near-dup
    * index; its df-cut only drops shingles that are stop-phrases across the
    * CORPUS (>[[Dedup.maxBucketSize]] docs), which cannot carry a specific
    * benchmark sentence's identity.
    *
    * `bench_n` is the bench doc's FULL distinct shingle count (uncut), so
    * `bench_frac` is an honest contaminated-fraction of the benchmark text.
    */
  def contaminationAgainst(docs: DataFrame, bench: DataFrame, k: Int = 3,
                           minOverlap: Int = 5): DataFrame = {
    import graft.functions.gcolumns.word_shingles
    val bArrays = bench.select(col("bench_id"),
        sort_array(word_shingles(col("text"), k)).as("ba"))
      .withColumn("bench_n", size(col("ba")))
    val bPostings = bArrays
      .select(col("bench_id"), explode(col("ba")).as("shingle"))
    val corpus = Dedup.keptShingles(docs, k)
      .select(col("id").as("corpus_doc"), col("shingle"))
    val cand = corpus.join(broadcast(bPostings), "shingle")
      .select(col("bench_id"), col("corpus_doc")).distinct()
    val cArrays = Dedup.docShingleArrays(docs, k)
      .select(col("id").as("corpus_doc"), col("sa").as("ca"))
    cand.join(cArrays, "corpus_doc")
      .join(broadcast(bArrays), "bench_id")
      // ba is sort_array'd at build, ca is the stored sorted array
      .withColumn("overlap", graft.functions.gcolumns
        .sorted_intersect_count(col("ba"), col("ca")))
      .filter(col("overlap") >= minOverlap)
      .select(col("bench_id"), col("corpus_doc"), col("overlap"),
        (col("overlap").cast("double") / col("bench_n")).as("bench_frac"))
  }

  /** Streaming contamination screen — the [[Dedup.minhashRoute]] /
    * [[graft.operators.Clustering.kmeansRoute]] analog for benchmark
    * leakage, completing the arrival-screening trio (exact dedup ->
    * near-dup -> contamination): each ARRIVING document is checked
    * against the fixed held-out benchmark before it can enter the
    * corpus, using the stored index's stop list so the arrival's kept
    * shingle set is bit-identical to the batch corpus-side cut.
    *
    * Entirely NARROW: the benchmark's uncut shingle arrays and the stop
    * list are benchmark-/bound-sized broadcasts, the arrival's shingles
    * and the per-bench overlap (`array_intersect`) compute in-row, and
    * nothing shuffles — no state store, no stream-stream join, no corpus
    * access. Source-parallel like the rest of the shipper plane.
    *
    * Equality with the batch screen ([[contaminationAgainst]]) is exact:
    * overlap counts shared KEPT shingles (arrival kept set = shingles
    * minus stored stop = the batch df-cut by complement), `bench_n` is
    * the bench doc's FULL uncut shingle count, and the batch candidate
    * join cannot drop a pair at `minOverlap >= 1` (any flagged pair
    * shares a kept shingle). StateAndStoreSpec replays the corpus and
    * proves the flagged sets equal.
    */
  def contaminationRoute(arrivals: DataFrame, indexDir: String,
                         bench: DataFrame, k: Int = 3, minOverlap: Int = 5,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    import graft.functions.gcolumns.word_shingles
    val spark = arrivals.sparkSession
    val stopArr = StoredIndex.readTable(spark, s"$indexDir/stop",
        "shingle STRING")
      .agg(sort_array(collect_list(col("shingle"))).as("stopa"))
    val bArrays = bench.select(col("bench_id"),
        sort_array(word_shingles(col("text"), k)).as("ba"))
      .withColumn("bench_n", size(col("ba")))
    arrivals
      .select(col(idCol).cast("long").as("corpus_doc"),
        col(textCol).as("text"))
      .crossJoin(broadcast(stopArr))
      .select(col("corpus_doc"),
        array_except(word_shingles(col("text"), k), col("stopa")).as("kept"))
      .crossJoin(broadcast(bArrays))
      .withColumn("overlap", size(array_intersect(col("ba"), col("kept"))))
      .filter(col("overlap") >= minOverlap)
      .select(col("bench_id"), col("corpus_doc"), col("overlap"),
        (col("overlap").cast("double") / col("bench_n")).as("bench_frac"))
  }

  /** PII redaction — the scrubbing pass a training corpus runs before
    * anything ships: masks email addresses and IPv4 literals, with per-doc
    * match accounting (the audit trail a compliance review reads).
    *
    * Scale: pure narrow column ops — two codegen'd regex extracts + two
    * replaces per row, no shuffle, scan-speed at any corpus size. The
    * patterns stay inside the RE2-compatible subset (no backreferences,
    * no lookaround) so the DuckDB oracle runs the SAME expressions and
    * the operator ports to any RE2-based scan pushdown.
    */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  // octets constrained to 0-255: '999.404.777.123'-style version strings
  // must NOT be masked as addresses
  private val octet = "(?:25[0-5]|2[0-4]\\d|1?\\d?\\d)"
  val ipv4Pattern = s"\\b(?:$octet\\.){3}$octet\\b"

  def redact(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"),
      size(regexp_extract_all(col(textCol), lit(emailPattern), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(col(textCol), lit(ipv4Pattern), lit(0)))
        .cast("long").as("n_ips"),
      // the masked text itself IS the product — callers ship `redacted`,
      // the counts are the audit trail
      regexp_replace(
          regexp_replace(col(textCol), emailPattern, "<EMAIL>"),
          ipv4Pattern, "<IP>")
        .as("redacted"))

  /** Unicode + whitespace normalization — the step every crawl pipeline
    * runs BEFORE hashing, dedup, or tokenization (an NFD "e + combining
    * accent" and the NFC "é" must hash as equals; stray control bytes and
    * run-on whitespace otherwise split exact-dup groups). Order matters and
    * is fixed: strip C0/DEL control characters (keeping \t \n \r, which the
    * whitespace pass owns), compose to NFC ([[graft.functions.TextNorm]] —
    * a codegen Catalyst expression, identity-fast on pure ASCII), collapse
    * whitespace runs to one space, trim. Emits the normalized text plus the
    * audit columns a curation report wants: post-normalization length and
    * how many characters normalization removed.
    *
    * The whitespace class is the explicit Unicode White_Space codepoint
    * list, NOT `\s`: Java's bare `\s` is ASCII-only (an NBSP or U+2028 run
    * would survive and split dedup groups), and an explicit class means the
    * Spark plan and a DuckDB/RE2 oracle match character for character
    * instead of each trusting its own `\s` dialect.
    *
    * Scale: a narrow per-row map of codegen'd string expressions — nothing
    * shuffles, scan-speed at any corpus size.
    */
  /** The bare normalize expression of [[normalizeDocs]] (control-strip →
    * NFC → whitespace-collapse → trim) as a column function — shared with
    * the `norm` tokenizer of [[graft.operators.TextIndex.tokenizers]], so
    * retrieval and curation normalize through ONE expression.
    */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(
      graft.functions.TextNorm.nfcNormalize(regexp_replace(c,
        "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")),
      unicodeSpaceRun, " "))

  def normalizeDocs(docs: DataFrame, textCol: String = "text"): DataFrame = {
    docs.select(col("doc_id"), length(col(textCol)).as("n_raw"),
        normalizeText(col(textCol)).as("norm"))
      .select(col("doc_id"), col("norm"),
        length(col("norm")).cast("long").as("n_chars_norm"),
        (col("n_raw") - length(col("norm"))).cast("long").as("n_removed"))
  }

  /** Unicode White_Space as an explicit character class (Java regex
    * syntax): TAB..CR, SPACE, NEL, NBSP, OGHAM, the U+2000 em/en family,
    * LINE/PARA separators, NNBSP, MMSP, IDEOGRAPHIC SPACE. */
  private[graft] val unicodeSpaceRun: String =
    "[\\t\\n\\u000B\\f\\r \\u0085\\u00A0\\u1680\\u2000-\\u200A" +
      "\\u2028\\u2029\\u202F\\u205F\\u3000]+"

  /** Sliding-window document chunking — the retrieval/embedding prep shape:
    * each document is cut into `chunkChars`-sized character windows every
    * `strideChars` characters (overlap = chunkChars - strideChars), one row
    * per (doc, chunk) with offset, length, and content-hash accounting. The
    * last window may be short; a document always yields at least one chunk.
    *
    * Scale: a generate-and-explode narrow map — `sequence()` builds each
    * doc's chunk indexes IN-ROW, `posexplode`-style fan-out happens inside
    * the same task that holds the text, and nothing shuffles (the chunk
    * rows inherit the scan's partitioning). Fan-out is bounded by
    * doc_len / stride, so partition row counts grow by a constant factor —
    * the 100 TB story is identical to the scan's. Chunk text is emitted as
    * hash + length, not body (callers joining chunks back re-slice from
    * the source column — cheaper than shuffling duplicated text).
    */
  def chunkDocs(docs: DataFrame, chunkChars: Int = 160,
                strideChars: Int = 120): DataFrame = {
    require(chunkChars > 0 && strideChars > 0 && strideChars <= chunkChars)
    docs
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0L),
          greatest(lit(0L), expr(s"(length(text) - 1) DIV $strideChars"))))
          .as("chunk_no"))
      .withColumn("start", col("chunk_no") * strideChars + 1)
      .select(col("doc_id"), col("chunk_no"), col("start"),
        length(expr(s"substring(text, CAST(start AS INT), $chunkChars)"))
          .cast("long").as("chunk_len"),
        md5(expr(s"substring(text, CAST(start AS INT), $chunkChars)"))
          .as("chunk_hash"))
  }

  /** Domain-mixture resampling — hit a target per-source sampling rate
    * (the "mix knob" of a pretraining corpus: upsample books, downsample
    * crawl): each source gets an md5-threshold rate in 16ths via one hex
    * digit (same deterministic-content-hash machinery as
    * [[hashSampleStats]]), unlisted sources fall back to `defaultRate`.
    *
    * Scale: the per-row keep decision is a broadcast map literal lookup +
    * a hash compare — purely narrow, zero shuffle, stable under retries
    * and corpus growth; only the per-source ACCOUNTING aggregates (20
    * groups). Rates in 16ths keep the oracle a plain CASE expression; finer
    * rates = longer hex prefixes, same machinery.
    */
  def domainMixSample(docs: DataFrame, rates: Map[String, String],
                      defaultRate: String = "6",
                      textCol: String = "text"): DataFrame = {
    val th = coalesce(element_at(typedlit(rates), col("source")),
      lit(defaultRate))
    val in = md5(col(textCol)) < th
    docs.groupBy(col("source")).agg(
      count(lit(1)).as("n_total"),
      count(when(in, 1)).as("n_kept"),
      sum(when(in, tokenCount(col(textCol))).otherwise(0L))
        .as("kept_tokens"))
  }

  /** TOKEN-BUDGETED mixture — the recipe form of the mix problem that
    * [[domainMixSample]]'s rate form cannot express: "fill each source to
    * EXACTLY this many tokens" (the mix spec a training run actually
    * states). Per budgeted source, documents are taken in deterministic
    * content-hash order (md5, ties by id — a reproducible,
    * engine-independent uniform draw, the [[stratifiedSample]]
    * discipline) until the source's token budget fills: a document is
    * selected iff the running token total BEFORE it is still under
    * budget, so the crossing document is kept (budgets are fill targets;
    * a hard cap would starve a source whose next document overshoots)
    * and a source whose corpus is smaller than its budget is kept whole.
    * Sources without a budget are excluded.
    *
    * Scale — the naive form is a per-source ordered prefix sum, i.e. a
    * full sort of EVERY source's rows through one window per source (the
    * skewed-window shape [[stratifiedSample]]'s own doc warns about:
    * source cardinality is tiny, each source is huge). This
    * implementation is the two-pass distributed-cutoff form instead:
    * pass 1 aggregates token sums per (source, 2-hex-digit hash bucket)
    * — a BOUNDED collect of <= sources x 256 rows — and the driver walks
    * each source's buckets in hash order to find the single CROSSING
    * bucket (cumulative sum crosses the budget there) plus the budget
    * remainder entering it; pass 2 keeps every document in buckets below
    * the crossing bucket with a narrow broadcast-joined filter (no
    * shuffle, no order needed — selection-by-prefix is
    * membership-by-bucket for all of them) and runs the ordered window
    * ONLY inside the crossing bucket, ~1/256th of one source per source.
    * At 100 TB the window input is budget-bounded, not corpus-bounded.
    *
    * Returns per-source accounting: (source, budget_tokens, n_docs,
    * sum_tokens, max_h) — max_h is the selection's content-hash high
    * watermark, the replayable "where the fill stopped" certificate.
    */
  def tokenBudgetMix(docs: DataFrame, budgets: Map[String, Long],
                     textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame =
    tokenBudgetMixDocs(docs, budgets, textCol, idCol)
      .groupBy(col("source"))
      .agg(min(col("budget_tokens")).as("budget_tokens"),
        count(lit(1)).as("n_docs"),
        sum(col("tokens")).as("sum_tokens"),
        max(col("h")).as("max_h"))

  /** The MEMBERSHIP form of [[tokenBudgetMix]] — the selected documents
    * themselves, (source, doc_id, h, tokens, budget_tokens) one row per
    * kept doc — for compositions that go on to consume the selection
    * ([[datasetBuild]] packs it). Same two-pass distributed cutoff; the
    * accounting form is just this frame aggregated.
    */
  def tokenBudgetMixDocs(docs: DataFrame, budgets: Map[String, Long],
                         textCol: String = "text",
                         idCol: String = "doc_id"): DataFrame =
    tokenBudgetMixCore(docs
      .select(col("source"), col(idCol).cast("long").as("doc_id"),
        md5(col(textCol)).as("h"), tokenCount(col(textCol)).as("tokens")),
      budgets)

  /** The cutoff machinery of [[tokenBudgetMixDocs]] over PRE-HASHED,
    * PRE-COUNTED rows (source, doc_id, h, tokens) — for callers whose
    * input already carries the selection columns (the dataset build's
    * persisted keep set), so md5 + the whole-text split run once at
    * build, not once per serve job. Identical selection on the same
    * (h, tokens) values.
    */
  private[graft] def tokenBudgetMixCore(pre: DataFrame,
                                        budgets: Map[String, Long],
                                        memoKey: Option[String] = None): DataFrame = {
    require(budgets.nonEmpty, "tokenBudgetMix needs at least one budget")
    require(budgets.values.forall(_ >= 0), "budgets must be >= 0")
    val spark = pre.sparkSession
    import spark.implicits._
    val slim = pre
      .filter(col("source").isin(budgets.keys.toSeq: _*))
      .withColumn("hb", substring(col("h"), 1, 2))
    // pass 1: bounded bucket statistics — <= sources x 256 rows. The
    // collect is a PLAN-TIME job every serve re-pays; callers whose input
    // is content-fingerprinted (the dataset build's persisted keep set)
    // pass a memoKey so the tiny cuts table rides the driver memo
    // registry instead (the kmeans-cents discipline — the key folds the
    // data fingerprint, so any source rewrite recomputes)
    def computeBstats() = slim.groupBy("source", "hb")
      .agg(sum(col("tokens")).as("btok"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val bstats = memoKey
      .fold(computeBstats()) { mk =>
        graft.Caches.memo("mix-cuts",
          s"$mk|${budgets.toSeq.sorted.mkString(",")}")(computeBstats())
      }
      .groupBy(_._1)
    // per source: the first bucket whose cumulative sum crosses the
    // budget, and the budget remainder entering it; "zz" (> any hex
    // pair) = no bucket crosses, the whole source fits its budget
    val cuts = budgets.toSeq.map { case (s, budget) =>
      val bs = bstats.getOrElse(s, Array.empty[(String, String, Long)])
        .sortBy(_._2)
      var cum = 0L
      var cut: Option[(String, Long)] = None
      bs.foreach { case (_, hb, btok) =>
        if (cut.isEmpty && cum + btok > budget) cut = Some((hb, budget - cum))
        cum += btok
      }
      val (hb, rem) = cut.getOrElse(("zz", 0L))
      (s, hb, rem, budget)
    }.toDF("source", "cut_hb", "rem", "budget_tokens")
    val lim = slim.join(broadcast(cuts), Seq("source"))
    // below the crossing bucket: kept by membership, no order computed
    val full = lim.filter(col("hb") < col("cut_hb"))
    // inside the crossing bucket: the one place the ordered prefix sum
    // must actually run — per-doc "tokens before me" vs the remainder
    val w = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val crossing = lim.filter(col("hb") === col("cut_hb"))
      .withColumn("bef", coalesce(sum(col("tokens")).over(w), lit(0L)))
      .filter(col("bef") < col("rem"))
      .drop("bef")
    full.unionByName(crossing)
      .select(col("source"), col("doc_id"), col("h"), col("tokens"),
        col("budget_tokens"))
  }

  /** Token-budgeted mixture WITH UPSAMPLING — the epochs form real mix
    * recipes state ("books x2.5"): when a source's budget EXCEEDS its
    * corpus, the fill cycles its documents in the same content-hash
    * order until the budget crosses, so a high-quality source repeats
    * (epochs) instead of capping at one pass. Semantics are the
    * [[tokenBudgetMix]] rule applied to the infinite cyclic stream —
    * select while the running total BEFORE the doc is strictly under
    * budget — which has a CLOSED FORM: `full_epochs = budget div total`
    * complete passes plus one partial pass that IS `tokenBudgetMix`
    * under the remainder (`budget - full_epochs * total`; a remainder
    * of 0 means the budget lands exactly on an epoch boundary and no
    * partial runs — the spec replays the cyclic stream to pin the
    * equivalence). Sub-epoch budgets reduce exactly to the plain mix
    * (full_epochs = 0).
    *
    * Scale: ONE narrow per-source totals aggregate (bounded collect,
    * source cardinality) + the partial pass's bucket-cutoff machinery —
    * the epochs themselves cost arithmetic, not IO (a manifest of
    * "repeat this selection f times" is what a downstream
    * tokenizer-writer consumes; materializing f copies is its choice,
    * not this operator's). Returns per-source accounting: (source,
    * budget_tokens, full_epochs, n_rows, sum_tokens) where n_rows /
    * sum_tokens count REPEATS.
    */
  def tokenBudgetMixEpochs(docs: DataFrame, budgets: Map[String, Long],
                           textCol: String = "text",
                           idCol: String = "doc_id"): DataFrame = {
    require(budgets.nonEmpty, "tokenBudgetMixEpochs needs budgets")
    require(budgets.values.forall(_ >= 0), "budgets must be >= 0")
    val spark = docs.sparkSession
    import spark.implicits._
    // bounded collect: one totals row per budgeted source
    val totals = docs
      .filter(col("source").isin(budgets.keys.toSeq: _*))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(tokenCount(col(textCol))).as("tt"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val plans = budgets.toSeq.sorted.flatMap { case (s, b) =>
      totals.get(s).map { case (n, tt) =>
        val fe = b / tt
        (s, b, fe, n, tt, b - fe * tt)
      }
    }
    val remBudgets = plans.collect { case (s, _, _, _, _, rem) if rem > 0 =>
      s -> rem }.toMap
    val partial =
      if (remBudgets.isEmpty)
        StoredIndex.emptyFrame(spark,
          "source STRING, pn BIGINT, pt BIGINT")
      else tokenBudgetMix(docs, remBudgets, textCol, idCol)
        .select(col("source"), col("n_docs").as("pn"),
          col("sum_tokens").as("pt"))
    plans.toDF("source", "budget_tokens", "full_epochs", "n", "tt", "rem")
      .join(partial, Seq("source"), "left")
      .select(col("source"), col("budget_tokens"), col("full_epochs"),
        (col("full_epochs") * col("n") + coalesce(col("pn"), lit(0L)))
          .as("n_rows"),
        (col("full_epochs") * col("tt") + coalesce(col("pt"), lit(0L)))
          .as("sum_tokens"))
  }

  /** Initialize a stateful BUDGET GATE — the streaming quota form of
    * [[tokenBudgetMix]], and the CAPACITY half of the admission story
    * ([[curateRoute]] decides content: dedup / quality / contamination;
    * the budget gate decides quota: per-source token fill targets).
    * Stores the per-source budgets table under one
    * [[graft.sources.IndexCommit]] manifest; fill state accumulates as
    * an LSM of per-batch deltas (`fills/gen-NNNNN`, O(admitted sources)
    * rows per learn — the termdf/bcounts discipline, folded by
    * [[StoredIndex.mergedLsm]] at read; each segment is
    * tiny, but a long-running gate's read lists O(learned batches) of
    * them — [[compactBudgetFills]] is the fold that bounds that).
    */
  def writeBudgetGate(spark: org.apache.spark.sql.SparkSession, dir: String,
                      budgets: Map[String, Long]): Unit = {
    require(budgets.nonEmpty, "a budget gate needs at least one budget")
    require(budgets.values.forall(_ >= 0), "budgets must be >= 0")
    import spark.implicits._
    IndexCommit.deleteTree(java.nio.file.Paths.get(dir))
    budgets.toSeq.sortBy(_._1).toDF("source", "budget_tokens")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/budgets")
    IndexCommit.commitFiles(dir,
      IndexCommit.walkDataFiles(dir))
  }

  /** Decide one arrival batch against the COMMITTED fill state: a doc is
    * admitted iff its source has a budget and `filled + (tokens of batch
    * docs before it) < budget` — within the batch, "before" is the
    * deterministic content-hash order (h, id), the [[tokenBudgetMix]]
    * rule, so a single batch through an empty gate admits EXACTLY the
    * batch mix's selection (CurationSpec pins the bridge); across
    * batches the gate is first-come-first-filled (arrival order is real
    * time — a later batch's low-hash doc cannot evict an earlier
    * admission, the semantics any ingest quota has). Arrivals from
    * unbudgeted sources are REJECTED (admitted = false), not dropped —
    * a gate must answer for every arrival.
    *
    * Decisions derive ONLY from committed state, so a crashed learn
    * ([[recordBudgetFills]]) re-decides the batch identically on
    * re-run — the [[curateRoute]] decide/learn convergence contract.
    * Scale: budgets and merged fills are source-cardinality frames
    * (broadcast); the only window runs per source over THIS BATCH
    * (batch-sized, never corpus-sized). Returns (doc_id, source,
    * tokens, admitted).
    */
  def budgetRoute(batch: DataFrame, dir: String,
                  idCol: String = "doc_id", textCol: String = "text",
                  asOf: Option[Int] = None): DataFrame = {
    val spark = batch.sparkSession
    val budgets = StoredIndex.readTable(spark,
      s"$dir/budgets", "source STRING, budget_tokens BIGINT", asOf)
    val fills = StoredIndex.mergedLsm(spark, s"$dir/fills",
      "source STRING, filled BIGINT", Seq("source"), "filled", asOf)
    val slim = batch.select(col("source"),
      col(idCol).cast("long").as("doc_id"), md5(col(textCol)).as("h"),
      tokenCount(col(textCol)).as("tokens"))
    val w = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    slim
      .join(broadcast(budgets), Seq("source"), "left")
      .join(broadcast(fills), Seq("source"), "left")
      .withColumn("bef", coalesce(sum(col("tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("source"), col("tokens"),
        (col("budget_tokens").isNotNull &&
          (coalesce(col("filled"), lit(0L)) + col("bef") <
            col("budget_tokens"))).as("admitted"))
  }

  /** LEARN a decided batch's admissions into the committed fill state:
    * one `fills/gen-NNNNN` delta segment (per-source admitted token
    * sums, O(sources) rows) — crash before the commit leaves the previous
    * version serving and the re-run re-decides identically. An
    * all-rejected batch is a NO-OP (no segment, no new version).
    * Returns the newly recorded token count.
    */
  def recordBudgetFills(decided: DataFrame, dir: String): Long =
    appendFillsDelta(dir, decided.filter(col("admitted"))
      .groupBy(col("source")).agg(sum(col("tokens")).as("filled")))

  /** One fills delta segment of `delta` (source, filled) — the shared
    * learn/refund path; a no-op when the delta is empty. Failpoints
    * (`budget-staged`, `budget-before-commit`) let CurationSpec kill it at
    * the windows where a non-atomic design would double-count or
    * half-publish. Returns the delta's token sum.
    */
  private def appendFillsDelta(dir: String, delta: DataFrame): Long =
    StoredIndex.mutate(dir, "budget") { t =>
      val spark = delta.sparkSession
      import spark.implicits._
      // bounded collect: one row per source in this delta
      val rows = delta.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      if (rows.nonEmpty) {
        rows.toDF("source", "filled")
          .coalesce(1).write.mode("overwrite").parquet(t.stage("fills"))
        IndexCommit.hit("budget-staged")
        t.moveToNextSeg("fills", "fills", "gen-")
      }
      rows.map(_._2).sum
    }

  /** REFUND admitted tokens — the FORGET half of the budget gate (the
    * fifth family joins the engine's decide/admit/learn/forget loop):
    * when admitted documents are later deleted (takedowns, the GDPR
    * erasure path every other index family serves), their quota returns
    * to the source by ONE NEGATIVE fills delta segment — the ledger
    * stays append-only and crash-atomic, symmetric with
    * [[recordBudgetFills]], and [[compactBudgetFills]] folds positive
    * and negative deltas alike. The caller asserts the refunded rows
    * were admitted (the gate keeps sums, not per-doc rows — per-doc
    * membership is the curation index's job); no clamping is applied,
    * so over-refunding simply grants headroom, visibly auditable in the
    * fills history. An empty refund is a no-op (no segment, no
    * version). Returns the refunded token count.
    */
  def refundBudgetFills(docs: DataFrame, dir: String,
                        textCol: String = "text"): Long =
    -appendFillsDelta(dir, docs.groupBy(col("source"))
      .agg((-sum(tokenCount(col(textCol)))).as("filled")))

  /** Fold the budget gate's fills LSM back to ONE segment once the
    * per-learn delta segments exceed `maxSegments` — the
    * [[StoredIndex.mergedLsm]] read lists O(learned
    * batches) tiny files on a long-running gate, and this is the
    * LogStore.compact discipline that bounds it. The merged per-source
    * sums are unchanged by construction (decisions before and after the
    * fold are identical). Returns the number of folded segments (0 =
    * under budget, no-op).
    */
  def compactBudgetFills(spark: org.apache.spark.sql.SparkSession,
                         dir: String, maxSegments: Int = 8): Int =
    StoredIndex.mutate(dir, "budget-compact") { t =>
      StoredIndex.foldLsm(t, "fills", "source STRING, filled BIGINT", "gen-",
        maxSegments)(StoredIndex.lsmSum(Seq("source"), "filled")(_).coalesce(1))
    }

  /** Nightly-ops policy driver for the budget-gate family (the
    * [[maintainCurateIndex]] analog, dispatched by
    * [[StoredIndex.maintain]]): folds the fills LSM when
    * its segment count exceeds the budget, else a no-op audit row.
    * Idempotent — the fold leaves one segment, so a second run is
    * `noop`.
    */
  def maintainBudgetGate(spark: org.apache.spark.sql.SparkSession,
                         dir: String, maxSegments: Int = 8)
      : graft.sources.Maintenance = {
    val folded = compactBudgetFills(spark, dir, maxSegments)
    graft.sources.Maintenance("budget",
      if (folded > 0) "compact" else "noop", folded.toLong)
  }

  /** Quantile quality floor — drop the worst `p` fraction of the corpus by
    * a quality score (here: whitespace token count), the data-driven
    * alternative to [[curatedStats]]' fixed thresholds. Returns per-lang
    * survivor accounting with the cut threshold echoed per row.
    *
    * Scale: one exact-percentile aggregation over the slim (lang, tokens)
    * projection produces a SINGLE threshold row, broadcast back over the
    * corpus for the narrow filter — two passes over a 16-byte-per-doc
    * projection, never the text. At 100 TB swap `percentile` for
    * `approx_percentile` (same plan shape, mergeable sketch state) — the
    * exact sort-based percentile is the oracle-determinism choice, not the
    * scale choice, exactly like [[CurationQueries.qProfile]]'s distincts.
    */
  def qualityQuantileCut(docs: DataFrame, p: Double = 0.25,
                         textCol: String = "text"): DataFrame = {
    val scored = docs.select(col("lang"),
      tokenCount(col(textCol)).as("tokens"))
    val th = scored.agg(percentile(col("tokens"), lit(p)).as("cut"))
    scored.crossJoin(broadcast(th))
      .filter(col("tokens") >= col("cut"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("sum_tokens"),
        min(col("cut")).as("cut"))
  }

  /** C4-style segment-level corpus dedup: any `segWords`-word tumbling
    * segment ("line") occurring at least `dupMin` times ACROSS the corpus is
    * removed from every document containing it, and documents are
    * reassembled from their surviving segments. This is the C4 pipeline's
    * "discard any three-sentence span occurring more than once" rule, the
    * boilerplate killer (cookie banners, nav bars, license headers) that
    * document-level dedup cannot touch.
    *
    * Emits one row per input document: total/kept segment accounting plus
    * the reassembled text (empty when every segment was boilerplate) — the
    * doc set is preserved so downstream length filters decide what drops.
    *
    * Scale: segmentation is in-row (`transform` over a `sequence` of
    * offsets — narrow, no position self-join). The corpus-wide occurrence
    * count shuffles md5(segment) — 16-byte keys, never segment text — and
    * the duplicated-segment set (occurrences >= dupMin, a tiny fraction of
    * distinct segments) broadcast-joins back against the exploded segments,
    * so the only full-width shuffle is the per-doc reassembly aggregation.
    * At 100 TB with very wide documents you'd emit (doc, seg_no) drop masks
    * instead and re-slice from the source column ([[chunkDocs]]' trick) to
    * keep reassembly text off the wire too; at typical web-doc widths the
    * one reassembly shuffle ≈ one extra scan of the kept corpus.
    */
  def lineDedup(docs: DataFrame, segWords: Int = 10, dupMin: Int = 3,
                idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(segWords > 0 && dupMin >= 2)
    val toks = split(col(textCol), " ")
    val segs = docs.select(col(idCol),
      posexplode(transform(
        // integer DIV: Column./ is double division and a double bound would
        // misround sequence() exactly at segment-count boundaries
        sequence(lit(0L), expr(s"(size(split(`$textCol`, ' ')) - 1) DIV $segWords")),
        i => array_join(
          slice(toks, (i * segWords + 1).cast("int"), lit(segWords)), " ")))
        .as(Seq("seg_no", "seg")))
      .withColumn("seg_hash", md5(col("seg")))
    val dup = segs.groupBy(col("seg_hash")).agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= dupMin)
      .select(col("seg_hash"), lit(true).as("dup"))
    segs.join(dup, Seq("seg_hash"), "left")
      .withColumn("is_dup", coalesce(col("dup"), lit(false)))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_segs"),
        count(when(!col("is_dup"), 1)).as("n_kept"),
        array_join(transform(
            sort_array(collect_list(
              when(!col("is_dup"), struct(col("seg_no"), col("seg"))))),
            s => s.getField("seg")), " ").as("kept_text"))
  }

  /** Substring-level (sliding-window) dedup accounting — the Lee-et-al.
    * ("Deduplicating Training Data Makes Language Models Better")-shaped
    * capability [[lineDedup]]'s TUMBLING segments cannot express: a
    * duplicated span offset by fewer than `segWords` words never aligns
    * with a tumbling boundary, so tumbling hashes miss it entirely, while
    * EVERY `segWords`-window (stride 1) over the span matches somewhere.
    * Windows occurring >= `dupMin` times across the corpus mark their
    * token range; overlapping/adjacent marked ranges merge into MAXIMAL
    * duplicated spans (the gaps-and-islands pass), approximating the
    * suffix-array duplicated-substring query relationally. Emits one row
    * per document that contains any duplicated substring: token total,
    * tokens covered by duplicated spans, and the merged span count.
    *
    * Scale: windowing is in-row (`transform` over a `sequence` — narrow);
    * the occurrence count shuffles md5(window) 16-byte keys, never window
    * text — stride 1 costs ~`segWords`× the hash volume of tumbling, the
    * price of offset-invariance, and the map-side partial absorbs hot
    * windows. The duplicated-window set (a tiny fraction by construction)
    * broadcasts back (swap for a shuffle join past broadcast size — plan
    * unchanged otherwise); position coverage explodes ONLY duplicated
    * windows (O(dup x segWords)); the island merge shares one clustering
    * exchange on the doc key with the final rollup.
    */
  /** Shared machinery of the substring tier: per doc, the SORTED DISTINCT
    * token positions covered by any >=`dupMin`-occurrence `segWords`-token
    * sliding window — (idCol, n, cov ARRAY<INT>) rows, docs with no
    * covered position absent.
    *
    * Shuffle shape (optimization guide §2.4/§3.1): the duplicated-window
    * set is a tiny fraction of windows by construction, so it BROADCASTS
    * back against the window stream — the window rows cross exactly one
    * exchange (the occurrence count's partial aggregation); pre-r19 the
    * same rows paid a second full seg_hash exchange through a sort-merge
    * join, then a (id, n, p) distinct exchange, then the consumers' doc
    * window exchange. The per-doc position set replaces distinct + lag
    * window + rollup with ONE doc-keyed collect_set aggregation whose
    * state is O(duplicated tokens per doc) — bounded by the same
    * construction; past broadcast size swap the join for a shuffle join,
    * plan otherwise unchanged.
    */
  private def dupPositionSets(docs: DataFrame, segWords: Int, dupMin: Int,
                              idCol: String, textCol: String): DataFrame = {
    require(segWords > 0 && dupMin >= 2)
    val toks = split(col(textCol), " ")
    val wins = docs
      .select(col(idCol), toks.as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") >= segWords)
      .select(col(idCol), col("n"),
        explode(transform(sequence(lit(1), col("n") - (segWords - 1)),
          i => struct(i.as("start"),
            md5(concat_ws(" ", slice(col("toks"), i, lit(segWords))))
              .as("seg_hash"))))
          .as("w"))
      .select(col(idCol), col("n"), col("w.start").as("start"),
        col("w.seg_hash").as("seg_hash"))
    val dup = wins.groupBy(col("seg_hash"))
      .agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= dupMin)
      .select(col("seg_hash"))
    wins.join(broadcast(dup), Seq("seg_hash"))
      .select(col(idCol), col("n"),
        explode(sequence(col("start"), col("start") + (segWords - 1))).as("p"))
      .groupBy(col(idCol))
      .agg(max(col("n")).as("n"), sort_array(collect_set(col("p"))).as("cov"))
  }

  def substringDedup(docs: DataFrame, segWords: Int = 10, dupMin: Int = 2,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sets = dupPositionSets(docs, segWords, dupMin, idCol, textCol)
    // span count in-row over the sorted distinct positions: a new span
    // starts at index 1 and wherever the position is not predecessor+1 —
    // exactly the lag-window gaps-and-islands rule, without its exchange
    val spans = size(filter(
      transform(sequence(lit(1), size(col("cov"))),
        // when(): element_at(cov, 0) must never evaluate (index-0 error)
        i => when(i === 1, lit(true)).otherwise(
          element_at(col("cov"), i) =!= element_at(col("cov"), i - 1) + 1)),
      x => x))
    sets.select(col(idCol), col("n").as("n_tokens"),
      size(col("cov")).cast("long").as("dup_tokens"),
      spans.cast("long").as("n_spans"))
  }

  /** The APPLY side of [[substringDedup]] — Lee et al. don't just count
    * duplicated substrings, they REMOVE them: every document is rebuilt
    * from the tokens outside its duplicated spans (documents without any
    * duplicated window pass through untouched, so the doc set is
    * preserved — [[lineDedup]]'s contract at substring granularity).
    *
    * Scale: the covered-position sets are O(duplicated tokens) per doc —
    * tiny by construction — and ride one doc-key join back to the corpus;
    * the rebuild is in-row (`array_except` over the position sequence,
    * then `transform`/`element_at` — no explode of kept text). The only
    * full-width data motion is the rebuilt text itself, same as any
    * rewrite-the-corpus pass.
    */
  def substringDedupApply(docs: DataFrame, segWords: Int = 10, dupMin: Int = 2,
                          idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val covs = dupPositionSets(docs, segWords, dupMin, idCol, textCol)
      .select(col(idCol), col("cov"))
    val toks = split(col(textCol), " ")
    docs.select(col(idCol), col(textCol))
      .join(covs, Seq(idCol), "left")
      .select(col(idCol),
        size(toks).as("n_tokens"),
        coalesce(size(col("cov")), lit(0)).as("dup_tokens"),
        when(col("cov").isNull, col(textCol))
          .otherwise(array_join(
            transform(
              array_except(sequence(lit(1), size(toks)), col("cov")),
              i => element_at(toks, i)), " "))
          .as("kept_text"))
  }

  /** LM-scored quality cut — [[qualityQuantileCut]]'s shape driven by the
    * [[TextAnalysis.bigramLmScore]] perplexity proxy instead of the length
    * heuristic: documents whose rare-bigram fraction exceeds
    * `1/rareFracDen` (bigrams the corpus LM saw <= rareMax times) are cut,
    * survivors roll up per language. The threshold compares EXACT integers
    * (`n_rare * rareFracDen <= n_bigrams`) — no float percentile to drift
    * between engines.
    *
    * Scale: inherits [[TextAnalysis.bigramLmScore]]'s bounds (broadcast
    * top-`vocabTop` count table, one doc-keyed rollup); the lang join back
    * moves one slim (id, lang) row per doc.
    */
  def lmQualityCut(docs: DataFrame, vocabTop: Int = 50000, rareMax: Long = 1,
                   rareFracDen: Int = 20): DataFrame = {
    val scored = TextAnalysis.bigramLmScore(docs, vocabTop, rareMax)
    scored.filter(col("n_rare") * rareFracDen <= col("n_bigrams"))
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bigrams")).as("sum_bigrams"),
        sum(col("n_rare")).as("sum_rare"))
  }

  /** The FLAGSHIP end-to-end curation pipeline — every curation tier the
    * engine verifies one by one, composed into the single pass a
    * pretraining corpus actually runs, with the packing manifest as the
    * product (any keep/drop or token-count divergence anywhere in the
    * chain shifts the manifest, so one hash-exact oracle proves the whole
    * composition):
    *
    *   1. normalize  — [[normalizeDocs]] (control-strip, NFC, whitespace
    *      collapse) so mess-only variants of the same page hash as equals;
    *   2. quality floor — minimum whitespace-token count, narrow, applied
    *      BEFORE any shuffle so the dedup exchanges only move survivors;
    *   3. exact dedup — min-id keeper per content hash ([[curatedStats]]'
    *      window shape: one exchange on md5(text), every column kept);
    *   4. near-dup screen — [[Dedup.ngramJaccardPairs]] at the Jaccard
    *      threshold; the LARGER id of each verified pair drops;
    *   5. contamination screen — [[contamination]] against the held-out
    *      id slice (`doc_id % benchMod == 0`): flagged corpus docs drop,
    *      and the bench slice itself is excluded from the corpus;
    *   6. pack — [[packSequences]] lays the final keep set out into
    *      training sequences.
    *
    * Cache composition is the point: steps 4 and 5 call into the SAME
    * df-cut shingle index ([[Dedup.keptShingles]] /
    * [[Dedup.docShingleArrays]]) over the SAME post-dedup frame, so the
    * index builds ONCE and every later consumer hits the scoped cache
    * (CurationSpec pins the counters: one miss per shingle family, hits
    * from then on). No orchestrator, no handoff files — the stages are
    * ordinary DataFrames and the scoped [[graft.Caches]] registry is the
    * only shared state.
    *
    * Scale: the narrow stages (normalize, floor) run first and fuse into
    * the scan; the dedup window shuffles once on the content hash; the
    * near-dup/contamination tiers inherit the bounded-key index shapes
    * (df cut, prefix filter, candidate-only verification); the two drop
    * sets are O(duplicates) and O(contaminated) — tiny — so both screens
    * apply as broadcast anti-joins; packing shuffles the slim (id, shard,
    * tokens) projection only. Nothing here moves document text through an
    * exchange except the one dedup window, same as [[curatedStats]].
    */
  def curatePipeline(docs: DataFrame, minTokens: Int = 20, k: Int = 3,
                     nearThreshold: Double = 0.6, benchMod: Int = 97,
                     minOverlap: Int = 3, budgetTokens: Int = 2048,
                     shards: Int = 8): DataFrame =
    // the pack consumes only (doc_id, tokens), so it lays out the SAME
    // persisted slim keep-set projection the dataset build serves from —
    // one screen run feeds both operators (pre-r19 the pipeline rode
    // Spark's cache substitution of the dataset build's full-text keep
    // set; when that cache went narrow, the screens would otherwise
    // re-run per pipeline serve)
    packTokens(keptSlimCached(docs, minTokens, k, nearThreshold, benchMod,
        minOverlap)._1.select(col("doc_id"), col("tokens")),
      budgetTokens, shards, "doc_id")

  /** The persisted NARROW keep-set projection (doc_id, md5(text),
    * tokenCount(text)) shared by [[curatePipeline]] and [[datasetBuild]]
    * — the screens run once per (corpus, params) and every downstream
    * serve (mix selection, pack layout) reads three slim columns. Key =
    * plan hash + DATA fingerprint (semanticHash alone keeps serving a
    * stale keep set after a same-path source rewrite within the
    * session). Returns (cached frame, its key) — callers fold the key
    * into their own derived memo keys.
    */
  private def keptSlimCached(docs: DataFrame, minTokens: Int, k: Int = 3,
                             nearThreshold: Double = 0.6, benchMod: Int = 97,
                             minOverlap: Int = 3): (DataFrame, String) = {
    val kept0 = curateKeep(docs, minTokens, k, nearThreshold, benchMod,
      minOverlap)
    val keptSlim = kept0.select(col("doc_id"), md5(col("text")).as("h"),
      tokenCount(col("text")).as("tokens"))
    val keepKey = s"${keptSlim.queryExecution.analyzed.semanticHash()}|" +
      graft.Caches.dataFingerprint(kept0)
    (graft.Caches.cached("curate-keepset", keepKey)(keptSlim), keepKey)
  }

  /** The TRAIN-READY DATASET BUILD — the whole recipe as one composition,
    * every stage an already-verified primitive: CURATE (normalize ->
    * quality floor -> exact dedup -> near-dup screen -> contamination
    * screen, [[curateKeep]]) -> MIX (fill each source to its token
    * budget in content-hash order over the curated text,
    * [[tokenBudgetMixDocs]]) -> PACK (concat-and-chop training
    * sequences, [[packSequences]]). Returns the pack manifest — one row
    * per (shard, seq) — whose every value shifts on any keep/drop/select
    * divergence anywhere in the three stages (q:`curate_dataset_build`
    * hash-checks the full chain against one DuckDB replay).
    *
    * `sources` maps doc ids to their source for the mix (kept docs
    * without a source row, like sources without a budget, are excluded
    * from the dataset — a mix recipe names what goes in). Scale: the
    * stages compose without materialization boundaries beyond their own
    * documented shapes; the mix selection joins back as a broadcast-able
    * semi-join on ids.
    */
  def datasetBuild(docs: DataFrame, sources: DataFrame,
                   budgets: Map[String, Long], budgetTokens: Int = 2048,
                   shards: Int = 8, minTokens: Int = 20): DataFrame = {
    // persisted: the keep set is consumed by TWO jobs here (the mix's
    // bounded bucket-stats collect, then the pack) — without this the
    // near-dup/contamination screens re-run per job (measured 8.7 s ->
    // 5.2 s solo-warm at sf0.1; curatePipeline's single consumer needs
    // no extra pin). Key = plan hash + DATA fingerprint: semanticHash
    // alone keeps serving a stale keep set after a same-path source
    // rewrite within the session.
    //
    // What persists is the NARROW serve projection (doc_id, h, tokens):
    // the mix selects on (h, tokens) and the pack lays out (doc_id,
    // tokens) — document text never reaches this operator's output, so
    // persisting it only made every serve job re-read megabytes of text
    // and re-run md5 + the whole-text split per job (optimization guide
    // §2.3 project-early / §1.2 per-task work; before/after plans in
    // plans/r19/curate_dataset_build_*.txt).
    val (kept, keepKey) = keptSlimCached(docs, minTokens)
    val sel = tokenBudgetMixCore(kept.join(sources, Seq("doc_id"))
      .select(col("source"), col("doc_id").cast("long").as("doc_id"),
        col("h"), col("tokens")),
      budgets,
      // sources joins on the fingerprinted keep set; fold its scan
      // fingerprint too so a sources-table rewrite recomputes the cuts
      memoKey = Some(s"$keepKey|${graft.Caches.dataFingerprint(sources)}"))
    // the selection is budget-bounded by construction (docs per source ≈
    // budget_tokens / doc length) — broadcast the semi probe so the keep
    // set never shuffles on doc_id (pre-r19 it rode a SortMergeJoin
    // LeftSemi exchange, full text and all)
    packTokens(kept.join(broadcast(sel.select("doc_id")), Seq("doc_id"),
        "semi")
      .select(col("doc_id"), col("tokens")), budgetTokens, shards, "doc_id")
  }

  /** Stages 1-3 of the pipeline (normalize -> floor -> exact dedup):
    * the curated frame both screens run over. Shared with
    * [[writeCurateIndex]] so the streaming admission path's stored state
    * derives from the identical chain.
    */
  private def curatedFrame(docs: DataFrame, minTokens: Int): DataFrame = {
    val normed = normalizeDocs(docs).select(col("doc_id"),
      col("norm").as("text"))
    val floored = normed.filter(tokenCount(col("text")) >= minTokens)
    val w = Window.partitionBy(col("content_hash"))
    floored
      .withColumn("content_hash", md5(col("text")))
      .withColumn("keeper", min(col("doc_id")).over(w))
      .filter(col("doc_id") === col("keeper"))
      .select(col("doc_id"), col("text"))
  }

  /** The pipeline's final keep set (doc_id, text) before packing — the
    * frame [[curatePipeline]] packs, and the batch ground truth
    * [[curateRoute]]'s streaming admission decisions must reproduce.
    */
  def curateKeep(docs: DataFrame, minTokens: Int = 20, k: Int = 3,
                 nearThreshold: Double = 0.6, benchMod: Int = 97,
                 minOverlap: Int = 3): DataFrame = {
    val kept0 = curatedFrame(docs, minTokens)
    // persisted: consumed by the shingle-index build AND the final
    // keep-set scan below (Spark would otherwise run the normalize +
    // dedup chain once per consumer); data-fingerprinted like the
    // keepset cache above
    val kept = graft.Caches.cached("curate-kept",
      s"${kept0.queryExecution.analyzed.semanticHash()}|" +
        graft.Caches.dataFingerprint(kept0))(kept0)
    val nearDrop = Dedup.ngramJaccardPairs(kept, k, nearThreshold)
      .select(col("db").as("doc_id")).distinct()
    val contDrop = contamination(kept, col("id") % benchMod === 0, k,
        minOverlap)
      .select(col("corpus_doc").as("doc_id")).distinct()
    // both drop sets are O(duplicates)/O(contaminated) — tiny by
    // construction — so the screens apply as broadcast anti-joins (the
    // contamination side's pre-AQE size estimate otherwise plans a
    // two-exchange sort-merge anti)
    kept.filter(col("doc_id") % benchMod =!= 0)
      .join(broadcast(nearDrop), Seq("doc_id"), "left_anti")
      .join(broadcast(contDrop), Seq("doc_id"), "left_anti")
  }

  /** Persist the curation pipeline's decision state for [[curateRoute]]:
    * `hashes` (content_hash -> min-id keeper — the exact-dedup verdict
    * table) and an LSH+prefix index ([[Dedup.writeLshIndex]] layout
    * under `dir/lsh`) over the exact-deduped curated frame — the same
    * frame the batch screens run over, so streaming admission reproduces
    * batch decisions bit for bit. BOTH tables publish under ONE
    * [[graft.sources.IndexCommit]] manifest at `dir` (the lsh subtree
    * carries no manifest of its own), so the decide+learn loop's state
    * always flips hash-table-and-index together.
    */
  def writeCurateIndex(docs: DataFrame, dir: String, minTokens: Int = 20,
                       k: Int = 3, nearThreshold: Double = 0.6): Unit = {
    IndexCommit.deleteTree(java.nio.file.Paths.get(dir))
    val normed = normalizeDocs(docs).select(col("doc_id"),
      col("norm").as("text"))
    val floored = normed.filter(tokenCount(col("text")) >= minTokens)
    // the hash table and the lsh subtree write disjoint directories from
    // independent plans — concurrent jobs (guide §2.6), one commit below
    StoredIndex.parallelStages(Seq(
      () => floored.select(md5(col("text")).as("content_hash"), col("doc_id"))
        .groupBy("content_hash").agg(min(col("doc_id")).as("keeper"))
        .write.mode("overwrite").parquet(s"$dir/hashes"),
      () => Dedup.writeLshIndex(curatedFrame(docs, minTokens), s"$dir/lsh", k,
        prefixThreshold = nearThreshold, commit = false)))
    IndexCommit.commitFiles(dir,
      IndexCommit.walkDataFiles(dir))
  }

  /** The LEARN half of the online ingest loop: grow the
    * [[writeCurateIndex]] state by an arrival batch so FUTURE arrivals
    * screen against it ([[curateRoute]] is the decide half; together
    * they are the production loop — decide, admit, learn, repeat).
    *
    * What gets appended is every KEEPER in the batch — each doc that
    * passes the floor and is the first holder of its normalized content
    * hash — NOT just the accepted ones. This is the batch pipeline's
    * near-dup semantics made incremental: batch `curateKeep` drops doc x
    * when ANY smaller-id kept1 member matches, including members that
    * were themselves near-dup-rejected (a transitive chain a<b<c with
    * J(a,b), J(b,c) >= t but J(a,c) < t drops BOTH b and c). An
    * accepted-only index would admit c; appending all keepers reproduces
    * the batch decision exactly — CurationSpec's sequential-ingest case
    * pins precisely this chain.
    *
    * Mechanics: normalize + floor the batch in-row, pick batch keepers
    * (min id per hash) not already in the stored hash table, stage their
    * (content_hash, keeper) rows as a pure file-append, and
    * [[Dedup.appendLshIndex]] the kept normalized texts (touched-range-
    * only restaging) into the SAME [[graft.sources.IndexTxn]] — ONE
    * manifest commit at `dir` publishes the hash rows and every lsh
    * table change together. The cross-table atomicity is load-bearing:
    * a hash table ahead of the lsh index would make a crash re-run
    * compute an empty keeper batch and permanently skip indexing the
    * texts, while the joint commit means a crash anywhere rolls BOTH
    * back and the re-run recomputes the identical batch. Single-writer
    * contract, like every maintenance path here.
    */
  def appendCurateIndex(newDocs: DataFrame, dir: String,
                        minTokens: Int = 20, k: Int = 3): Unit =
    StoredIndex.mutate(dir, "curate") { t =>
      val spark = newDocs.sparkSession
      val normed = normalizeDocs(newDocs).select(col("doc_id"),
        col("norm").as("text"))
      val floored = normed.filter(tokenCount(col("text")) >= minTokens)
      val stored = servedHashes(spark, dir)
      val w = Window.partitionBy(col("content_hash"))
      val batchKeep = floored
        .withColumn("content_hash", md5(col("text")))
        .withColumn("keeper", min(col("doc_id")).over(w))
        .filter(col("doc_id") === col("keeper"))
        .join(stored.select("content_hash"), Seq("content_hash"), "left_anti")
        .select(col("content_hash"), col("doc_id"), col("text"))
      // the new hash rows file-append (the stored table is never
      // rewritten); the kernel's commit publishes them with the lsh change
      batchKeep.select(col("content_hash"), col("doc_id").as("keeper"))
        .write.mode("overwrite").parquet(t.stage("hashes"))
      t.moveIn("hashes", "hashes")
      Dedup.appendLshIndex(batchKeep.select(col("doc_id"), col("text")),
        s"$dir/lsh", k, txn = Some(t))
    }

  /** The `hashes` table with tombstoned keepers excluded — the served
    * exact-dup verdict view. A deleted keeper stops blocking its content
    * hash, so a later identical arrival is ADMITTED again (and
    * [[appendCurateIndex]] learns it as the hash's new keeper) — the
    * GDPR re-ingest semantics. The no-tombstones case returns the stored
    * table untouched (no extra join in the plan).
    */
  private def servedHashes(spark: org.apache.spark.sql.SparkSession,
                           dir: String,
                           asOf: Option[Int] = None): DataFrame =
    StoredIndex.antiTombstoned(spark, dir, "lsh-tombstones",
      StoredIndex.readTable(spark, s"$dir/hashes",
        "content_hash STRING, keeper BIGINT", asOf),
      "keeper", asOf)

  /** TOMBSTONE-DELETE documents from the curation state — the FORGET half
    * of the decide+learn loop (takedown / erasure requests against an
    * admitted corpus). One composite transaction over both halves:
    *
    *  - `dir/tombstones` gains the dead ids (pure file-append); the
    *    served `hashes` view ([[servedHashes]]) excludes rows whose
    *    KEEPER is dead, so the content hash unblocks;
    *  - the nested lsh tree forgets the same ids via
    *    [[Dedup.deleteFromLshIndex]] (shared txn) — near-dup and
    *    contamination screening stop seeing the docs.
    *
    * After the single manifest commit, [[curateRoute]] decides as if the
    * docs had never been admitted (modulo the documented df upper-bound
    * caveat of the LSH delete); a re-arrival of the same content is
    * accepted and re-learned. Crash anywhere rolls BOTH halves back —
    * a hash table that forgot while the lsh index still blocks (or vice
    * versa) cannot be observed. Idempotent; single-writer; ids are never
    * reused. Physical reclaim happens in [[compactCurateIndex]].
    *
    * Returns the number of NEWLY tombstoned ids.
    */
  def deleteFromCurateIndex(ids: DataFrame, dir: String,
                            idCol: String = "doc_id"): Long =
    StoredIndex.mutate(dir, "curate-del") { t =>
      val spark = ids.sparkSession
      val dead = ids.select(col(idCol).cast("long").as("id")).distinct()
        .join(StoredIndex.readTable(spark, s"$dir/tombstones",
          "id BIGINT"), Seq("id"), "left_anti")
      dead.coalesce(1).write.mode("overwrite").parquet(t.stage("tombstones"))
      val staged = StoredIndex.readDirTable(spark,
        t.stage("tombstones"), "id BIGINT")
      val nDead = staged.count()
      if (nDead > 0) {
        IndexCommit.hit("curate-del-staged")
        // nested delete FIRST: it executes plans over the lazily-read
        // `staged` frame, whose files must still sit in the stage dir —
        // the move below would pull them out from under those plans
        Dedup.deleteFromLshIndex(staged, s"$dir/lsh", idCol = "id",
          txn = Some(t))
        t.moveIn("tombstones", "tombstones")
      }
      nDead
    }

  /** SMALL-FILES compaction for the curation state — the maintenance
    * sweep a long-running decide+learn loop schedules between appends:
    * squashes the file-append `hashes` table past `maxFilesPerTable`
    * fragments and runs [[Dedup.compactLshIndex]] over the nested lsh
    * tree, both in ONE commit (the [[appendCurateIndex]] atomicity
    * argument applies unchanged: both halves flip together or not at
    * all). Idempotent; crash-safe; single-writer. Returns (table,
    * rewritten) pairs.
    */
  def compactCurateIndex(spark: org.apache.spark.sql.SparkSession,
                         dir: String, maxFilesPerTable: Int = 4)
      : Seq[(String, Int)] =
    StoredIndex.mutate(dir, "curate-compact") { t =>
      // hashes fold: past the fragment budget, OR whenever tombstones
      // exist (the physical-reclaim half of deleteFromCurateIndex — dead
      // keepers' rows leave the table and the tombstones themselves
      // retire; the served view is unchanged because servedHashes already
      // excluded them)
      val dead = StoredIndex.liveTombstones(t)
      val folded = StoredIndex.rewriteParts(t, "hashes",
        "content_hash STRING, keeper BIGINT", None, Nil, maxFilesPerTable,
        dead, "keeper")
      t.retireUnder("tombstones")
      val own =
        if (folded > 0) Seq(("hashes", 1))
        // tombstones against an empty hash table retire with nothing to drop
        else if (dead.nonEmpty) Seq(("tombstones", 0))
        else Nil
      own ++ Dedup.compactLshIndex(spark, s"$dir/lsh",
        maxFilesPerRange = maxFilesPerTable, txn = Some(t))
    }

  /** NIGHTLY-OPS policy entry point for the curation state: the
    * committed-state inspection is [[compactCurateIndex]]'s own sweep
    * (hashes fold past the fragment budget or on live tombstones, the
    * nested LSH tree's ranges/LSMs), one audit row. Idempotent;
    * crash-safe by inheritance.
    */
  def maintainCurateIndex(spark: org.apache.spark.sql.SparkSession,
                          dir: String, maxFilesPerTable: Int = 4)
      : graft.sources.Maintenance = {
    val parts = compactCurateIndex(spark, dir, maxFilesPerTable)
    graft.sources.Maintenance("curate",
      if (parts.nonEmpty) "compact" else "noop",
      parts.map(_._2.toLong).sum)
  }

  /** STREAMING admission control — the whole [[curatePipeline]] as a
    * per-arrival decision against the stored [[writeCurateIndex]] state,
    * composing the route tier end to end: normalize (in-row) -> quality
    * floor (in-row) -> exact-dup verdict (one stream-static lookup in
    * `hashes`: drop iff a SMALLER id holds the same content hash) ->
    * near-dup verdict ([[Dedup.jaccardRouteOnKept]] against the curated
    * index's prefix-filter postings — EXACT, zero LSH false negatives,
    * oriented: drop iff a smaller-id kept doc matches, the batch
    * smaller-id-wins rule) -> contamination verdict (overlap vs the
    * index's own `% benchMod` bench arrays, broadcast) -> held-out
    * exclusion. Emits one row per arrival: (doc_id, accepted, reason)
    * with reason the FIRST failing stage in pipeline order.
    *
    * INTRA-BATCH self-screening (r12): every verdict also screens
    * against the batch's OWN keepers — the floor-passing min-id holder
    * of each content hash not already stored — so two duplicates
    * arriving in the SAME micro-batch no longer both slip through an
    * index that contains neither: the second exact copy rejects against
    * the first (batch hash window), a near-dup rejects against any
    * smaller-id batch keeper (the same prefix-filter candidate rule,
    * batch-locally via [[Dedup.jaccardPairsOnKept]]), and a batch's own
    * bench-slice keepers screen its other members for contamination.
    * With a COMPLETE index (every arrival already indexed) the batch
    * keeper set is empty and the stages reduce to the stored lookups —
    * the oracle-replayed shape. Replaying the corpus as ONE batch from
    * an EMPTY index admits exactly the batch [[curateKeep]] set, and so
    * does any split into sequential decide+learn batches (CurationSpec
    * proves both), with one documented caveat: the arrival kept-shingle
    * sets cut against the STORED stop list, so a df-cut crossing caused
    * by the batch itself is only visible after its [[appendCurateIndex]]
    * — between-batch semantics, the same contract the LSH index's df
    * monotonicity gives the near-dup tier.
    *
    * Scale shape: narrow normalize/floor/shingle work per arrival; the
    * `hashes` lookup is a stream-static equi-join on a 16-byte key, the
    * near-dup probe is a stream-static equi-join against the df-cut
    * prefix postings, the bench arrays are benchmark-sized broadcasts,
    * and every intra-batch structure is micro-batch-sized. No state
    * store, no stream-stream join; run under `foreachBatch`.
    *
    * TIME TRAVEL: `asOf` pins the CURATE index's version; the optional
    * stored-LM leg has an INDEPENDENT version lineage (two separate
    * manifests), so it takes its own `lmAsOf` — forwarding one number to
    * both stores would fail (or silently serve the wrong LM snapshot)
    * whenever their version histories diverge.
    */
  def curateRoute(arrivals: DataFrame, dir: String, minTokens: Int = 20,
                  k: Int = 3, nearThreshold: Double = 0.6,
                  benchMod: Int = 97, minOverlap: Int = 3,
                  asOf: Option[Int] = None,
                  lmDir: Option[String] = None,
                  lmThr: Long = 0L,
                  lmAsOf: Option[Int] = None): DataFrame = {
    // A PINNED read composed with a stored-LM leg must pin the LM too:
    // the LM index has its own manifest history, so serving the LATEST
    // LM under a historical curation read would silently change the
    // pinned decisions after any LM learn/forget. Fail fast instead.
    require(asOf.isEmpty || lmDir.isEmpty || lmAsOf.isDefined,
      "curateRoute: asOf is set and lmDir is present but lmAsOf is None " +
        "— pass an explicit lmAsOf so the LM leg is pinned with the read")
    val spark = arrivals.sparkSession
    val normed = normalizeDocs(arrivals).select(col("doc_id"),
      col("norm").as("text"))
    val staged = normed
      .withColumn("n_tokens", tokenCount(col("text")))
      .withColumn("ch", md5(col("text")))
    val hashes = servedHashes(spark, dir, asOf)
    // the batch's own keeper candidates: floor-passing min-id holder per
    // content hash (micro-batch-sized frames throughout)
    val floorPass = staged.filter(col("n_tokens") >= minTokens)
      .select(col("doc_id"), col("text"), col("ch"))
    val batchMin = floorPass.groupBy(col("ch"))
      .agg(min(col("doc_id")).as("bkeep"))
    val withExact = staged
      .join(hashes, staged("ch") === hashes("content_hash"), "left")
      .join(batchMin, Seq("ch"), "left")
      .withColumn("exact_dup",
        coalesce(col("keeper") < col("doc_id"), lit(false)) ||
          coalesce(col("bkeep") < col("doc_id"), lit(false)))
      .select(col("doc_id"), col("text"), col("n_tokens"), col("exact_dup"))
    // batch keepers = what appendCurateIndex would learn from this batch
    // (exactly the not-yet-stored first hash holders — including ones the
    // screens below reject, the keeper-not-accepted rule)
    val batchKeepers = floorPass.join(batchMin, Seq("ch"))
      .filter(col("doc_id") === col("bkeep"))
      .join(hashes.select(col("content_hash").as("ch")), Seq("ch"),
        "left_anti")
      .select(col("doc_id"), col("text"))
    // kept-shingle arrays, built once and shared by all three screens
    val stopArr = StoredIndex.readTable(spark, s"$dir/lsh/stop",
        "shingle STRING", asOf)
      .agg(sort_array(collect_list(col("shingle"))).as("stopa"))
    def keptOf(df: DataFrame, idAs: String, keptAs: String): DataFrame = df
      .crossJoin(broadcast(stopArr))
      .select(col("doc_id").as(idAs),
        array_except(graft.functions.gcolumns.word_shingles(col("text"), k),
          col("stopa")).as(keptAs))
    val arrivalKept = keptOf(normed, "sid", "kept")
    val keeperKept = keptOf(batchKeepers, "kid", "ksa")
    // near-dup: a SMALLER-id kept doc matches (the batch db-drops rule) —
    // stored docs via the exact prefix-filter route, same-batch keepers
    // via the batch-local pair rule
    val nearHit = Dedup.jaccardRouteOnKept(arrivalKept, s"$dir/lsh",
        nearThreshold, asOf = asOf)
      .filter(col("id") < col("sid"))
      .select(col("sid").as("doc_id"))
      .unionByName(Dedup.jaccardPairsOnKept(arrivalKept, keeperKept,
          nearThreshold)
        .select(col("sid").as("doc_id")))
      .distinct()
      .withColumn("near_dup", lit(true))
    // contamination: the bench side is the curated frame's own held-out
    // slice — stored keepers from the index arrays plus this batch's own
    // bench keepers (kept shingles — the batch contamination() cut on
    // BOTH sides; bidirectional like the batch screen, so a bench doc
    // screens batch-mates regardless of id order)
    val benchArrays = Dedup.antiTombstoned(spark, s"$dir/lsh",
        StoredIndex.readTable(spark, s"$dir/lsh/arrays",
          "id BIGINT, sa ARRAY<STRING>, n BIGINT, pid BIGINT", asOf), asOf)
      .filter(col("id") % benchMod === 0)
      .select(col("id").as("bench_id"), col("sa").as("ba"))
      .unionByName(keeperKept
        .filter(col("kid") % benchMod === 0 && size(col("ksa")) > 0)
        .select(col("kid").as("bench_id"), sort_array(col("ksa")).as("ba")))
    val contHit = arrivalKept
      .crossJoin(broadcast(benchArrays))
      // bench members are never "corpus" docs in the batch screen — they
      // leave via held_out, not contamination
      .filter(col("sid") % benchMod =!= 0 &&
        size(array_intersect(col("ba"), col("kept"))) >= minOverlap)
      .select(col("sid").as("doc_id")).distinct()
      .withColumn("contaminated", lit(true))
    // optional PERPLEXITY verdict (the CCNet order: dedup first, then the
    // LM cut) against a stored [[LangModel]] index — scored on the SAME
    // normalized text the rest of the route decides on, so index builders
    // should train on normalized reference text
    val lmHit = lmDir.map { ld =>
      LangModel.lmRoute(normed, ld, lmThr, asOf = lmAsOf)
        .filter(!col("admitted"))
        .select(col("doc_id"), lit(true).as("lm_cut"))
    }
    val joined0 = withExact
      .join(nearHit, Seq("doc_id"), "left")
      .join(contHit, Seq("doc_id"), "left")
    val joined = lmHit.fold(joined0)(h => joined0.join(h, Seq("doc_id"),
      "left"))
    // null-safe: a null-text arrival has null n_tokens, which every
    // comparison below would skip — it must REJECT as quality, not
    // fall through every when() to an accept
    val preLm =
      when(col("n_tokens").isNull || col("n_tokens") < minTokens, "quality")
        .when(col("exact_dup"), "exact_dup")
        .when(coalesce(col("near_dup"), lit(false)), "near_dup")
    val withLm =
      if (lmHit.isDefined)
        preLm.when(coalesce(col("lm_cut"), lit(false)), "perplexity")
      else preLm
    joined
      .select(col("doc_id"),
        withLm
          .when(coalesce(col("contaminated"), lit(false)), "contaminated")
          .when(col("doc_id") % benchMod === 0, "held_out")
          .as("reason"))
      .select(col("doc_id"), col("reason").isNull.as("accepted"),
        col("reason"))
  }

  /** The end-to-end curation pipeline, composed from the primitives the
    * rest of the engine already verifies one by one:
    *
    *   1. quality floor — minimum length, bounded digit ratio (the
    *      [[TextAnalysis.quality]] signals, inlined as pure columns);
    *   2. exact dedup — keep the min-id representative per identical text
    *      ([[Dedup.exactDedup]] semantics via a per-text window, so the
    *      kept row keeps ALL its columns);
    *   3. per-(lang, source) corpus accounting of what survived.
    *
    * Scale: two shuffles total — one for the dedup window, one for the
    * final aggregation. The quality floor is narrow and runs first, so the
    * dedup shuffle only moves survivors; and the dedup key is md5(text)
    * over a SLIM projection ([[Dedup.exactDedupByHash]]'s trick), so the
    * exchange moves ~50-byte rows, never document bodies.
    */
  def curatedStats(docs: DataFrame, minTokens: Int = 20,
                   maxDigitRatio: Double = 0.2): DataFrame = {
    val digits =
      length(col("text")) - length(regexp_replace(col("text"), "[0-9]", ""))
    val passed = docs
      .withColumn("tokens", tokenCount(col("text")))
      .filter(col("tokens") >= minTokens &&
        digits.cast("double") / length(col("text")) < maxDigitRatio)
      .select(col("doc_id"), col("lang"), col("source"), col("tokens"),
        md5(col("text")).as("content_hash"))
    val w = Window.partitionBy(col("content_hash"))
    passed
      .withColumn("keeper", min(col("doc_id")).over(w))
      .filter(col("doc_id") === col("keeper"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("sum_tokens"),
        (sum(col("tokens")).cast("double") / count(lit(1))).as("avg_tokens"))
  }
}
