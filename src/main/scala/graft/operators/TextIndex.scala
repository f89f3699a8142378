package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** MAINTAINED BM25 inverted index — the retrieval family joins the
  * stored-index maintenance tier (LSH: [[Dedup.appendLshIndex]], IVF:
  * [[Similarity.appendIvfIndex]], curation: `Curation.appendCurateIndex`):
  * a manifest-committed index root that grows by pure append, forgets by
  * tombstone delete, reclaims by compaction, and serves the SAME ranking
  * as a from-scratch build at every committed version.
  *
  * Layout under the index root (all tables published through one
  * [[graft.sources.IndexCommit]] manifest; readers resolve exactly one
  * committed version):
  *
  *  - `meta` — one row (nbuckets, dlrange, fwd?, pos?): the physical-
  *    layout constants every reader and writer derives partition keys
  *    from, plus the option flags appends must maintain.
  *  - `postings` — (term, doc_id, tf), PARTITIONED BY `tb` =
  *    pmod(xxhash64(term), nbuckets). A query's terms map to known
  *    buckets, so the serving scan prunes to ≤ |query terms| of the
  *    nbuckets partitions (plan-asserted in TextIndexSpec) — at 100 TB
  *    the per-query read is O(postings of the probed buckets), never a
  *    full-index pass, and within a bucket the `term IN (...)` predicate
  *    pushes to parquet row groups. Appends only ADD part files (fresh
  *    names — untouched files are byte-identical across appends).
  *    POSITIONAL option (`writeBm25Index(..., positional = true)`): each
  *    row additionally carries `ps`, the sorted 0-based positions of the
  *    term in the doc — [[phraseTopK]] / [[nearTopK]] serve exact phrase
  *    and proximity queries from it through codegen'd sorted-merge
  *    kernels; non-positional readers declare a schema without `ps` and
  *    are untouched.
  *  - `termdf` — LSM-shaped per-term document frequencies: append-only
  *    `seg=N` delta segments (each partitioned by `tb`), summed at read.
  *    An append writes O(batch vocabulary); a delete writes a NEGATIVE
  *    delta over the dead docs' terms, so the merged view is the exact
  *    LIVE df at every version (the [[Dedup]] `bcounts` algebra). Unlike
  *    the LSH index — whose `df` stays a documented historical upper
  *    bound after deletes — BM25 forgetting is FULLY exact: df, N and
  *    total length all serve live values, so post-delete rankings equal a
  *    fresh build over the live corpus (TextIndexSpec proves it; the
  *    `text_bm25_forget` oracle hash-checks it against DuckDB).
  *    Each segment row also carries the term's score ENVELOPE over the
  *    postings it covers — (max_tf, min_dl): the term-frequency maximum
  *    and document-length minimum. Because the scaled-integer BM25
  *    contribution is monotone INCREASING in tf and DECREASING in dl,
  *    tscore(max_tf, min_dl | live df, n, tl) upper-bounds every live
  *    posting's contribution; segments merge by max/min, delete deltas
  *    carry NULL envelopes (a deletion can only SHRINK the true
  *    envelope, so the merged value stays a sound upper bound — the LSH
  *    `df`-upper-bound discipline applied to pruning statistics), and
  *    compaction folds merged values forward. [[bm25TopKPruned]] turns
  *    these bounds into MaxScore-style skipping.
  *  - `fwd` — OPT-IN (`writeBm25Index(..., forward = true)`; recorded in
  *    `meta`) forward index: (doc_id, term, tf) PARTITIONED BY `dr` =
  *    doc_id div dlrange — the same id-range scheme as `doclens`, so a
  *    bounded candidate set reads O(candidate ranges), never the table.
  *    This is the classic inverted/forward dual: term-keyed postings
  *    answer "who contains t", doc-keyed rows answer "what does d
  *    contain" — the second copy is what lets certificate-driven pruned
  *    serving finish candidates' EXACT scores without re-scanning the
  *    skipped terms' (potentially corpus-scale) posting lists.
  *  - `doclens` — (doc_id, dl), PARTITIONED BY `dr` = doc_id div dlrange
  *    (id-range partitioning, the LSH `arrays` discipline): appends with
  *    fresh increasing ids touch only the newest range(s), and delete
  *    compaction rewrites only the dead ids' ranges.
  *  - `stats` — LSM `seg=N` one-row (n, tl) deltas; deletes append the
  *    negative row. Merged at read: exact live corpus size / total length.
  *  - `tombstones` — (id, tb) rows, file-append, takedown-sized by
  *    contract. Serving anti-joins the broadcast dead-id set (planned
  *    only while tombstones exist); the stored `tb` list partition-prunes
  *    compaction's physical reclaim to the dead docs' buckets.
  *
  * Scoring is the reference-free scaled-integer BM25 of
  * `queries.TextQueries.textBm25` (k1=1.2, b=0.75 cleared to integer
  * arithmetic — see the derivation there), so every serving path
  * hash-checks against the same recompute-from-raw-docs DuckDB oracle.
  *
  * Maintenance contract: single writer per index root; doc ids are
  * non-negative and fresh on append (append-only corpus). Every writer
  * runs through [[graft.sources.StoredIndex.mutate]], so each change
  * publishes every table it touches in one manifest commit
  * (TextIndexSpec kills at injected failpoints).
  */
object TextIndex {

  import graft.sources.{IndexCommit, StoredIndex}

  /** Segment budget before [[compactBm25Index]] folds an LSM table's
    * `seg=N` deltas back to a single base (the LogStore.compact budget).
    */
  val segBudget = 8

  /** Data-file budget per postings bucket / doclens range before
    * compaction rewrites the partition to one file.
    */
  val maxFilesPerPartition = 4

  // -------------------------------------------------------------------------
  // Layout helpers
  // -------------------------------------------------------------------------

  /** Whether the index currently carries live tombstones (metadata-only
    * check — specs assert compaction retires them).
    */
  def hasTombstones(dir: String): Boolean = StoredIndex.hasTombstones(dir)

  /** Driver-side term -> bucket, bit-identical to the column expression
    * `pmod(xxhash64(term), nbuckets)` the writers use (same XxHash64
    * expression, same default seed 42) — lets the fixed-term serving
    * query push literal bucket values as partition filters without
    * running a job. TextIndexSpec pins driver==column parity.
    */
  private[graft] def termBucket(term: String, nBuckets: Int): Long = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(term),
        org.apache.spark.sql.types.StringType)), 42L)
      .eval(null).asInstanceOf[Long]
    ((h % nBuckets) + nBuckets) % nBuckets
  }

  private def tbCol(nBuckets: Int): Column =
    pmod(xxhash64(col("term")), lit(nBuckets.toLong))

  /** NAMED tokenizers — string -> token array as a column function. The
    * NAME is recorded in `meta` (a column function cannot be persisted),
    * so appends, compaction rewrites, and the route tiers' QUERY-side
    * tokenization all replay the exact tokenization the index was built
    * with — one tokenization for the whole retrieval surface, shared
    * with curation where the entry composes its expressions:
    *  - `ws`   — `split(text, ' ')` (the historical default; legacy
    *             indexes whose meta predates the column read null -> ws).
    *  - `norm` — [[Curation.normalizeText]] (control-strip -> NFC ->
    *             Unicode-whitespace collapse -> trim) then split: the
    *             curation family's normalization applied to retrieval,
    *             so "café" NFC/NFD variants and NBSP-glued tokens index
    *             (and match) identically. `text_bm25_normalized`
    *             hash-checks it against a DuckDB replay of the same
    *             normalization.
    *  - `bpe`  — the engine's own trained subword pipeline
    *             ([[Bpe]]) as a retrieval tokenization: NOT in this map
    *             (it is parameterized by a trained merge table, which a
    *             name alone cannot carry) — the merges are passed to
    *             [[writeBm25Index]], stored in the index's own
    *             `tokmerges` table, and every append / route replays
    *             them from there ([[bpeTokenizer]]). `text_bm25_bpe`
    *             hash-checks index+query tokenization against a DuckDB
    *             replay of the same trained merges.
    * Fixed-term serving entry points ([[bm25TopK]], [[phraseTopK]], ...)
    * take TOKENS, which callers must supply in the index's token space
    * (for `norm`: already-normalized terms; for `bpe`:
    * [[bpeQueryTokens]]).
    */
  val tokenizers: Map[String, Column => Column] = Map(
    "ws" -> (t => split(t, " ")),
    "norm" -> (t => split(Curation.normalizeText(t), " ")))

  /** The stored trained merge table of a `bpe` index (rank-ordered;
    * driver-sized by the nMerges training bound).
    */
  private def readBpeMerges(spark: SparkSession,
                            dir: String): Seq[Bpe.Merge] =
    // commit-keyed driver memo: the trained merge table is immutable per
    // committed version, and collecting it was one plan-time job per
    // bpe-index serve (StoredIndex.memoByCommit doc)
    StoredIndex.memoByCommit("bm25-bpe-merges", dir) {
      StoredIndex.readTable(spark, s"$dir/tokmerges",
          "rank INT, `left` STRING, `right` STRING, pairCount BIGINT")
        .collect().sortBy(_.getInt(0))
        .map(r => Bpe.Merge(r.getInt(0), r.getString(1), r.getString(2),
          r.getLong(3))).toSeq
    }

  /** Token-array column function for a trained BPE merge table: words
    * (split on space, empties dropped — [[Bpe.encodeStats]]'s word
    * filter) encode through [[Bpe.encodeWord]] with the broadcast ranks.
    * Implementation tier: the same Scala-UDF adjudication as
    * [[Bpe.encodeStats]] (the repo's one UDF family) — the per-word
    * merge loop is data-dependent iteration no builtin composes, and its
    * cost is the loop, not the UDF boundary.
    */
  private def bpeTokenizer(spark: SparkSession,
                           merges: Seq[Bpe.Merge]): Column => Column = {
    val ranks = spark.sparkContext.broadcast(
      merges.map(m => (m.left, m.right) -> m.rank).toMap)
    val tokUdf = udf { text: String =>
      text.split(" ").filter(_.nonEmpty)
        .flatMap(w => Bpe.encodeWord(w, ranks.value)).toSeq
    }
    t => tokUdf(t)
  }

  /** Query words -> the index's token space, for fixed-term serving
    * against a `bpe` index: the stored trained merges applied to each
    * word, flattened, DISTINCT (repeated subword tokens must not
    * double-count in the disjunctive sum — the [[bm25Route]]
    * dropDuplicates rule applied driver-side).
    */
  def bpeQueryTokens(spark: SparkSession, dir: String,
                     words: Seq[String]): Seq[String] = {
    val m = metaFull(spark, dir)
    require(m.tok == "bpe",
      s"bpeQueryTokens needs a bpe-tokenized index under $dir (found " +
        s"tokenizer '${m.tok}')")
    val ranks = readBpeMerges(spark, dir)
      .map(mg => (mg.left, mg.right) -> mg.rank).toMap
    words.flatMap(w => Bpe.encodeWord(w, ranks)).distinct
  }

  private case class Meta(nb: Int, dlr: Long, fwd: Boolean, pos: Boolean,
                          tok: String, impB: Int, impBs: Int, impF: Double,
                          dir: String) {
    /** The index stores an impacts table (either layout). */
    def hasImpacts: Boolean = impB > 0 || impF > 0
    /** Resolved at USE (not at meta read): the bpe branch reads the
      * stored merge table, which non-tokenizing callers never pay.
      */
    def tokenize: Column => Column =
      if (tok == "bpe") {
        val spark = org.apache.spark.sql.SparkSession.active
        bpeTokenizer(spark, readBpeMerges(spark, dir))
      } else tokenizers(tok)
  }

  /** (nbuckets, dlrange, forward?, positional?, tokenizer, impact
    * blocks/blockSize) — the option flags read null (= false / `ws` /
    * 0) on indexes built before each option existed.
    */
  private def metaFull(spark: SparkSession, dir: String): Meta =
    // commit-keyed driver memo: the meta row is immutable per committed
    // manifest version, and collecting it was one plan-time job per serve
    StoredIndex.memoByCommit("bm25-meta", dir) {
      val r = StoredIndex.readTable(spark, s"$dir/meta",
        "nbuckets INT, dlrange BIGINT, fwd BOOLEAN, pos BOOLEAN, " +
          "tok STRING, impb INT, impbs INT, impfrac DOUBLE")
        .collect()
      require(r.nonEmpty, s"no bm25 index meta under $dir")
      Meta(r.head.getInt(0), r.head.getLong(1),
        !r.head.isNullAt(2) && r.head.getBoolean(2),
        !r.head.isNullAt(3) && r.head.getBoolean(3),
        if (r.head.isNullAt(4)) "ws" else r.head.getString(4),
        if (r.head.isNullAt(5)) 0 else r.head.getInt(5),
        if (r.head.isNullAt(6)) 0 else r.head.getInt(6),
        if (r.head.isNullAt(7)) 0.0 else r.head.getDouble(7),
        dir)
    }

  private def meta(spark: SparkSession, dir: String): (Int, Long) = {
    val m = metaFull(spark, dir)
    (m.nb, m.dlr)
  }

  // All table reads go through [[graft.sources.StoredIndex.readTable]]:
  // pinned to the LATEST committed version (`asOf` None) or a SPECIFIC
  // historical one — the manifest history IS the time-travel surface
  // (TextIndexSpec + the `text_bm25_asof` oracle prove an as-of serve
  // reproduces the exact state readers saw at that commit).

  private def rawPostings(spark: SparkSession, dir: String,
                          asOf: Option[Int] = None): DataFrame =
    StoredIndex.readTable(spark, s"$dir/postings",
      "term STRING, doc_id BIGINT, tf BIGINT, tb BIGINT", asOf)

  /** Postings WITH the per-(term, doc) sorted position list — only valid
    * on a positional index (`ps` reads null otherwise).
    */
  private def rawPostingsPos(spark: SparkSession, dir: String,
                             asOf: Option[Int] = None): DataFrame =
    StoredIndex.readTable(spark, s"$dir/postings",
      "term STRING, doc_id BIGINT, tf BIGINT, ps ARRAY<INT>, tb BIGINT",
      asOf)

  private def rawDoclens(spark: SparkSession, dir: String,
                         asOf: Option[Int] = None): DataFrame =
    StoredIndex.readTable(spark, s"$dir/doclens",
      "doc_id BIGINT, dl BIGINT, dr BIGINT", asOf)

  private def rawFwd(spark: SparkSession, dir: String,
                     asOf: Option[Int] = None): DataFrame =
    StoredIndex.readTable(spark, s"$dir/fwd",
      "doc_id BIGINT, term STRING, tf BIGINT, dr BIGINT", asOf)

  private def rawImpacts(spark: SparkSession, dir: String,
                         asOf: Option[Int] = None): DataFrame =
    StoredIndex.readTable(spark, s"$dir/impacts",
      "term STRING, doc_id BIGINT, tf BIGINT, dl BIGINT, ib INT, " +
        "seg INT, tb BIGINT", asOf)

  /** The scaled-integer BM25 contribution as a SQL expression over
    * columns (tf, dl, df, n, tl). Numerator AND denominator in
    * decimal(38,0): long arithmetic wraps silently at 100 TB-scale stats
    * (tl ~ 1e12, n ~ 1e9 puts the inner denominator sum past 2^63) and
    * would diverge from the exact driver-side BigInt bounds of
    * [[prunedTopK]]'s certificate.
    */
  private val tscoreExpr: Column = expr(
    """(cast(2 * (n - df) + 1 as decimal(38,0))
      |  * 44 * tf * tl * 1000000000)
      | div (cast(2 * df + 1 as decimal(38,0))
      |  * (20 * cast(tf as decimal(38,0)) * tl
      |     + 6 * cast(tl as decimal(38,0))
      |     + 18 * cast(dl as decimal(38,0)) * n))
      |""".stripMargin)

  /** Merged LIVE document frequencies + score envelopes for the terms
    * matching `pred` — the filter applies BELOW the merge aggregation,
    * so a `tb IN (...)` predicate prunes every segment's scan to the
    * probed buckets. df sums exactly (delete deltas are negative);
    * (max_tf, min_dl) merge by max/min over non-null segment envelopes,
    * so after deletes they stay sound UPPER-bound statistics (the LSH
    * `df` historical-upper-bound discipline; null when no segment
    * carries an envelope —
    * a pre-envelope legacy index — which pruned serving treats as
    * unprunable).
    */
  private def mergedTermdf(spark: SparkSession, dir: String,
                           pred: Column,
                           asOf: Option[Int] = None): DataFrame =
    mergeTermdf(StoredIndex.readTable(spark, s"$dir/termdf", termdfDdl, asOf)
      .filter(pred))

  private val termdfDdl =
    "term STRING, df BIGINT, max_tf BIGINT, min_dl BIGINT, seg INT, tb BIGINT"

  /** The termdf LSM merge — shared by serving and the compaction fold. */
  private def mergeTermdf(segs: DataFrame): DataFrame =
    segs.groupBy("term").agg(sum(col("df")).as("df"),
        max(col("max_tf")).as("max_tf"), min(col("min_dl")).as("min_dl"))
      .filter(col("df") > 0)

  /** Merged live corpus stats (one row: n docs, total length). */
  private def mergedStats(spark: SparkSession, dir: String,
                          asOf: Option[Int] = None): DataFrame =
    mergeStats(StoredIndex.readTable(spark, s"$dir/stats", statsDdl, asOf))

  private val statsDdl = "n BIGINT, tl BIGINT, seg INT"

  private def mergeStats(segs: DataFrame): DataFrame =
    segs.agg(sum(col("n")).as("n"), sum(col("tl")).as("tl"))

  /** The served version's live corpus stats (n docs, total length) —
    * two longs, null on an empty index — collected once per commit
    * ([[StoredIndex.memoByCommit]]; the stats LSM changes only through
    * commits).
    */
  private def corpusStats(spark: SparkSession, dir: String,
                          asOf: Option[Int]): (java.lang.Long, java.lang.Long) =
    StoredIndex.memoByCommit("bm25-stats", dir, asOf) {
      val r = mergedStats(spark, dir, asOf).collect().head
      (r.getAs[java.lang.Long](0), r.getAs[java.lang.Long](1))
    }

  /** `df` with the corpus stats as literal `n` / `tl` columns for
    * [[tscoreExpr]] — no stats scan, shuffle or broadcast in the plan.
    */
  private def withCorpusStats(spark: SparkSession, dir: String,
                              asOf: Option[Int], df: DataFrame): DataFrame = {
    val (n, tl) = corpusStats(spark, dir, asOf)
    df.withColumn("n", lit(n).cast("bigint"))
      .withColumn("tl", lit(tl).cast("bigint"))
  }

  /** Anti-join `idCol` against the served version's tombstone set
    * (`distinct = true`: the BM25 tombstone table carries one (id, tb)
    * row per dead doc's bucket); the no-tombstones common case returns
    * the plan untouched.
    */
  private def antiDead(spark: SparkSession, dir: String,
                       df: DataFrame, idCol: String,
                       asOf: Option[Int] = None): DataFrame =
    StoredIndex.antiTombstoned(spark, dir, "bm25-tombstones", df, idCol,
      asOf, distinct = true)

  /** Tokenized batch: (doc_id, toks). One shared shape for every writer. */
  private def tokenized(docs: DataFrame,
                        tok: Column => Column): DataFrame =
    docs.select(col("doc_id").cast("long").as("doc_id"),
      tok(col("text")).as("toks"))

  private def postingsOf(tok: DataFrame, nBuckets: Int,
                         positional: Boolean = false): DataFrame =
    (if (positional)
      // 0-based token positions, sorted ascending per (term, doc) — the
      // phrase/proximity kernels' input contract
      tok.select(col("doc_id"), posexplode(col("toks")).as(Seq("p", "term")))
        .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"),
          sort_array(collect_list(col("p"))).as("ps"))
    else
      tok.select(col("doc_id"), explode(col("toks")).as("term"))
        .groupBy("term", "doc_id").agg(count(lit(1)).as("tf")))
      .withColumn("tb", tbCol(nBuckets))

  private def doclensOf(tok: DataFrame, dlRange: Long): DataFrame =
    tok.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
      .withColumn("dr", expr(s"doc_id div ${dlRange}L"))

  /** One `termdf` delta segment over a batch: per-(term, tb) df plus the
    * batch's score envelope (max tf, min dl) — O(batch vocabulary) rows.
    */
  private def termStatsOf(post: DataFrame, dls: DataFrame): DataFrame =
    post.join(dls.select("doc_id", "dl"), Seq("doc_id"))
      .groupBy("term", "tb").agg(count(lit(1)).as("df"),
        max(col("tf")).as("max_tf"), min(col("dl")).as("min_dl"))

  /** [[termStatsOf]] with the per-doc lengths derived from the postings
    * batch itself (dl = sum tf — [[doclensFromPostings]]' rule restricted
    * to docs that HAVE postings, the only docs a term row can join, so
    * the stats are identical): lets the termdf write run concurrently
    * with the doclens write instead of consuming its read-back (r19 —
    * the doclens round-trip left termdf's critical path).
    */
  private def termStatsOfPost(post: DataFrame): DataFrame =
    termStatsOf(post,
      post.groupBy("doc_id").agg(sum(col("tf")).as("dl")))

  /** The forward rows of a batch: (doc_id, term, tf, dr). */
  private def fwdOf(post: DataFrame, dlRange: Long): DataFrame =
    post.select(col("doc_id"), col("term"), col("tf"))
      .withColumn("dr", expr(s"doc_id div ${dlRange}L"))

  /** One `impacts` LSM segment over a batch: per term, the HEAD
    * `maxBlocks * blockSize` postings by IMPACT — the term's BM25
    * contribution under the batch's own (df, n, tl) — blocked into `ib`
    * = 0.. impact-rank blocks of `blockSize`. This is the stored form of
    * impact ordering (Anh & Moffat's impact-sorted lists / the ordering
    * Block-Max skipping exploits): [[bm25TopKWand]] reads only blocks
    * `ib < budget`, so its per-term read is BUDGET-bounded — independent
    * of the term's df, hence of corpus size — where even certificate-
    * pruned exact serving still pays the essential terms' full lists.
    *
    * The ordering key is heuristic BY DESIGN (batch stats stand in for
    * the live corpus stats a future serve will score under; the tier is
    * recall-asserted, never oracle-hashed), but (tf, dl)-monotone like
    * the true contribution, so a segment's head blocks are the segment's
    * plausible top scorers. The head cut runs through the bounded-heap
    * [[graft.plans.TopKPerGroup]] (no full per-term sort); the residual
    * row_number window then ranks ≤ maxBlocks*blockSize rows per term.
    * tf AND dl are stored inline so budgeted serving scores without
    * doclens joins: the whole serve is one narrow budget-pruned scan.
    *
    * MEASURED RECALL LAW (r16, WANDRECALL_r16.json — size the knobs by
    * it): budgeted truncation reads budget x blockSize postings per
    * term per segment while a head term's df grows with the corpus, so
    * recall@10 vs the exact tier tracks the COVERAGE/df fraction — on
    * the Zipf fixture at budget 2 / blockSize 64 it is 1.000 at 500
    * docs but 0.718 at 50k and 0.378 at 500k; at 500k, blockSize 512 x
    * budget 4 recovers 0.593 (bytes scale with blockSize, still far
    * below the exact tier's full lists — SCALING_r16 time exponent
    * 0.052 vs exact 0.390). A FIXED-block layout is therefore an
    * APPROXIMATE-FEED shape (dedup candidates, recommendation drafts,
    * first-pass filters) whose coverage must be provisioned against
    * expected df; precision-critical top-k serving belongs to the exact
    * tiers ([[bm25Route]], [[bm25RoutePruned]] certificates).
    *
    * THE RECALL-BOUNDED LAYOUT (r17, the measured law applied): with
    * `fraction > 0` the per-term head is DF-PROPORTIONAL —
    * max(blockSize, ceil(df x fraction)) postings per term per segment
    * — so the coverage fraction, and by the measured law the recall,
    * is CONSTANT IN CORPUS SIZE by construction (rare terms with
    * df <= blockSize keep their whole list). Serving reads the whole
    * stored head (the head IS the provisioned coverage — the `budget`
    * knob is a fixed-layout concept), paying `fraction` of the exact
    * tier's posting bytes per query instead of all of them. Appends
    * keep the fraction monotone: each segment's head is cut at
    * fraction x its OWN df, and sum(ceil(df_seg x f)) >=
    * ceil(sum(df_seg) x f), the same envelope-merge argument as
    * termdf. Write-time cost of the fraction cut is one per-term
    * row_number window (a (term)-clustered sort — the exchange class
    * the postings build already pays; a bounded heap cannot take the
    * per-group k this cut needs).
    */
  private def impactsOf(post: DataFrame, dls: DataFrame,
                        maxBlocks: Int, blockSize: Int,
                        fraction: Double = 0.0): DataFrame = {
    val dfreq = post.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = dls.agg(count(lit(1)).as("n"), sum(col("dl")).as("tl"))
    val scored = post.select("term", "doc_id", "tf", "tb")
      .join(dls.select("doc_id", "dl"), Seq("doc_id"))
      .join(dfreq, Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("imp", tscoreExpr)
    val w = Window.partitionBy(col("term"))
      .orderBy(col("imp").desc, col("doc_id"))
    val ranked =
      if (fraction > 0)
        // df-proportional head: the per-group cut size varies by term,
        // so the rank comes straight from the window (spill-safe SortExec)
        scored.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= greatest(lit(blockSize.toLong),
            ceil(col("df") * fraction).cast("long")))
      else {
        // fixed head: bounded-heap pre-cut, then the residual window
        // ranks <= maxBlocks*blockSize rows per term
        val cut = graft.plans.TopKPerGroup(scored, Seq("term"),
          Seq("imp" -> false, "doc_id" -> true), maxBlocks * blockSize)
        cut.withColumn("rn", row_number().over(w))
      }
    ranked
      .withColumn("ib", expr(s"cast((rn - 1) div $blockSize as int)"))
      .select("term", "doc_id", "tf", "dl", "ib", "tb")
  }

  /** Impacts layout: one file per bucket (the [[StoredIndex.writeByPart]]
    * listing discipline), rows SORTED by (term, ib) within it — at the
    * 100 TB multi-row-group layout the serve's `ib < budget` predicate
    * then prunes row groups by min/max stats, so skipped blocks are
    * never read.
    */
  private def writeImpacts(imp: DataFrame, path: String): Unit =
    imp.repartition(col("tb")).sortWithinPartitions(col("term"), col("ib"))
      .write.partitionBy("tb").mode("overwrite").parquet(path)

  // one file per partition value — see the shared scaladoc
  private def writeByPart(df: DataFrame, part: String, path: String): Unit =
    StoredIndex.writeByPart(df, part, path)

  // -------------------------------------------------------------------------
  // Build / append / delete / compact
  // -------------------------------------------------------------------------

  /** Build the index from scratch over `docs` (doc_id, text) and publish
    * manifest version 0. `forward = true` additionally writes the
    * doc-range-partitioned `fwd` table (and records it in `meta`, so
    * appends and compactions maintain it) — the prerequisite for
    * [[bm25TopKPruned]] / [[bm25RoutePruned]].
    *
    * IMPACT LAYOUT CHOICE (r18 default steer): a NEW impact-enabled
    * index should use `impactFraction` (the df-proportional head —
    * recall pinned at any corpus size: 0.933/0.940/0.941 recall@10
    * across 5k/50k/500k docs at fraction 0.2, WANDRECALL_r17; storage
    * ~fraction of the full lists) unless the corpus is bounded and the
    * serving budget is the binding constraint — `impactBlocks` (the
    * fixed head) caps bytes/decision at a CONSTANT but its recall
    * measurably decays as df outgrows the head (1.000 -> 0.378 across
    * the same decades, SCALING_r17); it exists for budget-capped
    * serving paired with the [[bm25RouteWand]] `minCoverage`
    * escalation router.
    */
  def writeBm25Index(docs: DataFrame, dir: String, nBuckets: Int = 16,
                     dlRange: Long = 256L, forward: Boolean = false,
                     positional: Boolean = false,
                     tokenizer: String = "ws",
                     bpeMerges: Seq[Bpe.Merge] = Nil,
                     impactBlocks: Int = 0,
                     impactBlockSize: Int = 64,
                     impactFraction: Double = 0.0): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(tokenizers.contains(tokenizer) || tokenizer == "bpe",
      s"unknown tokenizer '$tokenizer' (known: " +
        s"${(tokenizers.keys.toSeq :+ "bpe").mkString(", ")})")
    require(tokenizer != "bpe" || bpeMerges.nonEmpty,
      "the bpe tokenizer needs its trained merge table (bpeMerges)")
    require(impactFraction >= 0.0 && impactFraction <= 1.0,
      s"impactFraction must be in [0, 1] (got $impactFraction)")
    require(impactFraction == 0.0 || impactBlocks == 0,
      "impactBlocks (fixed head) and impactFraction (df-proportional " +
        "head) are alternative impact layouts — set exactly one")
    IndexCommit.deleteTree(java.nio.file.Paths.get(dir))
    Seq((nBuckets, dlRange, forward, positional, tokenizer,
        impactBlocks, impactBlockSize, impactFraction))
      .toDF("nbuckets", "dlrange", "fwd", "pos", "tok", "impb", "impbs",
        "impfrac")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    // the trained merges are INDEX STATE (the tokenization every append
    // and route must replay), so they live in the index, not a caller dir
    if (tokenizer == "bpe")
      Bpe.mergeTable(spark, bpeMerges)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/tokmerges")
    val tokFn = if (tokenizer == "bpe") bpeTokenizer(spark, bpeMerges)
                else tokenizers(tokenizer)
    // OPTIMIZATION r18 (guide §1.2/§5): the build fans one tokenized pass
    // into up to six write actions (postings, termdf, doclens, fwd,
    // impacts, stats). Without a materialization boundary each action
    // re-runs the tokenize + explode + groupBy chain from the raw text —
    // the whole build cost times the consumer count (the BPE tokenizer's
    // per-word merge loop made that family the worst). Tokenize + the
    // postings shuffle now run ONCE: every later table derives from a
    // READ-BACK of the postings/doclens parquet just written — the
    // scale-safe materialization (columnar, compressed, zero executor
    // memory held; a .persist of the tokenized arrays was measured
    // SLOWER on the bench box — corpus-sized object arrays in the
    // memory store are exactly what its SerialGC punishes).
    writeByPart(postingsOf(tokenized(docs, tokFn), nBuckets, positional),
      "tb", s"$dir/postings")
    val post = StoredIndex.readDirTable(spark, s"$dir/postings",
      postingsDdl(positional))
    // everything below derives ONLY from the immutable postings read-back
    // (termdf — and fwd — directly; doclens, then impacts/stats off the
    // doclens read-back) and writes disjoint directories — concurrent
    // jobs (guide §2.6) so the build's stage fan costs ~max, not Σ.
    // r19: the doclens write left the critical path of termdf/fwd — they
    // never consume it, so the doclens→{impacts, stats} CHAIN runs as one
    // parallel branch beside them instead of gating the whole fan.
    def dlsChain(): Unit = {
      writeByPart(doclensFromPostings(docs, post, dlRange), "dr",
        s"$dir/doclens")
      val dls = StoredIndex.readDirTable(spark, s"$dir/doclens",
        "doc_id BIGINT, dl BIGINT, dr BIGINT")
      StoredIndex.parallelStages(
        (if (impactBlocks > 0 || impactFraction > 0)
           Seq(() => writeImpacts(impactsOf(post, dls, impactBlocks,
             impactBlockSize, impactFraction), s"$dir/impacts/seg=0"))
         else Nil)
        ++ Seq(() => dls.agg(count(lit(1)).as("n"), sum(col("dl")).as("tl"))
             .coalesce(1).write.mode("overwrite").parquet(s"$dir/stats/seg=0")))
    }
    StoredIndex.parallelStages(Seq(
      () => dlsChain(),
      () => writeByPart(termStatsOfPost(post), "tb", s"$dir/termdf/seg=0"))
      ++ (if (forward)
            Seq(() => writeByPart(fwdOf(post, dlRange), "dr", s"$dir/fwd"))
          else Nil))
    IndexCommit.commitFiles(dir, IndexCommit.walkDataFiles(dir))
  }

  /** Declared schema of a postings read-back (build/append staging). */
  private def postingsDdl(positional: Boolean): String =
    if (positional)
      "term STRING, doc_id BIGINT, tf BIGINT, ps ARRAY<INT>, tb BIGINT"
    else "term STRING, doc_id BIGINT, tf BIGINT, tb BIGINT"

  /** Doclens derived from the just-written postings instead of a second
    * tokenize pass: a doc's length is EXACTLY the sum of its term
    * frequencies (postingsOf explodes every token), and docs that
    * produced no postings row (empty token array) re-enter with dl = 0
    * via a left join from the column-pruned id scan — no text read, no
    * tokenizer re-run.
    */
  private def doclensFromPostings(docs: DataFrame, post: DataFrame,
                                  dlRange: Long): DataFrame =
    docs.select(col("doc_id").cast("long").as("doc_id"))
      .join(post.groupBy("doc_id").agg(sum(col("tf")).as("dl")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("dl"), lit(0L)).as("dl"))
      .withColumn("dr", expr(s"doc_id div ${dlRange}L"))

  /** INCREMENTAL growth: index a new batch and append — no existing row
    * rewrites anywhere (postings/doclens gain part files, the LSMs gain
    * one delta segment each), so an append-grown index is CONTENT-equal
    * to a rebuild over the union and untouched files are byte-identical
    * (TextIndexSpec). Per-append compute: O(batch tokens). The whole
    * append (postings + termdf delta + doclens + stats delta) publishes
    * in ONE manifest commit.
    *
    * Precondition: `newDocs` ids are fresh (append-only corpus).
    */
  def appendBm25Index(newDocs: DataFrame, dir: String): Unit =
    StoredIndex.mutate(dir, "bm25") { t =>
      val spark = newDocs.sparkSession
      val m = metaFull(spark, dir)
      // same materialization discipline as the build (see writeBm25Index):
      // tokenize once, then every later stage table derives from a
      // read-back of the staged postings/doclens parquet instead of
      // re-running the tokenize + explode + groupBy chain
      writeByPart(postingsOf(tokenized(newDocs, m.tokenize), m.nb, m.pos),
        "tb", t.stage("postings"))
      val post = StoredIndex.readDirTable(spark, t.stage("postings"),
        postingsDdl(m.pos))
      // independent stage-table writes from the immutable postings
      // read-back — concurrent jobs, same fan as the build (guide §2.6):
      // termdf/fwd derive from postings alone, so the doclens write and its
      // dependents (impacts, stats) run as one parallel branch beside them
      // (the r19 build restructure). An impacts segment is segment-local
      // impact order: serving reads every segment's head, compaction
      // re-blocks globally.
      def dlsChain(): Unit = {
        writeByPart(doclensFromPostings(newDocs, post, m.dlr), "dr",
          t.stage("doclens"))
        val dls = StoredIndex.readDirTable(spark, t.stage("doclens"),
          "doc_id BIGINT, dl BIGINT, dr BIGINT")
        StoredIndex.parallelStages(
          (if (m.hasImpacts)
             Seq(() => writeImpacts(impactsOf(post, dls, m.impB, m.impBs,
               m.impF), t.stage("impacts")))
           else Nil)
          ++ Seq(() => dls.agg(count(lit(1)).as("n"), sum(col("dl")).as("tl"))
               .coalesce(1).write.mode("overwrite").parquet(t.stage("stats"))))
      }
      StoredIndex.parallelStages(Seq(
        () => dlsChain(),
        () => writeByPart(termStatsOfPost(post), "tb", t.stage("termdf")))
        ++ (if (m.fwd)
              Seq(() => writeByPart(fwdOf(post, m.dlr), "dr", t.stage("fwd")))
            else Nil))
      IndexCommit.hit("bm25-staged")
      t.moveIn("postings", "postings")
      t.moveToNextSeg("termdf", "termdf", "seg=")
      t.moveIn("doclens", "doclens")
      if (m.fwd) t.moveIn("fwd", "fwd")
      if (m.hasImpacts) t.moveToNextSeg("impacts", "impacts", "seg=")
      t.moveToNextSeg("stats", "stats", "seg=")
    }

  /** TOMBSTONE-DELETE docs — the FORGET half, and for BM25 an EXACT one:
    * alongside the (id, tb) tombstones (serving hides the dead ids; the
    * stored bucket list partition-prunes compaction), the SAME commit
    * appends a negative `termdf` delta over the dead docs' terms and a
    * negative `stats` row — so the merged df/n/tl are the LIVE corpus
    * values and post-delete rankings equal a fresh build over the live
    * docs (no historical-upper-bound caveat). O(delete set) new data;
    * the dead docs' (term, tb) lookup is one column-pruned postings read.
    * Idempotent (already-dead and absent ids are no-ops); crash-atomic.
    * Physical rows leave in [[compactBm25Index]] (DELETE-then-COMPACT).
    *
    * Returns the number of NEWLY tombstoned docs.
    */
  def deleteFromBm25Index(ids: DataFrame, dir: String,
                          idCol: String = "doc_id"): Long =
    StoredIndex.mutate(dir, "bm25-del") { t =>
      val spark = ids.sparkSession
      // newly dead = requested ∩ indexed (doclens is the membership table:
      // every ingested doc has exactly one row) − already tombstoned
      val dead = ids.select(col(idCol).cast("long").as("id")).distinct()
        .join(StoredIndex.readTable(spark, s"$dir/tombstones", "id BIGINT"),
          Seq("id"), "left_anti")
        .join(rawDoclens(spark, dir).select(col("doc_id").as("id"), col("dl")),
          Seq("id"))
      val deadPost = rawPostings(spark, dir)
        .join(dead.select(col("id").as("doc_id")), Seq("doc_id"))
      // (id, tb) rows — tb null for a doc with no postings (empty text)
      dead.select("id")
        .join(deadPost.select(col("doc_id").as("id"), col("tb")).distinct(),
          Seq("id"), "left")
        .coalesce(1).write.mode("overwrite").parquet(t.stage("tombstones"))
      val nDead = StoredIndex.readDirTable(spark, t.stage("tombstones"),
        "id BIGINT, tb BIGINT").select("id").distinct().count()
      if (nDead > 0) {
        // NULL envelope on the negative delta: a delete can only SHRINK a
        // term's true (max_tf, min_dl), so leaving the merged envelope
        // untouched keeps it a sound (historical) upper bound
        writeByPart(
          deadPost.groupBy("term", "tb").agg((-count(lit(1))).as("df"),
            lit(null).cast("long").as("max_tf"),
            lit(null).cast("long").as("min_dl")),
          "tb", t.stage("termdf"))
        dead.agg((-count(lit(1))).as("n"), (-sum(col("dl"))).as("tl"))
          .coalesce(1).write.mode("overwrite").parquet(t.stage("stats"))
        IndexCommit.hit("bm25-del-staged")
        t.moveIn("tombstones", "tombstones")
        t.moveToNextSeg("termdf", "termdf", "seg=")
        t.moveToNextSeg("stats", "stats", "seg=")
      }
      nDead
    }

  /** Physical maintenance: fold tombstones (rewrite ONLY the dead docs'
    * postings buckets and doclens ranges — partition-pruned via the
    * stored tombstone `tb` list and the id-range arithmetic — then retire
    * the tombstones, so served plans lose the anti-join), fold LSM tables
    * past [[segBudget]] segments to one base, and rewrite any partition
    * holding more than [[maxFilesPerPartition]] data files to one file.
    * Idempotent when nothing is over budget. Returns the number of
    * rewritten partitions.
    */
  def compactBm25Index(spark: SparkSession, dir: String,
                       maxFiles: Int = maxFilesPerPartition): Int =
    StoredIndex.mutate(dir, "bm25-compact") { t =>
      val m = metaFull(spark, dir)
      val hasDead = StoredIndex.hasTombstones(dir)
      // dead bucket / range keys, driver-bounded by the takedown-sized
      // tombstone set
      val (deadTbs, deadDrs) =
        if (!hasDead) (Seq.empty[Long], Seq.empty[Long])
        else {
          val ts = StoredIndex.readTable(spark, s"$dir/tombstones",
            "id BIGINT, tb BIGINT")
          (ts.filter(col("tb").isNotNull).select("tb").distinct()
              .collect().map(_.getLong(0)).toSeq,
            ts.select(expr(s"id div ${m.dlr}L").as("dr")).distinct()
              .collect().map(_.getLong(0)).toSeq)
        }
      val dead = Option.when(hasDead)(StoredIndex.tombstoneIds(spark, dir,
        "bm25-tombstones", distinct = true))
      def rewrite(table: String, ddl: String, part: String,
                  keys: Seq[Long]): Int =
        StoredIndex.rewriteParts(t, table, ddl, Some(part), keys, maxFiles,
          dead, "doc_id")
      // a positional index's rewrite carries the `ps` column forward
      var rewritten =
        rewrite("postings", postingsDdl(m.pos), "tb", deadTbs) +
          rewrite("doclens", "doc_id BIGINT, dl BIGINT, dr BIGINT", "dr",
            deadDrs) +
          rewrite("fwd", "doc_id BIGINT, term STRING, tf BIGINT, dr BIGINT",
            "dr", deadDrs)
      // LSM folds: segment count over budget -> one merged base segment.
      // The vocabulary-sized termdf fold is metadata-scale next to postings.
      if (StoredIndex.foldLsm(t, "termdf", termdfDdl, "seg=", segBudget,
            Some("tb"), toBase = true)(
            segs => mergeTermdf(segs).withColumn("tb", tbCol(m.nb))) > 0)
        rewritten += 1
      if (StoredIndex.foldLsm(t, "stats", statsDdl, "seg=", segBudget,
            toBase = true)(segs => mergeStats(segs).coalesce(1)) > 0)
        rewritten += 1
      // impacts fold: recompute GLOBAL impact blocks from the live
      // postings + doclens — on live tombstones this is mandatory, not an
      // optimization (the tombstones retire below, so dead rows must
      // physically leave every serving table in the same commit); past the
      // segment budget it also upgrades the per-append segment-local
      // orderings to one corpus-wide ordering. One postings-scale pass —
      // the same order of work as the dead-bucket postings rewrite above.
      if (m.hasImpacts &&
          (hasDead || StoredIndex.segCount(t, "impacts", "seg=") > segBudget)) {
        val livePost = antiDead(spark, dir, rawPostings(spark, dir), "doc_id")
        val liveDls = antiDead(spark, dir, rawDoclens(spark, dir), "doc_id")
        writeImpacts(impactsOf(livePost, liveDls, m.impB, m.impBs, m.impF),
          t.stage("impacts"))
        t.retireUnder("impacts")
        t.moveIn("impacts", "impacts/seg=0")
        rewritten += 1
      }
      if (hasDead) t.retireUnder("tombstones")
      rewritten
    }

  /** NIGHTLY-OPS policy entry point (the decision loop as code, not a
    * caller's judgment call): inspect the committed state and run the
    * indicated physical maintenance — [[compactBm25Index]] already
    * self-inspects tombstones, LSM segment budgets and overfull
    * partitions, so the policy here IS that sweep, reported as an audit
    * row. Idempotent: a second run finds nothing over budget and reports
    * `noop`. Crash-safe by inheritance.
    */
  def maintainBm25Index(spark: SparkSession, dir: String,
                        maxFiles: Int = maxFilesPerPartition)
      : graft.sources.Maintenance = {
    val n = compactBm25Index(spark, dir, maxFiles)
    graft.sources.Maintenance("bm25", if (n > 0) "compact" else "noop", n)
  }

  // -------------------------------------------------------------------------
  // Serving
  // -------------------------------------------------------------------------

  /** Scored candidates for a (qid, term) probe frame against the served
    * index: (qid, doc_id, term, tf, tscore). `wantedTb` is the probed
    * bucket set, pushed as a PARTITION filter onto every postings /
    * termdf segment scan.
    */
  private def scoredTerms(spark: SparkSession, dir: String,
                          probes: DataFrame, wantedTb: Seq[Long],
                          terms: Option[Seq[String]],
                          asOf: Option[Int] = None): DataFrame = {
    val post0 = rawPostings(spark, dir, asOf)
      .filter(col("tb").isin(wantedTb: _*))
    val post = antiDead(spark, dir,
      terms.map(ts => post0.filter(col("term").isin(ts: _*))).getOrElse(post0),
      "doc_id", asOf)
    val dfPred = terms match {
      case Some(ts) => col("tb").isin(wantedTb: _*) && col("term").isin(ts: _*)
      case None => col("tb").isin(wantedTb: _*)
    }
    val dfreq = mergedTermdf(spark, dir, dfPred, asOf)
    val dl = rawDoclens(spark, dir, asOf).select("doc_id", "dl")
    withCorpusStats(spark, dir, asOf, probes.join(post, Seq("term"))
        .join(dfreq, Seq("term"))
        .join(dl, Seq("doc_id")))
      .withColumn("tscore", tscoreExpr)
      .select("qid", "doc_id", "term", "tf", "tscore")
  }

  /** Fixed-term top-k over the served index — the batch serving query
    * (`text_bm25_maintained` / `text_bm25_forget`): identical output
    * shape to `TextQueries.textBm25Indexed` (doc_id, score, one
    * `tf_<term>` column per query term), so every maintained-index state
    * hash-checks against the same recompute-from-raw-docs oracle. The
    * term buckets are computed driver-side ([[termBucket]]) and pushed as
    * literal partition filters — no job runs to plan the pruning.
    * `asOf` serves a HISTORICAL committed version instead of the latest
    * ([[graft.sources.StoredIndex.readTable]] — audits and reproducible reruns over the
    * manifest history; `text_bm25_asof` hash-checks version 0 of the
    * append chain against the oracle over the base corpus slice).
    */
  def bm25TopK(spark: SparkSession, dir: String, terms: Seq[String],
               k: Int = 20, asOf: Option[Int] = None): DataFrame = {
    val (nb, _) = meta(spark, dir)
    val wanted = terms.map(termBucket(_, nb)).distinct
    val probes = spark.createDataFrame(terms.map(tm => (0L, tm)))
      .toDF("qid", "term")
    val aggs = sum(col("tscore")).as("score") +:
      terms.map(tm => max(when(col("term") === tm, col("tf"))).as(s"tf_$tm"))
    val top = scoredTerms(spark, dir, probes, wanted, Some(terms), asOf)
      .groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
    // the postings path only surfaces docs holding >= 1 query term, while
    // the shared oracle ranks ALL docs (score-0 ties by doc_id): agreement
    // needs >= k candidates — fail loudly, not as a hash mismatch. Fewer
    // than k candidates iff fewer than k rows survive the limit, so the
    // guard counts the <= k top rows: one window over the single-partition
    // top-k output, which keeps its order.
    top.withColumn("nc", count(lit(1)).over(Window.partitionBy()))
      .select((col("doc_id") +:
        when(assert_true(col("nc") >= k,
            lit(s"bm25TopK: fewer than $k docs match any query term — " +
              "the postings path no longer covers the all-docs oracle " +
              "ranking")).isNull,
          col("score")).as("score") +:
        terms.map(tm => coalesce(col(s"tf_$tm"), lit(0L)).as(s"tf_$tm"))): _*)
  }

  /** Streaming retrieval route — the [[Similarity.annRoute]] analog for
    * text: each ARRIVING query string retrieves its top-k BM25 docs from
    * the standing index. Per micro-batch: in-row tokenize + explode, ONE
    * bounded driver collect of the batch's probed buckets (≤ nbuckets
    * values regardless of batch size) pushed as partition filters, one
    * stream-static equi-join on (term) against the pruned postings, and
    * the bounded-heap top-k per query. No state store, no corpus scan;
    * run under `foreachBatch` like the other route operators.
    * Query-side term repeats are ignored (standard short-query BM25, and
    * the batch query's semantics). Returns (qid, rank, doc_id, score).
    *
    * DRIVER-WORK CONTRACT (nbuckets vs batch size): the one collect per
    * micro-batch returns the batch's PROBED (term, bucket) set — bounded
    * by the batch's distinct-term vocabulary, never by batch row count or
    * index size. At the 100 TB setting nbuckets is in the thousands (so
    * each bucket's postings stay row-group-sized) and the collect is
    * still metadata-sized: a 10k-query batch of 3-term queries probes
    * <= 30k terms worst case, a few hundred KB; the bucket set pushes as
    * a `tb IN (...)` PARTITION filter (TextIndexSpec asserts the pruning
    * at nbuckets = 1024) and — when `termPushdownCap` > 0 and the batch
    * vocabulary is under it — the term set pushes as a DATA filter too,
    * for row-group stats/dictionary pruning where postings files carry
    * many row groups (the 100 TB layout). Default OFF: measured on the
    * single-row-group local fixtures, the per-row string-set filter costs
    * more than it saves (375 -> 305 decisions/s on the 50k-doc Zipf
    * corpus) because the equi-join already discards non-query terms; the
    * knob exists for deployments whose scan actually prunes. Batches
    * whose vocabulary exceeds the cap fall back to the correct
    * full-disjunction scan — the cap bounds the pushed literal list, not
    * correctness.
    */
  def bm25Route(queries: DataFrame, indexDir: String, k: Int = 20,
                idCol: String = "qid", textCol: String = "qtext",
                termPushdownCap: Int = 0,
                asOf: Option[Int] = None): DataFrame = {
    val spark = queries.sparkSession
    val m0 = metaFull(spark, indexDir)
    val nb = m0.nb
    // query text tokenizes through the INDEX's recorded tokenizer, so a
    // normalized index matches normalized query terms by construction
    val probes = queries.select(col(idCol).cast("long").as("qid"),
        explode(m0.tokenize(col(textCol))).as("term"))
      .dropDuplicates("qid", "term")
    val probed = probes
      .select(col("term"), tbCol(nb).as("tb")).distinct()
      .collect()
    val wanted = probed.map(_.getLong(1)).distinct.toSeq
    val batchTerms =
      if (termPushdownCap > 0 && probed.length <= termPushdownCap)
        Some(probed.map(_.getString(0)).distinct.toSeq)
      else None
    val scored = scoredTerms(spark, indexDir, probes, wanted, batchTerms,
        asOf)
      .groupBy("qid", "doc_id").agg(sum(col("tscore")).as("score"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("doc_id"))
    graft.plans.TopKPerGroup(scored, Seq("qid"),
        Seq("score" -> false, "doc_id" -> true), k)
      .withColumn("rank", row_number().over(w))
      .select("qid", "rank", "doc_id", "score")
  }

  // -------------------------------------------------------------------------
  // Pruned (MaxScore-style) serving — certificate-driven term skipping
  // -------------------------------------------------------------------------

  /** CERTIFICATE-DRIVEN pruned top-k — the set-at-a-time MaxScore: serve
    * the EXACT disjunctive ranking while reading only the high-impact
    * ("essential") terms' posting lists, with the skipped terms' stored
    * score envelopes proving nothing outside the candidate set can reach
    * the top k.
    *
    * Per round r (over the still-uncertified queries):
    *  1. ESSENTIAL terms = each query's r highest-upper-bound terms
    *     (ub = tscore at the term's (max_tf, min_dl) envelope under the
    *     LIVE df/n/tl — with the scaled-integer idf ~ n/df, rare terms
    *     bound far above common ones, so round 1 usually keeps only the
    *     rarest term's SHORT posting list and skips the corpus-scale
    *     common lists entirely).
    *  2. CANDIDATES = docs holding >= 1 essential term — read from the
    *     postings table pruned to the essential terms' buckets.
    *  3. EXACT scores for all candidates from the FORWARD table (their
    *     doc ranges partition-prune the read): a candidate's fwd rows
    *     carry its tf for EVERY query term, including the skipped ones,
    *     so candidate scores are complete without touching the skipped
    *     posting lists.
    *  4. CERTIFICATE per query: the k-th best exact candidate score must
    *     STRICTLY exceed Σ ub over the skipped terms — any non-candidate
    *     matches only skipped terms, so its score is <= that sum (and
    *     strictness covers the doc_id tie-break). Certified queries emit;
    *     the rest escalate (one more essential term). When every term is
    *     essential the certificate is vacuous and the result is the plain
    *     full-disjunction ranking — pruning NEVER costs correctness, only
    *     the envelope-quality-dependent speedup (on a df-skewed Zipf
    *     vocabulary round 1 certifies; on the degenerate uniform-df
    *     fixture it escalates).
    *
    * Each query STARTS at r0 = the smallest essential-prefix size whose
    * cumulative df reaches k: fewer candidates than k can never certify
    * (nc === k is required), so smaller essential sets are provably
    * wasted rounds — a query whose total df is below k jumps straight to
    * the vacuous full-disjunction terminal.
    *
    * DRIVER-WORK CONTRACT (the [[bm25Route]] discipline): ONE up-front
    * collect of the batch's (query, term) pairs joined to their merged
    * term stats — O(batch query-terms) rows, the same order as the
    * arrival batch itself — after which every essential-set, skipped-
    * bound and escalation decision is driver-side BigInt arithmetic on
    * that table (no per-round planning of window chains, no per-round
    * verdict joins). Per round only two jobs run: the capped collect of
    * candidate doc RANGES (`drCap`; over the cap the fwd/doclens scans
    * fall back to unpruned — the joins still row-filter, so the cap
    * bounds driver metadata, not correctness) fused with the candidate
    * materialization, and the per-query (count, k-th score) collect off
    * the localCheckpoint-ed `top` frame (<= k rows per pending query —
    * the checkpoint also cuts the cross-round lineage that would
    * otherwise replay every earlier round's candidate pipeline). The
    * 2-long corpus stats inline as literals into the scoring expression.
    *
    * Returns (qid, rank, doc_id, score, tfmap) — tfmap is the per-doc
    * query-term tf map the fixed-term wrapper surfaces as tf_* columns.
    */
  private def prunedTopK(spark: SparkSession, dir: String,
                         probes0: DataFrame, k: Int,
                         asOf: Option[Int], drCap: Int): DataFrame = {
    import spark.implicits._
    val m0 = metaFull(spark, dir)
    val (nb, dlr, hasFwd) = (m0.nb, m0.dlr, m0.fwd)
    require(hasFwd,
      s"pruned bm25 serving needs a forward-enabled index under $dir " +
        "(writeBm25Index(..., forward = true))")
    // bounded collect #1: the batch's distinct (qid, term) pairs
    val pairs = probes0.dropDuplicates("qid", "term")
      .select(col("qid").cast("long"), col("term")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val termTb: Map[String, Long] =
      pairs.map(_._2).distinct.map(t => t -> termBucket(t, nb)).toMap
    val allTb = termTb.values.toSeq.distinct
    // live corpus stats (2 longs) — inlined as literals below
    val (n0, tl0) = corpusStats(spark, dir, asOf)
    val (cn, ctl) = (n0.longValue, tl0.longValue)
    // bounded collect #2: merged live (df, envelope) for the batch
    // vocabulary — term-bucket-pruned, O(batch vocabulary) rows
    val termStats: Map[String, (Long, Option[Long], Option[Long])] =
      mergedTermdf(spark, dir, col("tb").isin(allTb: _*), asOf)
        .collect().map(r => r.getString(0) -> ((r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    // the scaled-integer BM25 contribution of textBm25, driver-side —
    // integer div of positive BigInts == the SQL decimal `div`
    def tscoreAt(df: Long, tf: Long, dl: Long): BigInt =
      ((BigInt(cn) - BigInt(df)) * 2 + 1) * 44 * BigInt(tf) * ctl *
        BigInt(1000000000L) /
        ((BigInt(df) * 2 + 1) *
          (BigInt(20) * tf * ctl + BigInt(6) * ctl + BigInt(18) * dl * cn))
    // per-(qid, term) plan rows: envelope upper bound (None = legacy
    // segment without an envelope — ranks FIRST: always essential,
    // never skipped-and-bounded), ub rank, and the r0 fast-start
    case class TermPlan(qid: Long, term: String, tb: Long, df: Long,
                        ub: Option[BigInt], rank: Int)
    val plans: Map[Long, Seq[TermPlan]] = pairs.toSeq
      .flatMap { case (qid, term) => termStats.get(term).collect {
        case (df, maxTf, minDl) if df > 0 =>
          val ub = for (mt <- maxTf; md <- minDl) yield tscoreAt(df, mt, md)
          TermPlan(qid, term, termTb(term), df, ub, 0)
      }}
      .groupBy(_.qid).view.mapValues { ts =>
        ts.sortWith { (a, b) => (a.ub, b.ub) match {
          case (None, None) => a.term < b.term
          case (None, _) => true
          case (_, None) => false
          case (Some(x), Some(y)) =>
            if (x != y) x > y else a.term < b.term
        }}.zipWithIndex.map { case (p, j) => p.copy(rank = j + 1) }
      }.toMap
    val r0s: Map[Long, Int] = plans.map { case (qid, ts) =>
      val cum = ts.scanLeft(0L)(_ + _.df).drop(1)
      val j = cum.indexWhere(_ >= k)
      qid -> (if (j == -1) ts.size else j + 1)
    }
    val maxRounds = plans.map { case (q, ts) => ts.size - r0s(q) + 1 }
      .maxOption.getOrElse(0)
    // one file-listing per table per CALL, not per round: the round loop
    // filters these shared relations, so partition pruning still applies
    // per round while the (many-file) FileIndex builds exactly once
    val postBase = antiDead(spark, dir, rawPostings(spark, dir, asOf),
      "doc_id", asOf)
    val dlBase = rawDoclens(spark, dir, asOf)
    val fwdBase = rawFwd(spark, dir, asOf)
    var pendingQids: Set[Long] = plans.keySet
    var out: Option[DataFrame] = None
    var i = 1
    var continue = true
    while (continue) {
      IndexCommit.hit(s"bm25-pruned-round:$i")
      val pend = plans.view.filterKeys(pendingQids).toMap
      def essOf(qid: Long) = pend(qid).filter(_.rank <= r0s(qid) + i - 1)
      def skippedOf(qid: Long) = pend(qid).filter(_.rank > r0s(qid) + i - 1)
      val ess = pend.keysIterator.flatMap(essOf).toSeq
      val essTbs = ess.map(_.tb).distinct
      IndexCommit.hit(s"bm25-pruned-buckets:${essTbs.sorted.mkString(",")}")
      val essDf = broadcast(ess.map(p => (p.qid, p.term)).toDF("qid", "term"))
      val cands = essDf
        .join(postBase.filter(col("tb").isin(essTbs: _*)), Seq("term"))
        .select("qid", "doc_id").distinct()
      // capped collect: candidate doc ranges -> partition filters on the
      // forward/doclens reads
      val drsAll = cands.select(expr(s"doc_id div ${dlr}L").as("dr"))
        .distinct().limit(drCap + 1).collect().map(_.getLong(0)).toSeq
      val drs = if (drsAll.size > drCap) None else Some(drsAll)
      def prune(df: DataFrame): DataFrame =
        drs.map(ds => df.filter(col("dr").isin(ds: _*))).getOrElse(df)
      val pinDf = broadcast(pend.valuesIterator.flatten
        .map(p => (p.qid, p.term, p.df)).toSeq.toDF("qid", "term", "df"))
      val exact = cands
        .join(prune(fwdBase)
          .select("doc_id", "term", "tf"), Seq("doc_id"))
        .join(pinDf, Seq("qid", "term"))
        .join(prune(dlBase).select("doc_id", "dl"), Seq("doc_id"))
        // decimal(38,0) denominator — must agree with the driver-side
        // BigInt `tscoreAt` at ALL stats magnitudes: a long-wrapped SQL
        // score compared against an unwrapped BigInt bound could certify
        // a wrong top-k with no error
        .withColumn("tscore", expr(
          s"""(cast(2 * (${cn}L - df) + 1 as decimal(38,0))
             |  * 44 * tf * ${ctl}L * 1000000000)
             | div (cast(2 * df + 1 as decimal(38,0))
             |  * (20 * cast(tf as decimal(38,0)) * ${ctl}L
             |     + 6 * cast(${ctl}L as decimal(38,0))
             |     + 18 * cast(dl as decimal(38,0)) * ${cn}L))
             |""".stripMargin))
        .groupBy("qid", "doc_id")
        .agg(sum(col("tscore")).as("score"),
          map_from_entries(collect_list(struct(col("term"), col("tf"))))
            .as("tfmap"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("score").desc, col("doc_id"))
      // <= k rows per pending query, materialized: the lineage cut
      val top = graft.plans.TopKPerGroup(exact, Seq("qid"),
          Seq("score" -> false, "doc_id" -> true), k)
        .withColumn("rank", row_number().over(w))
        .localCheckpoint()
      // bounded collect: one (count, k-th score) row per pending query;
      // certification is driver arithmetic against the skipped bounds
      val thetas: Map[Long, (Long, Option[BigInt])] =
        top.groupBy("qid").agg(count(lit(1)).as("nc"),
            min(when(col("rank") === k, col("score"))).as("theta"))
          .collect().map(r => r.getLong(0) -> ((r.getLong(1),
            r.get(2) match { // the `div` score lands as long or decimal
              case null => None
              case d: java.math.BigDecimal => Some(BigInt(d.toBigInteger))
              case l: java.lang.Long => Some(BigInt(l))
            }))).toMap
      val certified = pend.keysIterator.filter { qid =>
        val skipped = skippedOf(qid)
        skipped.isEmpty || {
          val (nc, theta) = thetas.getOrElse(qid, (0L, None))
          nc == k && skipped.forall(_.ub.nonEmpty) &&
            theta.exists(_ > skipped.flatMap(_.ub).sum)
        }
      }.toSet
      val done = top
        .join(broadcast(certified.toSeq.toDF("qid")), Seq("qid"))
        .select("qid", "rank", "doc_id", "score", "tfmap")
      out = Some(out.map(_.unionByName(done)).getOrElse(done))
      pendingQids = pendingQids -- certified
      i += 1
      continue = i <= maxRounds && pendingQids.nonEmpty
    }
    out.get
  }

  /** Fixed-term PRUNED top-k over a forward-enabled index — identical
    * output shape (and oracle) to [[bm25TopK]]: (doc_id, score, tf_*).
    * The `text_bm25_pruned` query hash-checks it against the same
    * recompute-from-raw-docs DuckDB oracle as the scan / indexed /
    * maintained paths — certificate-driven skipping proven exact through
    * an independent engine.
    */
  def bm25TopKPruned(spark: SparkSession, dir: String, terms: Seq[String],
                     k: Int = 20, asOf: Option[Int] = None,
                     drCap: Int = 4096): DataFrame = {
    val probes = spark.createDataFrame(terms.map(tm => (0L, tm)))
      .toDF("qid", "term")
    val top = prunedTopK(spark, dir, probes, k, asOf, drCap)
    // the same loud precondition as every postings-path serve: the
    // all-docs oracle ranking is covered only with >= k matching docs
    val ncand = top.agg(count(lit(1)).as("nc"))
    top.crossJoin(broadcast(ncand))
      .select((col("doc_id") +:
        when(assert_true(col("nc") >= k,
            lit(s"bm25TopKPruned: fewer than $k docs match any query " +
              "term — the candidates path no longer covers the all-docs " +
              "oracle ranking")).isNull,
          col("score")).as("score") +:
        terms.map(tm =>
          coalesce(element_at(col("tfmap"), lit(tm)), lit(0L))
            .as(s"tf_$tm"))): _*)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Streaming PRUNED retrieval route — [[bm25Route]] semantics (same
    * (qid, rank, doc_id, score) output for the same arrivals) served
    * through [[prunedTopK]]: each micro-batch reads only its queries'
    * essential posting lists plus the candidates' forward ranges, so on
    * a df-skewed vocabulary the per-decision read is O(rare-term
    * postings), not O(all query-term postings).
    */
  def bm25RoutePruned(queries: DataFrame, indexDir: String, k: Int = 20,
                      idCol: String = "qid", textCol: String = "qtext",
                      drCap: Int = 4096,
                      asOf: Option[Int] = None): DataFrame = {
    val spark = queries.sparkSession
    val probes = queries.select(col(idCol).cast("long").as("qid"),
        explode(metaFull(spark, indexDir).tokenize(col(textCol))).as("term"))
      .dropDuplicates("qid", "term")
    prunedTopK(spark, indexDir, probes, k, asOf, drCap)
      .select("qid", "rank", "doc_id", "score")
  }

  // -------------------------------------------------------------------------
  // Impact-ordered (WAND / Block-Max-class) APPROXIMATE serving
  // -------------------------------------------------------------------------

  /** Budget-pruned scored candidates off the stored impact blocks: the
    * common body of [[bm25TopKWand]] / [[bm25RouteWand]]. Reads ONLY
    * rows with `ib < budget` from the probed buckets (at most
    * budget x blockSize postings per (term, LSM segment) — independent
    * of the term's df, hence of corpus size), scores them under the
    * LIVE merged df / n / tl with the exact [[tscoreExpr]] arithmetic
    * (tf and dl are stored inline, so no doclens join runs), and sums
    * per (qid, doc). A doc whose tf for some query term fell outside
    * that term's head blocks simply misses that term's contribution —
    * the score-at-a-time accumulator semantics this tier trades
    * exactness for.
    *
    * `budget <= 0` reads the WHOLE stored head (the df-proportional
    * layout's serve — the stored head is the provisioned coverage).
    * Returns (scores (qid, doc_id, score), coverage (qid, coverage)) —
    * both from ONE scan (grouping sets).
    */
  private def scoredImpacts(spark: SparkSession, dir: String,
                            probes: DataFrame, wantedTb: Seq[Long],
                            terms: Option[Seq[String]], budget: Int,
                            asOf: Option[Int]): (DataFrame, DataFrame) = {
    val tbPred = col("tb").isin(wantedTb: _*)
    val imp0 = rawImpacts(spark, dir, asOf)
      .filter(if (budget > 0) tbPred && col("ib") < budget else tbPred)
    val imp = antiDead(spark, dir,
      terms.map(ts => imp0.filter(col("term").isin(ts: _*))).getOrElse(imp0),
      "doc_id", asOf)
    val dfPred = terms match {
      case Some(ts) => col("tb").isin(wantedTb: _*) && col("term").isin(ts: _*)
      case None => col("tb").isin(wantedTb: _*)
    }
    val dfreq = mergedTermdf(spark, dir, dfPred, asOf)
    val joined = withCorpusStats(spark, dir, asOf,
        probes.join(imp, Seq("term")).join(dfreq, Seq("term")))
      .withColumn("tscore", tscoreExpr)
    // ONE budget/fraction-bounded scan feeds BOTH aggregates via
    // GROUPING SETS (scan once + Expand, not scan twice — the tier's
    // bytes-per-decision claim would halve under a second read):
    // (qid, doc_id) rows are the score accumulators, (qid, term) rows
    // count the postings actually read per query term
    val gs = joined.groupingSets(
        Seq(Seq(col("qid"), col("doc_id")), Seq(col("qid"), col("term"))),
        col("qid"), col("doc_id"), col("term"))
      .agg(sum(col("tscore")).as("score"), count(lit(1)).as("n_read"))
    val scores = gs.filter(col("doc_id").isNotNull)
      .select("qid", "doc_id", "score")
    // COVERAGE (r17, the served regime signal VERDICT r16 asked for):
    // per corpus-present query term, n_read / df; per query, the MIN
    // over those terms — the conservative fraction, 1.0 when every
    // term's list was fully covered. A term whose head rows were all
    // tombstoned counts as 0 (left join), a term absent from the
    // corpus is not counted, a query with no corpus terms serves
    // coverage null. DENOMINATOR CONTRACT (r18): df is the STORED
    // (tombstone-INCLUSIVE) termdf while n_read counts only live
    // (antiDead) rows, so while tombstones exist coverage UNDERSTATES
    // the true live-postings fraction — deliberately: computing a live
    // df would cost a full posting-list scan per term (exactly the
    // read this tier exists to avoid), and the error is in the SAFE
    // direction (a minCoverage router may escalate early; it never
    // serves less than it reports). Compaction rewrites termdf and
    // restores n_read/df == the live fraction.
    val covered = probes.join(dfreq.select("term", "df"), Seq("term"))
      .join(gs.filter(col("term").isNotNull)
        .select(col("qid"), col("term"), col("n_read")),
        Seq("qid", "term"), "left")
      .groupBy("qid")
      .agg(min(least(lit(1.0),
        coalesce(col("n_read"), lit(0L)).cast("double") / col("df")))
        .as("coverage"))
    (scores, covered)
  }

  /** IMPACT-ORDERED approximate top-k — the WAND / Block-Max-CLASS tier
    * (the principled answer to the one measured super-constant serving
    * residual, SURVEY §9: exact disjunctive top-k must score every
    * posting of the query's terms, and a fixed term's df grows with the
    * corpus). This engine's set-at-a-time form is score-at-a-time early
    * termination over STORED impact-ordered blocks ([[impactsOf]] — the
    * Anh–Moffat impact-sorted layout): per query term, read only the
    * `budget` head blocks (`budget * blockSize` postings per LSM
    * segment, a constant), score them exactly under the live stats, and
    * rank by the accumulated sums. Per-query cost is O(terms x budget x
    * blockSize x segments) — FLAT in corpus size, where
    * [[bm25TopKPruned]]'s certificate-exact serving still pays the
    * essential (rarest) terms' full posting lists, which grow with the
    * corpus.
    *
    * APPROXIMATE by construction — a true top-k doc whose per-term tf
    * sits below every query term's head blocks is missed, and found
    * docs may miss tail contributions — so this tier is RECALL-ASSERTED
    * (TextIndexSpec, vs the exact [[bm25TopK]] ranking; the
    * `sim_ann_lsh` adjudication pattern), never oracle-hashed: the
    * exact tiers remain the verifiers. Needs an impact-enabled index;
    * refuses loudly otherwise.
    *
    * TWO LAYOUTS, one serve (r17): on a FIXED-block index
    * (`impactBlocks > 0`) the budget knob truncates as above and recall
    * DECAYS with corpus growth (the measured law at [[impactsOf]]); on
    * a DF-PROPORTIONAL index (`impactFraction > 0`) the stored head is
    * fraction x df per term, the budget knob is ignored (the whole head
    * serves), and recall is pinned at any corpus size — the
    * recall-bounded flat tier (WandFractionSpec pins >= 0.9 recall@10
    * vs the exact tier across three decades to 500k docs).
    *
    * Returns (doc_id, score, coverage) — `coverage` is the measured
    * min-over-query-terms fraction of postings this serve read
    * (live n_read / STORED df — tombstone-inclusive, so under deletes
    * it conservatively understates the live fraction until compaction
    * rewrites termdf; see [[scoredImpacts]]), the caller-visible
    * regime signal: ~1.0 in the strong regime, falling as df outgrows
    * a fixed budget, ~fraction (constant) on a df-proportional index.
    */
  def bm25TopKWand(spark: SparkSession, dir: String, terms: Seq[String],
                   k: Int = 20, budget: Int = 2,
                   asOf: Option[Int] = None): DataFrame = {
    val m = metaFull(spark, dir)
    require(m.hasImpacts,
      s"impact-ordered serving needs an impact-enabled index under $dir " +
        "(writeBm25Index(..., impactBlocks > 0) or impactFraction > 0)")
    require(m.impF > 0 || budget <= m.impB,
      s"budget $budget exceeds the stored impact blocks (${m.impB})")
    // on the FIXED-block layout the budget knob must bound the read:
    // budget <= 0 there would silently serve the entire stored head
    // (budget <= 0 is only the df-proportional layout's whole-head mode)
    require(m.impF > 0 || budget > 0,
      s"budget must be positive on a fixed-block index (got $budget)")
    // df-proportional layout: the stored head IS the provisioned
    // coverage — serve the whole head (the block budget is a
    // fixed-layout knob; recall is pinned by the stored fraction)
    val effB = if (m.impF > 0) 0 else budget
    val ts = terms.distinct
    val wanted = ts.map(termBucket(_, m.nb)).distinct
    val probes = spark.createDataFrame(ts.map(tm => (0L, tm)))
      .toDF("qid", "term")
    val (scores, cov) =
      scoredImpacts(spark, dir, probes, wanted, Some(ts), effB, asOf)
    scores.join(broadcast(cov), Seq("qid"), "left")
      .select("doc_id", "score", "coverage")
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Streaming impact-ordered route — [[bm25Route]]'s arrivals served
    * through the impact blocks: per micro-batch one bounded collect of
    * the probed buckets, one head-pruned impacts scan (no doclens
    * join), one bounded-heap top-k. The decision cost is flat in index
    * size on a fixed-block index and `fraction` of the exact route's
    * posting reads on a df-proportional one — the ROUTEBENCH `bm25w`
    * tier measures it against the exact `bm25` route on the same
    * arrivals. Output (qid, rank, doc_id, score, coverage) — see
    * [[bm25TopKWand]] for the layout dispatch and the coverage column.
    *
    * `minCoverage > 0` arms the ESCALATION ROUTER: queries whose
    * measured coverage falls below it re-serve through the exact
    * [[bm25Route]] (coverage reported as 1.0) — the bounded-cost
    * default for precision-critical serving over a fixed-block index
    * whose corpus has outgrown its budget.
    */
  def bm25RouteWand(queries: DataFrame, indexDir: String, k: Int = 20,
                    budget: Int = 2, idCol: String = "qid",
                    textCol: String = "qtext",
                    asOf: Option[Int] = None,
                    minCoverage: Double = 0.0): DataFrame = {
    val spark = queries.sparkSession
    val m0 = metaFull(spark, indexDir)
    require(m0.hasImpacts,
      s"impact-ordered serving needs an impact-enabled index under " +
        s"$indexDir (writeBm25Index(..., impactBlocks > 0) or " +
        "impactFraction > 0)")
    require(m0.impF > 0 || budget <= m0.impB,
      s"budget $budget exceeds the stored impact blocks (${m0.impB})")
    require(m0.impF > 0 || budget > 0,
      s"budget must be positive on a fixed-block index (got $budget)")
    val effB = if (m0.impF > 0) 0 else budget
    val probes = queries.select(col(idCol).cast("long").as("qid"),
        explode(m0.tokenize(col(textCol))).as("term"))
      .dropDuplicates("qid", "term")
    // bounded collect: the batch's probed buckets (<= nbuckets values)
    val wanted = probes.select(tbCol(m0.nb).as("tb")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val (scored, cov) = scoredImpacts(spark, indexDir, probes, wanted, None,
      effB, asOf)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("doc_id"))
    def ranked(covSide: DataFrame): DataFrame =
      graft.plans.TopKPerGroup(scored, Seq("qid"),
          Seq("score" -> false, "doc_id" -> true), k)
        .withColumn("rank", row_number().over(w))
        .join(broadcast(covSide), Seq("qid"), "left")
        .select("qid", "rank", "doc_id", "score", "coverage")
    if (minCoverage <= 0) ranked(cov)
    else {
      // ESCALATION ROUTER (r17): queries whose measured coverage left
      // the tier's regime re-serve through the EXACT path and report
      // coverage 1.0. The wand pass the escalated queries already paid
      // is budget-bounded by construction, which is exactly why
      // escalation is affordable. Queries with NO corpus terms
      // (coverage null) stay wand-side: the exact tier would serve
      // them nothing too.
      //
      // ONE coverage evaluation per batch (ADVICE r17): the bounded
      // coverage rows (<= arrival batch — the aggview touched-bucket
      // contract class) collect ONCE and serve BOTH as the output's
      // join input (a literal frame, so the ranked plan runs the
      // grouping-sets scan exactly once, scores-side) and as the
      // escalation id source — the un-armed path above keeps the
      // single-plan broadcast(cov) join, where exchange reuse already
      // dedupes the scan.
      import scala.jdk.CollectionConverters._
      val covRows = cov.collect().toSeq
      val covLit = spark.createDataFrame(covRows.asJava, cov.schema)
      val escIds = covRows
        .filter(r => !r.isNullAt(1) && r.getDouble(1) < minCoverage)
        .map(_.getLong(0))
      val wandOut = ranked(covLit)
      if (escIds.isEmpty) wandOut
      else {
        // broadcast semi/anti joins, not `isin` (ADVICE r17 optional):
        // an IN list grows the expression tree with the escalated
        // count; a broadcast ids frame keeps the plan size constant
        import spark.implicits._
        val escFrame = escIds.toDF("qid")
        val exact = bm25Route(
          queries.join(
            broadcast(escFrame.select(col("qid").as("__esc_qid"))),
            col(idCol).cast("long") === col("__esc_qid"), "left_semi"),
          indexDir, k = k, idCol = idCol, textCol = textCol, asOf = asOf)
          .withColumn("coverage", lit(1.0))
        wandOut.join(broadcast(escFrame), Seq("qid"), "left_anti")
          .unionByName(exact)
      }
    }
  }

  // -------------------------------------------------------------------------
  // Positional serving — phrase and proximity over the `ps` lists
  // -------------------------------------------------------------------------

  /** Per-doc map term -> sorted positions for `terms`, from a POSITIONAL
    * index: the postings scan prunes to the terms' buckets (the bm25TopK
    * partition-pruning discipline) and tombstoned docs are anti-joined
    * out, so phrase/proximity serving reads O(postings of the query
    * terms) at any index size.
    */
  private def posMap(spark: SparkSession, dir: String, terms: Seq[String],
                     asOf: Option[Int]): DataFrame = {
    val m0 = metaFull(spark, dir)
    require(m0.pos,
      s"positional serving needs a positional index under $dir " +
        "(writeBm25Index(..., positional = true))")
    val tbs = terms.distinct.map(termBucket(_, m0.nb)).distinct
    antiDead(spark, dir,
      rawPostingsPos(spark, dir, asOf)
        .filter(col("tb").isin(tbs: _*))
        .filter(col("term").isin(terms.distinct: _*)),
      "doc_id", asOf)
      .groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("term"), col("ps"))))
        .as("m"))
  }

  /** EXACT phrase search over a positional maintained index: top-k docs
    * by occurrence count of the consecutive-token phrase (ties by
    * doc_id). Phrase starts fold through the codegen'd
    * [[graft.functions.PhraseJoin]] sorted-merge kernel — starts of
    * "t0 t1 t2" = phraseJoin(phraseJoin(ps0, ps1, 1), ps2, 2) — so
    * OVERLAPPING occurrences count (each valid start is one occurrence).
    * A doc missing any phrase term nulls the fold (element_at on the
    * absent key) and drops at the tf > 0 filter. The `text_phrase_
    * indexed` query hash-checks this against a DuckDB position-join
    * oracle — the positional generalization of the reference's substring
    * severity scan (shipper.js:23 matches multi-word patterns like
    * "module initialization error" with no position structure at all;
    * a standing index makes the same class of query serveable at corpus
    * scale).
    */
  def phraseTopK(spark: SparkSession, dir: String, phrase: Seq[String],
                 k: Int = 20, asOf: Option[Int] = None): DataFrame = {
    require(phrase.size >= 2, "a phrase needs at least two terms")
    val m = posMap(spark, dir, phrase, asOf)
    val starts = phrase.zipWithIndex.tail.foldLeft(
        element_at(col("m"), lit(phrase.head))) { case (acc, (t, i)) =>
      graft.functions.gcolumns.phrase_join(acc,
        element_at(col("m"), lit(t)), i)
    }
    m.select(col("doc_id"), size(starts).as("phrase_tf"))
      .filter(col("phrase_tf") > 0)
      .orderBy(col("phrase_tf").desc, col("doc_id"))
      .limit(k)
  }

  /** Proximity (NEAR/slop) search over a positional maintained index:
    * docs where `a` and `b` occur within `slop` tokens, ranked by the
    * minimum gap (ties by doc_id), gap computed by the codegen'd
    * [[graft.functions.SortedMinGap]] two-pointer kernel. Same bucket
    * pruning and tombstone semantics as [[phraseTopK]].
    */
  def nearTopK(spark: SparkSession, dir: String, a: String, b: String,
               slop: Int, k: Int = 20, asOf: Option[Int] = None): DataFrame = {
    val m = posMap(spark, dir, Seq(a, b), asOf)
    m.select(col("doc_id"),
        graft.functions.gcolumns.sorted_min_gap(
          element_at(col("m"), lit(a)), element_at(col("m"), lit(b)))
          .as("gap"))
      .filter(col("gap") <= slop)
      .orderBy(col("gap"), col("doc_id"))
      .limit(k)
  }

  /** k-TERM WINDOW search over a positional maintained index — the n-ary
    * generalization of [[nearTopK]]: docs where EVERY query term occurs
    * within a window of `span` tokens (min cover = smallest max−min over
    * one position per term), ranked by the tightest window (ties by
    * doc_id). The cover folds through the codegen'd
    * [[graft.functions.SortedMinCover]] n-pointer kernel over the per-doc
    * position lists; a doc missing any term has a null/empty list element,
    * covers at Int.MaxValue and drops at the span filter. For two terms,
    * windowTopK(span) ranks exactly like nearTopK(slop = span) — the
    * kernel definitions coincide — which TextIndexSpec pins alongside the
    * brute-force property check. Same bucket pruning, tombstone and as-of
    * semantics as every positional serve. Repeated query terms are
    * deduplicated (a term trivially covers itself).
    */
  def windowTopK(spark: SparkSession, dir: String, terms: Seq[String],
                 span: Int, k: Int = 20,
                 asOf: Option[Int] = None): DataFrame = {
    val ts = terms.distinct
    require(ts.size >= 2, "a window query needs at least two distinct terms")
    val m = posMap(spark, dir, ts, asOf)
    val lists = array(ts.map(t => element_at(col("m"), lit(t))): _*)
    m.select(col("doc_id"),
        graft.functions.gcolumns.sorted_min_cover(lists).as("win"))
      .filter(col("win") <= span)
      .orderBy(col("win"), col("doc_id"))
      .limit(k)
  }

  /** Streaming PHRASE route — the route-tier twin of [[phraseTopK]] for
    * ARRIVING (qid, qtext) phrase queries, each with its own phrase (any
    * length, repeated terms allowed), served from the standing
    * positional index. Per micro-batch: ONE bucket-pruned postings read
    * over the batch's term set (the [[bm25Route]] discipline — one
    * driver collect, bounded by batch vocabulary), then per (query,
    * slot, doc) the slot's positions shift by -slot so a phrase START is
    * a position present in EVERY slot's shifted list — the per-(query,
    * doc) fold is an n-way sorted-list intersection
    * (`aggregate(array_intersect)`), and a doc must match ALL slots
    * (nslots == phrase length) to rank. Emits (qid, rank, doc_id,
    * phrase_tf) top-k per query, phrase_tf counting overlapping starts
    * exactly like the batch path (spec-proven equal per query).
    */
  def phraseRoute(queries: DataFrame, indexDir: String, k: Int = 20,
                  idCol: String = "qid", textCol: String = "qtext",
                  asOf: Option[Int] = None): DataFrame = {
    val spark = queries.sparkSession
    val m0 = metaFull(spark, indexDir)
    val nb = m0.nb
    require(m0.pos,
      s"positional serving needs a positional index under $indexDir " +
        "(writeBm25Index(..., positional = true))")
    val qterms = queries.select(col(idCol).cast("long").as("qid"),
      posexplode(m0.tokenize(col(textCol))).as(Seq("slot", "term")))
    // bounded collect: the batch's probed buckets (<= batch vocabulary)
    val tbs = graft.sources.StoredIndex.distinctKeys(
        qterms.select(tbCol(nb).as("tb")))
      .map(_.getLong(0)).toSeq
    val post = antiDead(spark, indexDir,
      rawPostingsPos(spark, indexDir, asOf).filter(col("tb").isin(tbs: _*)),
      "doc_id", asOf)
    // [[phraseTopK]]'s loud >= 2-term refusal, per arriving query: a
    // one-token arrival would otherwise silently degrade to a per-term tf
    // ranking. The check rides the broadcast nterms frame (built fully
    // when the hash side materializes), so a bad query fails the batch
    // rather than emitting a wrong-shape answer.
    val nterms = qterms.groupBy("qid").agg(count(lit(1)).as("nterms"))
      .select(col("qid"),
        when(assert_true(col("nterms") >= 2,
            concat(lit("phraseRoute: a phrase needs at least two terms " +
              "(qid "), col("qid"), lit(")"))).isNull,
          col("nterms")).as("nterms"))
    val rows = qterms.join(post.select("term", "doc_id", "ps"), Seq("term"))
      .select(col("qid"), col("doc_id"),
        transform(col("ps"), x => x - col("slot")).as("sps"))
    val starts = rows.groupBy("qid", "doc_id")
      .agg(collect_list(col("sps")).as("pss"),
        count(lit(1)).as("nslots"))
      .join(broadcast(nterms), Seq("qid"))
      .filter(col("nslots") === col("nterms"))
      .select(col("qid"), col("doc_id"),
        size(expr("aggregate(slice(pss, 2, size(pss) - 1), " +
          "element_at(pss, 1), (acc, x) -> array_intersect(acc, x))"))
          .cast("long").as("phrase_tf"))
      .filter(col("phrase_tf") > 0)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("phrase_tf").desc, col("doc_id"))
    graft.plans.TopKPerGroup(starts, Seq("qid"),
        Seq("phrase_tf" -> false, "doc_id" -> true), k)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select("qid", "rank", "doc_id", "phrase_tf")
  }

  /** STREAMING HYBRID RETRIEVAL — the route-tier twin of the batch
    * `text_hybrid_rrf` query: each ARRIVING query carries keyword text
    * AND an example embedding, the lexical leg ranks through the
    * maintained BM25 index ([[bm25Route]]) while the vector leg ranks
    * through the stored IVF index ([[Similarity.annRoute]]), and the two
    * per-query rank lists fuse by reciprocal-rank fusion:
    * RRF(d) = Σ_legs 10^9 div (60 + rank_leg(d)) — exact integer
    * arithmetic, the same clear-the-denominator discipline as the BM25
    * score itself, so fused rankings are reproducible bit-for-bit.
    *
    * Per micro-batch this adds ONE full-outer join of two
    * batch × legK-row rank lists on (qid, doc_id) — constant-size per
    * query, independent of either index's corpus — on top of the two
    * legs' already-bounded plans (term-bucket-pruned postings scan;
    * cell-pruned IVF postings scan). No state store, no corpus scan;
    * run under `foreachBatch` like every route operator.
    *
    * Vector-leg recall is the IVF `nprobe` knob: at nprobe >= nCells the
    * leg is EXACT and the fused ranking provably equals the batch
    * brute-force fusion (RetrievalSpec); production keeps nprobe small
    * and inherits standard IVF recall on the vector evidence only — the
    * lexical leg is exact by default.
    *
    * `wandBudget > 0` swaps the lexical leg to the IMPACT-ORDERED
    * approximate tier ([[bm25RouteWand]] — budget head blocks per term,
    * flat in corpus size where the exact leg's cost grows with the query
    * terms' df): the fuse and the vector leg are unchanged, so the
    * hybrid inherits the wand tier's recall trade on the lexical
    * evidence only, with the `wandBudget = 0` serve as its exact
    * verifier (recall floor asserted in RetrievalSpec; the ROUTEBENCH
    * `hybridw` tier measures the throughput the swap buys back — the
    * exact lexical leg is the measured hybrid bottleneck, r14: bm25
    * 2.7k vs ann 30.9k decisions/s). Needs an impact-enabled index.
    *
    * `probeFraction > 0` (r18) applies the vector leg's
    * recall-at-scale knob ([[Similarity.annRoute]] — nprobe_eff =
    * max(nprobe, ceil(cells x fraction))): with a df-proportional
    * lexical index (`impactFraction`) AND a fractional vector probe,
    * BOTH approximate legs serve fractions, not constants, so the
    * fused ranking's recall is pinned at any corpus size (measured:
    * SCALING_r18 hybridwf recall column vs the doubly-exact fusion).
    *
    * Returns (qid, rank, doc_id, rrf_score).
    */
  def hybridRoute(queries: DataFrame, bm25Dir: String, ivfDir: String,
                  k: Int = 20, legK: Int = 50, nprobe: Int = 5,
                  idCol: String = "qid", textCol: String = "qtext",
                  embCol: String = "embedding",
                  wandBudget: Int = 0,
                  asOf: Option[Int] = None,
                  probeFraction: Double = 0.0): DataFrame = {
    val lexQ = queries.select(col(idCol), col(textCol))
    val lex = (if (wandBudget > 0)
        bm25RouteWand(lexQ, bm25Dir, k = legK, budget = wandBudget,
          idCol = idCol, textCol = textCol, asOf = asOf)
      else
        bm25Route(lexQ, bm25Dir, k = legK, idCol = idCol,
          textCol = textCol, asOf = asOf))
      .select(col("qid"), col("doc_id"), col("rank").as("rank_lex"))
    val vec = Similarity.annRoute(queries.select(col(idCol), col(embCol)),
        ivfDir, k = legK, nprobe = nprobe, idCol = idCol, embCol = embCol,
        asOf = asOf, probeFraction = probeFraction)
      .select(col("qid"), col("nid").as("doc_id"),
        col("rank").as("rank_vec"))
    val fused = lex.join(vec, Seq("qid", "doc_id"), "full_outer")
      .withColumn("rrf_score", expr(
        """coalesce(1000000000L div (60 + rank_lex), 0L)
          | + coalesce(1000000000L div (60 + rank_vec), 0L)""".stripMargin))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
    graft.plans.TopKPerGroup(fused, Seq("qid"),
        Seq("rrf_score" -> false, "doc_id" -> true), k)
      .withColumn("rank", row_number().over(w))
      .select("qid", "rank", "doc_id", "rrf_score")
  }
}
