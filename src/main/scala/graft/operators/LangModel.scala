package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{IndexCommit, Maintenance, StoredIndex}

/** STORED n-gram language model — the perplexity filter every large-scale
  * training-data pipeline runs (the CCNet/KenLM recipe: train a small LM on
  * a trusted reference corpus, score candidate documents, cut the tail), as
  * the engine's SIXTH stored-state family with the full decide / learn /
  * forget / compact / as-of lifecycle.
  *
  * Relation to the existing quality cut: [[Curation.lmQualityCut]] scores a
  * corpus against ITSELF in one query (self-referential rarity). This family
  * separates the two corpora the production recipe separates — the model is
  * trained (and maintained) on a REFERENCE corpus, stored once, and serves
  * admission decisions over arbitrary later arrivals without rescanning the
  * reference.
  *
  * Scoring is EXACT INTEGER arithmetic — the BM25 discipline
  * ([[TextIndex]]'s rational idf surrogate): true perplexity needs
  * `log`/`exp`, which are not bit-reproducible across engines, so the score
  * is the Laplace-smoothed INVERSE-PROBABILITY mean, a monotone rarity
  * surrogate with the same decision geometry:
  *
  *   surprise(w1,w2) = (SCALE * (c(w1) + V)) div (c(w1,w2) + 1)
  *   doc is admitted iff sum(surprise) <= thrMean * n_bigrams
  *
  * where c(w1,w2) are the stored bigram counts, c(w1) = sum_w2 c(w1,w2) the
  * context counts (DERIVED from the bigram table at read — one table to
  * learn/forget, contexts can never drift out of sync), and V = |vocab|+1
  * (the `<unk>` row). 1/p(w2|w1) = (c(w1)+V)/(c(w1,w2)+1) is exactly the
  * smoothed inverse probability, scaled to an integer; decimal(38,0)
  * arithmetic throughout (long products wrap silently at 100 TB counts) and
  * integral `div`, so DuckDB replays the whole train+score bit-identically
  * (q:`curate_lm_route`).
  *
  * Index layout under `dir` (one [[IndexCommit]] manifest, every mutation a
  * single atomic manifest rename):
  *  - `meta`    — one row (vocab_top, v, nbuckets).
  *  - `vocab`   — the FROZEN train-time vocabulary (tok, cnt), top
  *                `vocabTop` unigrams by (cnt desc, tok asc) — deterministic
  *                tie order. Frozen like the IVF quantizers: appends map new
  *                text through it, so decisions stay comparable across
  *                versions; retraining the vocab is a rebuild, not a learn.
  *  - `bi/seg=N/wb=K` — LSM delta segments of bigram counts
  *                (w1, w2, cnt), partitioned by `wb = pmod(xxhash64(w1),
  *                nbuckets)` so a route's scan prunes to the batch's probed
  *                buckets; forget writes NEGATIVE deltas (the budget-gate
  *                fills ledger discipline), folds sum exactly.
  *  - `tri/seg=N/wb=K` — order-3 models only (r16): trigram counts
  *                (w1, w2, w3, cnt), same bucketing and delta algebra;
  *                bi and tri always publish under ONE manifest rename,
  *                and the trigram scorer ([[surpriseTrigram]], Stupid
  *                Backoff at α = 2/5) derives BOTH its contexts from the
  *                bi fold, so the levels cannot drift apart.
  *
  * Scale: training is two bounded aggregations (vocab top-k + bigram
  * group-by); a route decision reads ONLY the batch's probed `wb` partitions
  * of the bi LSM (bounded by the batch's bigram vocabulary, never by corpus
  * or index size), joins them to the batch's exploded bigrams, and
  * aggregates per doc — no corpus-sized state, no driver collect beyond the
  * probed-bucket set (<= nbuckets values).
  */
object LangModel {

  /** The out-of-vocabulary token every non-vocab token maps to. */
  val Unk = "<unk>"

  /** Integer scale of the surprise surrogate (1e6 per unit of inverse
    * probability) — headroom for decimal(38,0) sums at 100 TB counts.
    */
  val Scale = 1000000L

  /** Stupid Backoff α = 2/5 (the Brants et al. constant, as a RATIONAL
    * so the arithmetic stays exact-integer): a backed-off score
    * multiplies the inverse probability by 1/α = [[BackoffNum]] /
    * [[BackoffDen]].
    */
  val BackoffNum = 5L
  val BackoffDen = 2L

  /** Exact integral division of two non-negative decimal(38,0) columns.
    * Spark's `div` returns LongType EVEN FOR DECIMAL OPERANDS (the
    * quotient wraps silently past Long.MaxValue), and a plain decimal
    * `/` rounds HALF_UP at the result scale (floor-of-rounded is off by
    * one when the true fraction is within 5e-7 of 1 — reachable once
    * the divisor exceeds ~2e6). Subtracting the EXACT remainder first
    * makes the quotient an integer, so the decimal division is exact by
    * construction and the final cast is lossless.
    */
  private[graft] def idiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("decimal(38,0)")

  /** One bigram's Laplace inverse-probability surprise as decimal(38,0):
    * (Scale * (ctx + V)) div (cnt + 1), computed ENTIRELY in decimal —
    * operands cast BEFORE the multiply (a long product wraps silently
    * once ctx exceeds Long.MaxValue/Scale ≈ 9.2e12, exactly the 100 TB
    * context counts this family is specced for) and divided via
    * [[idiv]]. DuckDB replays the same arithmetic in HUGEINT
    * (q:`curate_lm_route`); LangModelSpec pins the near-Long.MaxValue
    * regime against driver-side BigInt.
    */
  private[graft] def surpriseBigram(ctx: Column, cnt: Column,
                                    v: Long): Column = {
    val a = (coalesce(ctx, lit(0L)) + lit(v)).cast("decimal(38,0)") *
      lit(Scale)
    val b = (coalesce(cnt, lit(0L)) + lit(1L)).cast("decimal(38,0)")
    idiv(a, b)
  }

  private def wbCol(nBuckets: Int): Column =
    pmod(xxhash64(col("w1")), lit(nBuckets.toLong))

  /** Probed bucket ids of a batch — the distinct hash buckets of its
    * VOCAB-MAPPED tokens. Every n-gram context position (w1 of a bigram;
    * w1, w2 of a trigram) is a batch token, so this is a SUPERSET of the
    * buckets the batch's grams probe: pruning the count LSM with it can
    * never miss a needed row (extra buckets only add count rows no gram
    * joins). OPTIMIZATION r18 (guide §1.2): the previous wanted-bucket
    * pass ran the FULL mapped n-gram construction (zip/transform explode
    * + 2–3 broadcast vocab joins) a second time just to hash its context
    * columns; this pass explodes bare tokens, collapses to the distinct
    * set map-side (Zipf makes that tiny), and maps + hashes the
    * distincts through ONE broadcast join.
    */
  private def probedBuckets(batch: DataFrame, vocab: DataFrame, nb: Int,
                            textCol: String): Seq[Long] = {
    batch.select(explode(split(col(textCol), " ")).as("tok"))
      .distinct()
      .join(broadcast(vocab.select(col("tok"), lit(1).as("inv"))),
        Seq("tok"), "left")
      .select(pmod(xxhash64(when(col("inv").isNotNull, col("tok"))
        .otherwise(lit(Unk))), lit(nb.toLong)).as("wb"))
      .distinct().collect().map(_.getLong(0)).toSeq
  }

  /** (vocabTop, V, nBuckets, order) — `ordern` last so pre-r16 bigram
    * metas read it as null and default to order 2.
    */
  private def metaOf(spark: SparkSession, dir: String,
                     asOf: Option[Int]): (Int, Long, Int, Int) =
    // commit-keyed driver memo: immutable per committed version, was one
    // plan-time collect job per serve (StoredIndex.memoByCommit doc)
    StoredIndex.memoByCommit("lm-meta", dir, asOf) {
      val r = StoredIndex.readTable(spark, s"$dir/meta",
        "vocab_top INT, v BIGINT, nbuckets INT, ordern INT", asOf).collect()
      require(r.nonEmpty, s"no lm index meta under $dir")
      (r(0).getInt(0), r(0).getLong(1), r(0).getInt(2),
        if (r(0).isNullAt(3)) 2 else r(0).getInt(3))
    }

  private def vocabOf(spark: SparkSession, dir: String,
                      asOf: Option[Int]): DataFrame =
    StoredIndex.readTable(spark, s"$dir/vocab", "tok STRING, cnt BIGINT",
      asOf)

  /** One row per bigram OCCURRENCE of `docs`, both sides mapped through the
    * frozen vocabulary (non-vocab tokens -> [[Unk]]): (doc_id, w1, w2).
    * Docs under two tokens contribute no rows (callers that must answer for
    * every arrival left-join the per-doc aggregate back — [[lmRoute]]).
    * The vocab is vocabTop-bounded, so both mapping joins broadcast.
    */
  private def mappedBigrams(docs: DataFrame, vocab: DataFrame,
                            idCol: String, textCol: String): DataFrame = {
    val toks = split(col(textCol), " ")
    val pairs = zip_with(
      slice(toks, lit(1), size(toks) - 1),
      slice(toks, lit(2), size(toks) - 1),
      (x, y) => struct(x.as("r1"), y.as("r2")))
    docs.where(size(toks) >= 2)
      .select(col(idCol).cast("long").as("doc_id"), explode(pairs).as("pr"))
      .select(col("doc_id"), col("pr.r1").as("r1"), col("pr.r2").as("r2"))
      .join(broadcast(vocab.select(col("tok").as("r1"),
        lit(1).as("in1"))), Seq("r1"), "left")
      .join(broadcast(vocab.select(col("tok").as("r2"),
        lit(1).as("in2"))), Seq("r2"), "left")
      .select(col("doc_id"),
        when(col("in1").isNotNull, col("r1")).otherwise(lit(Unk)).as("w1"),
        when(col("in2").isNotNull, col("r2")).otherwise(lit(Unk)).as("w2"))
  }

  /** One row per trigram OCCURRENCE of `docs`, all three positions
    * mapped through the frozen vocabulary: (doc_id, w1, w2, w3). Docs
    * under three tokens contribute no rows (the order-3 route admits
    * them — no evidence). Same broadcast-mapping shape as
    * [[mappedBigrams]].
    */
  private def mappedTrigrams(docs: DataFrame, vocab: DataFrame,
                             idCol: String, textCol: String): DataFrame = {
    val toks = split(col(textCol), " ")
    val triples = transform(sequence(lit(1), size(toks) - 2), i => struct(
      element_at(toks, i).as("r1"),
      element_at(toks, i + 1).as("r2"),
      element_at(toks, i + 2).as("r3")))
    val mapped = Seq("r1", "r2", "r3").zip(Seq("w1", "w2", "w3"))
    mapped.foldLeft(
      docs.where(size(toks) >= 3)
        .select(col(idCol).cast("long").as("doc_id"),
          explode(triples).as("tr"))
        .select(col("doc_id"), col("tr.r1").as("r1"),
          col("tr.r2").as("r2"), col("tr.r3").as("r3"))) {
      case (df, (r, w)) =>
        df.join(broadcast(vocab.select(col("tok").as(r),
            lit(1).as(s"in_$r"))), Seq(r), "left")
          .withColumn(w,
            when(col(s"in_$r").isNotNull, col(r)).otherwise(lit(Unk)))
    }.select(col("doc_id"), col("w1"), col("w2"), col("w3"))
  }

  /** One trigram's STUPID-BACKOFF surprise as decimal(38,0) — the
    * order-3 scoring rule, exact-integer end to end:
    *
    *   seen trigram:  (Scale * c(w1w2))            div c(w1w2w3)
    *   backed off:    (Scale * 5 * (c(w2) + V))    div (2 * (c(w2w3)+1))
    *
    * The trigram level is the plain inverse conditional probability
    * (c(w1w2) from the bi table — always >= c(w1w2w3) under symmetric
    * learn/forget, so the ratio is a true inverse probability); the
    * backoff level is [[surpriseBigram]]'s Laplace score on (w2,w3)
    * times 1/α = [[BackoffNum]]/[[BackoffDen]] — it terminates at the
    * always-defined bigram floor, so no unigram table or corpus total
    * is needed and every count the rule touches lives in the probed
    * buckets {hash(w1), hash(w2)}. DuckDB replays it in HUGEINT
    * (q:`curate_lm3_route`).
    */
  private[graft] def surpriseTrigram(c12: Column, c123: Column,
                                     c2: Column, c23: Column,
                                     v: Long): Column =
    when(coalesce(c123, lit(0L)) > 0L,
      idiv(coalesce(c12, lit(0L)).cast("decimal(38,0)") * lit(Scale),
        c123.cast("decimal(38,0)")))
      .otherwise(idiv(
        (coalesce(c2, lit(0L)) + lit(v)).cast("decimal(38,0)") *
          lit(BackoffNum * Scale),
        (lit(BackoffDen) * (coalesce(c23, lit(0L)) + lit(1L)))
          .cast("decimal(38,0)")))

  /** TRAIN: build the stored LM from the reference corpus — frozen
    * top-`vocabTop` vocabulary (cnt desc, tok asc — the
    * [[TextAnalysis.bigramLmScore]] tie order), mapped bigram counts as the
    * LSM base segment, one committed manifest. Repeatable: the whole train
    * is deterministic aggregation, no sampling.
    *
    * `order = 3` additionally stores the trigram counts (`tri/seg=N`,
    * bucketed by hash(w1) like `bi`) and flips [[lmRoute]] to the
    * Stupid-Backoff scorer — the bi table keeps serving double duty as
    * the trigram level's context counts AND the backoff level, so the
    * two tables can never drift apart under learn/forget (both move in
    * one transaction).
    */
  def writeLmIndex(refDocs: DataFrame, dir: String, vocabTop: Int = 50000,
                   nBuckets: Int = 16, idCol: String = "doc_id",
                   textCol: String = "text", order: Int = 2): Unit = {
    require(vocabTop > 0 && nBuckets > 0, "vocabTop and nBuckets must be > 0")
    require(order == 2 || order == 3, s"order must be 2 or 3 (got $order)")
    val spark = refDocs.sparkSession
    import spark.implicits._
    IndexCommit.deleteTree(java.nio.file.Paths.get(dir))
    refDocs.select(explode(split(col(textCol), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(vocabTop)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/vocab")
    // read the materialized vocab back: the train-time mapping must go
    // through EXACTLY the frozen rows appends will read, and the top-k
    // recompute is not free
    val vocab = spark.read.parquet(s"$dir/vocab")
    val v = vocab.count() + 1 // + <unk>
    // bi and tri both derive only from the frozen vocab read-back and
    // write disjoint LSM roots — concurrent jobs (guide §2.6)
    StoredIndex.parallelStages(Seq(
      () => StoredIndex.writeByPart(
        mappedBigrams(refDocs, vocab, idCol, textCol)
          .groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
          .withColumn("wb", wbCol(nBuckets)),
        "wb", s"$dir/bi/seg=0"))
      ++ (if (order == 3)
            Seq(() => StoredIndex.writeByPart(
              mappedTrigrams(refDocs, vocab, idCol, textCol)
                .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("cnt"))
                .withColumn("wb", wbCol(nBuckets)),
              "wb", s"$dir/tri/seg=0"))
          else Nil))
    Seq((vocabTop, v, nBuckets, order))
      .toDF("vocab_top", "v", "nbuckets", "ordern")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    IndexCommit.commitFiles(dir, IndexCommit.walkDataFiles(dir))
  }

  /** One count-delta publish — bi always, tri when the model is order 3
    * — the shared learn/forget path (failpoints `lm-staged` /
    * `lm-before-commit`): both tables flip in one commit, and a no-op
    * when the deltas are empty. Returns the number of delta rows.
    */
  private def appendCountDeltas(docs: DataFrame, dir: String, idCol: String,
                                textCol: String, cnt: Column): Long =
    StoredIndex.mutate(dir, "lm") { t =>
      val spark = docs.sparkSession
      val (_, _, nb, ord) = metaOf(spark, dir, None)
      val vocab = vocabOf(spark, dir, None)
      val delta = mappedBigrams(docs, vocab, idCol, textCol)
        .groupBy("w1", "w2").agg(cnt.as("cnt"))
      val triDelta = if (ord < 3) None else Some(
        mappedTrigrams(docs, vocab, idCol, textCol)
          .groupBy("w1", "w2", "w3").agg(cnt.as("cnt")))
      val n = delta.count() + triDelta.fold(0L)(_.count())
      if (n > 0) {
        StoredIndex.parallelStages(Seq(
          () => StoredIndex.writeByPart(delta.withColumn("wb", wbCol(nb)),
            "wb", t.stage("bi")))
          ++ triDelta.map(d => () =>
            StoredIndex.writeByPart(d.withColumn("wb", wbCol(nb)),
              "wb", t.stage("tri"))).toSeq)
        IndexCommit.hit("lm-staged")
        t.moveToNextSeg("bi", "bi", "seg=")
        if (triDelta.nonEmpty) t.moveToNextSeg("tri", "tri", "seg=")
      }
      n
    }

  /** LEARN: fold a new slice of the reference corpus into the stored
    * counts — one positive delta segment of its bigram counts, mapped
    * through the FROZEN vocabulary (new surface forms count as `<unk>`
    * until a rebuild retrains the vocab; the IVF frozen-quantizer
    * contract). Empty/short batches are a NO-OP (no segment, no version).
    * Returns the number of delta rows written.
    */
  def appendLmCounts(newRefDocs: DataFrame, dir: String,
                     idCol: String = "doc_id",
                     textCol: String = "text"): Long =
    appendCountDeltas(newRefDocs, dir, idCol, textCol, count(lit(1)))

  /** FORGET: erase a reference slice's contribution — the SAME delta its
    * learn wrote, NEGATED (takedowns / GDPR erasure of reference
    * documents; the budget-gate refund discipline: the ledger stays
    * append-only and auditable, [[compactLmCounts]] folds positive and
    * negative deltas alike and drops annihilated grams). The caller
    * asserts the docs were previously learned — like the refund, no
    * clamping is applied, so an over-forget is visible in the history,
    * not silently absorbed. Returns the number of delta rows written.
    */
  def forgetLmCounts(docs: DataFrame, dir: String,
                     idCol: String = "doc_id",
                     textCol: String = "text"): Long =
    appendCountDeltas(docs, dir, idCol, textCol, -count(lit(1)))

  /** Fold the bi LSM back to ONE segment once the per-learn delta segments
    * exceed `maxSegments` (the tri LSM folds with it) — merged counts are
    * unchanged by construction (decisions before and after the fold are
    * identical); grams whose merged count annihilated to zero are
    * physically dropped. Returns the number of folded segments (0 = under
    * budget, no-op).
    */
  def compactLmCounts(spark: SparkSession, dir: String,
                      maxSegments: Int = 8): Int =
    StoredIndex.mutate(dir, "lm-compact") { t =>
      // read only when a fold is due: an under-budget call runs no job
      lazy val (_, _, nb, ord) = metaOf(spark, dir, None)
      def fold(table: String, keys: Seq[String], budget: Int): Int =
        StoredIndex.foldLsm(t, table,
            keys.map(k => s"$k STRING").mkString(", ") +
              ", cnt BIGINT, seg INT, wb BIGINT",
            "seg=", budget, Some("wb"))(segs =>
          StoredIndex.lsmSum(keys, "cnt")(segs).filter(col("cnt") =!= 0L)
            .withColumn("wb", wbCol(nb)))
      val segs = fold("bi", Seq("w1", "w2"), maxSegments)
      if (segs > 0 && ord >= 3) fold("tri", Seq("w1", "w2", "w3"), 0)
      segs
    }

  /** Nightly-ops policy driver for the lm family (dispatched by
    * [[graft.sources.StoredIndex.maintain]]): folds the bi LSM when its
    * segment count exceeds the budget, else a no-op audit row. Idempotent —
    * the fold leaves one segment, so a second run is `noop`.
    */
  def maintainLmIndex(spark: SparkSession, dir: String,
                      maxSegments: Int = 8): Maintenance = {
    val folded = compactLmCounts(spark, dir, maxSegments)
    Maintenance("lm", if (folded > 0) "compact" else "noop", folded.toLong)
  }

  /** DRIFT SIGNAL — the [[Similarity.ivfDriftStats]] analog for the LM
    * family: how well the FROZEN model still covers an arrival slice.
    * One aggregate row: token count, OOV tokens (outside the frozen
    * vocab), bigram count, and bigrams UNSEEN by the stored counts.
    * Rising OOV/unseen fractions mean the reference corpus no longer
    * represents the arrivals — the operator that answers "when do we
    * retrain" (a rebuild retrains vocab+counts from a fresh reference;
    * the gate itself stays exact against whatever is committed). Bounded
    * work: the batch's tokens/bigrams + one wb-pruned count probe.
    * Identity-free by construction — the stats aggregate over token and
    * bigram OCCURRENCES, so no id column is required (or guessed): the
    * bigram explode runs under a synthetic row id.
    */
  def lmOovStats(batch: DataFrame, dir: String,
                 textCol: String = "text",
                 asOf: Option[Int] = None): DataFrame = {
    val spark = batch.sparkSession
    val (_, _, nb, _) = metaOf(spark, dir, asOf)
    val vocab = vocabOf(spark, dir, asOf)
    val toks = batch.select(explode(split(col(textCol), " ")).as("tok"))
    val tokStats = toks
      .join(broadcast(vocab.select(col("tok"), lit(1).as("inv"))),
        Seq("tok"), "left")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("inv").isNull, 1L).otherwise(0L)).as("n_oov"))
    val bg = mappedBigrams(
      batch.select(monotonically_increasing_id().as("__row"), col(textCol)),
      vocab, idCol = "__row", textCol = textCol)
    val wanted = StoredIndex.distinctKeys(bg.select(wbCol(nb).as("wb")))
      .map(_.getLong(0)).toSeq
    val bi = StoredIndex.readTable(spark, s"$dir/bi",
        "w1 STRING, w2 STRING, cnt BIGINT, seg INT, wb BIGINT", asOf)
      .filter(col("wb").isin(wanted: _*))
      .groupBy("w1", "w2").agg(sum(col("cnt")).as("cnt"))
    val bgStats = bg.join(bi, Seq("w1", "w2"), "left")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("cnt").isNull || col("cnt") <= 0L, 1L).otherwise(0L))
          .as("n_unseen"))
    tokStats.crossJoin(bgStats)
      .select(col("n_tokens"), col("n_oov"), col("n_bigrams"),
        col("n_unseen"),
        (col("n_oov").cast("double") / col("n_tokens")).as("oov_frac"),
        (col("n_unseen").cast("double") / col("n_bigrams"))
          .as("unseen_frac"))
  }

  /** DECIDE one arrival batch against the committed model: per doc the
    * bigram surprise sum under the stored counts, admitted iff the mean
    * surprise is at or under `thrMean` (scaled by [[Scale]]; pick the
    * threshold from the reference distribution — q:`curate_lm_route` uses
    * the eval median). Docs under two tokens carry NO evidence and are
    * ADMITTED (n_bigrams 0, surprise_sum 0) — a gate answers for every
    * arrival. Returns (doc_id, n_bigrams, surprise_sum decimal(38,0),
    * admitted).
    *
    * Scale: ONE bounded driver collect (the batch's probed `wb` buckets,
    * <= nbuckets values regardless of batch size) pushed as a partition
    * filter on the bi LSM scan; context counts derive from the SAME pruned
    * slice (a w1's bucket always covers all its (w1,*) rows — `wb` hashes
    * w1 only); everything else is batch-sized. `asOf` serves any committed
    * version (quota-audit/reproducibility reads, the family contract).
    */
  def lmRoute(batch: DataFrame, dir: String, thrMean: Long,
              idCol: String = "doc_id", textCol: String = "text",
              asOf: Option[Int] = None): DataFrame = {
    val spark = batch.sparkSession
    val (_, v, nb, ord) = metaOf(spark, dir, asOf)
    if (ord >= 3) lm3Route(batch, dir, thrMean, idCol, textCol, asOf, v, nb)
    else {
      val vocab = vocabOf(spark, dir, asOf)
      val bg = mappedBigrams(batch, vocab, idCol, textCol)
      // bounded collect: the batch's probed buckets (<= nbuckets values)
      // — from the cheap distinct-token pass, not a second bigram pass
      val wanted = probedBuckets(batch, vocab, nb, textCol)
      val pruned = StoredIndex.readTable(spark, s"$dir/bi",
          "w1 STRING, w2 STRING, cnt BIGINT, seg INT, wb BIGINT", asOf)
        .filter(col("wb").isin(wanted: _*))
      val bi = pruned.groupBy("w1", "w2").agg(sum(col("cnt")).as("cnt"))
      val ctx = pruned.groupBy("w1").agg(sum(col("cnt")).as("ctx"))
      val scored = bg
        .join(bi, Seq("w1", "w2"), "left")
        .join(ctx, Seq("w1"), "left")
        .select(col("doc_id"),
          surpriseBigram(col("ctx"), col("cnt"), v).as("surprise"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_bigrams"),
          sum(col("surprise")).as("surprise_sum"))
      batch.select(col(idCol).cast("long").as("doc_id"))
        .join(scored, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          coalesce(col("surprise_sum"),
            lit(0L).cast("decimal(38,0)")).as("surprise_sum"),
          (col("n_bigrams").isNull ||
            col("surprise_sum") <= lit(thrMean).cast("decimal(38,0)") *
              col("n_bigrams")).as("admitted"))
    }
  }

  /** The order-3 route: per-trigram [[surpriseTrigram]] under the
    * stored counts, admitted iff the mean is at or under `thrMean`.
    * Docs under three tokens carry no evidence and are ADMITTED
    * (n_trigrams 0, surprise_sum 0). Returns (doc_id, n_trigrams,
    * surprise_sum decimal(38,0), admitted).
    *
    * Pruning: the probed bucket set is {hash(w1), hash(w2)} per batch
    * trigram (still <= nbuckets driver values) — the trigram count and
    * its context c(w1w2) live in bucket hash(w1); the backoff pair
    * (w2,w3) and its context c(w2) = Σ_x c(w2,x) live ENTIRELY in
    * bucket hash(w2), because `wb` hashes a row's first token. Both
    * contexts derive from the same pruned bi fold — nothing extra is
    * stored, so backoff can never desync from the trigram level.
    */
  private def lm3Route(batch: DataFrame, dir: String, thrMean: Long,
                       idCol: String, textCol: String, asOf: Option[Int],
                       v: Long, nb: Int): DataFrame = {
    val spark = batch.sparkSession
    val vocab = vocabOf(spark, dir, asOf)
    val tg = mappedTrigrams(batch, vocab, idCol, textCol)
    // superset of the buckets of every trigram's (w1, w2) — see
    // probedBuckets; one distinct-token pass instead of a second full
    // trigram construction
    val wanted = probedBuckets(batch, vocab, nb, textCol)
    val prunedBi = StoredIndex.readTable(spark, s"$dir/bi",
        "w1 STRING, w2 STRING, cnt BIGINT, seg INT, wb BIGINT", asOf)
      .filter(col("wb").isin(wanted: _*))
    val prunedTri = StoredIndex.readTable(spark, s"$dir/tri",
        "w1 STRING, w2 STRING, w3 STRING, cnt BIGINT, seg INT, wb BIGINT",
        asOf)
      .filter(col("wb").isin(wanted: _*))
    val bi = prunedBi.groupBy("w1", "w2").agg(sum(col("cnt")).as("cnt"))
    val ctx = prunedBi.groupBy("w1").agg(sum(col("cnt")).as("ctx"))
    val tri = prunedTri.groupBy("w1", "w2", "w3")
      .agg(sum(col("cnt")).as("c123"))
    val scored = tg
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(bi.select(col("w1"), col("w2"), col("cnt").as("c12")),
        Seq("w1", "w2"), "left")
      .join(bi.select(col("w1").as("w2"), col("w2").as("w3"),
        col("cnt").as("c23")), Seq("w2", "w3"), "left")
      .join(ctx.select(col("w1").as("w2"), col("ctx").as("c2")),
        Seq("w2"), "left")
      .select(col("doc_id"), surpriseTrigram(col("c12"), col("c123"),
        col("c2"), col("c23"), v).as("surprise"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_trigrams"),
        sum(col("surprise")).as("surprise_sum"))
    batch.select(col(idCol).cast("long").as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        coalesce(col("surprise_sum"),
          lit(0L).cast("decimal(38,0)")).as("surprise_sum"),
        (col("n_trigrams").isNull ||
          col("surprise_sum") <= lit(thrMean).cast("decimal(38,0)") *
            col("n_trigrams")).as("admitted"))
  }
}
