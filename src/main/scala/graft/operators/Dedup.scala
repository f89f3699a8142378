package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.gcolumns.simhash64
import graft.sources.{IndexCommit, StoredIndex}

/** Deduplication operators for LLM-training-data pipelines (north star in
  * /root/repo/BASELINE.json): exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design: nothing here is O(n^2). Exact dedup is one hash shuffle on
  * the text (at 100 TB you'd shuffle on a 128-bit content hash, not the text
  * itself — see [[exactDedupByHash]]). The near-dup operators all follow the
  * inverted-index / LSH-bucket pattern: explode per-doc features, shuffle by
  * feature/bucket, join only within buckets, then exact-verify the candidate
  * pairs. Bucket skew (a shingle shared by millions of docs) is bounded by
  * [[maxBucketSize]]: over-dense buckets are dropped, the standard stop-word
  * treatment in near-dup mining.
  */
object Dedup {

  /** Buckets larger than this are dropped from candidate generation —
    * bounded join fan-out under key skew (document-frequency cut).
    */
  val maxBucketSize = 1000

  // -------------------------------------------------------------------------
  // Exact dedup
  // -------------------------------------------------------------------------

  /** Exact dedup, deterministic keeper (min id per identical text).
    * `dropDuplicates` would pick an arbitrary row; group-min is stable and
    * oracle-checkable. One shuffle on the group key.
    */
  def exactDedup(docs: DataFrame, textCol: String = "text",
                 idCol: String = "doc_id"): DataFrame =
    docs.groupBy(col(textCol))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** At-scale variant: shuffle on a 128-bit content hash instead of moving
    * full document bodies through the exchange. Collision probability at
    * 10^12 docs is ~10^-14 (birthday bound on 128 bits).
    */
  def exactDedupByHash(docs: DataFrame, textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame =
    docs.select(md5(col(textCol)).as("content_hash"), col(idCol))
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  // -------------------------------------------------------------------------
  // Shingling + exact n-gram Jaccard (the verification primitive)
  // -------------------------------------------------------------------------

  /** Distinct k-word shingles per doc: (id, shingle). Docs shorter than k
    * words shingle to nothing. The shingling itself is the codegen'd
    * [[graft.functions.WordShingles]] expression — the higher-order
    * `transform(sequence)/slice/concat_ws` formulation it replaced evaluated
    * interpreted and dominated every near-dup query's scan time.
    */
  def shingles(docs: DataFrame, k: Int = 3, textCol: String = "text",
               idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol).as("id"),
        graft.functions.gcolumns.word_shingles(col(textCol), k).as("sh"))
      .select(col("id"), explode(col("sh")).as("shingle"))

  /** Kept (df-cut) distinct shingles per doc, with each shingle's global
    * document frequency: (id, shingle, df).
    *
    * Two-pass df cut: document frequency is pre-aggregated — a
    * partial-aggregate (map-side combine) shuffle that stays O(1) memory on
    * a pathologically hot shingle — and the cut applied by join BEFORE
    * anything materializes a posting list, so no aggregation buffer ever
    * holds a stop-word shingle's doc list. Cached via [[graft.Caches]]
    * (scoped, one live corpus) and shared by the exact-Jaccard and
    * MinHash-LSH paths, which each read it 3-4 times per query.
    */
  private[graft] def keptShingles(docs: DataFrame, k: Int): DataFrame = {
    val key = s"${docs.queryExecution.analyzed.semanticHash()}|k=$k"
    graft.Caches.cached("dedup-shingles", key) {
      // raw exploded shingles cached too: the df pass and the join probe
      // below each consume them, and re-shingling is the scan-dominant cost
      val sh = graft.Caches.cached("dedup-shingles-raw", key)(shingles(docs, k))
      val df = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxBucketSize)
      sh.join(df, "shingle")
    }
  }

  /** Kept-shingle count per doc (the Jaccard denominators). */
  private def docSizes(sh: DataFrame): DataFrame =
    sh.groupBy(col("id")).agg(count(lit(1)).as("n"))

  /** Per-doc sorted kept-shingle ARRAYS (id, sa, n): the verification-side
    * layout — one row per doc, so candidate verification is two
    * broadcast-sized joins instead of a posting-list explosion. Cached with
    * the other shingle-index frames (one row per doc ≪ one per posting).
    */
  private[operators] def docShingleArrays(docs: DataFrame, k: Int): DataFrame = {
    val key = s"${docs.queryExecution.analyzed.semanticHash()}|k=$k"
    graft.Caches.cached("dedup-shingle-arrays", key) {
      keptShingles(docs, k).groupBy(col("id"))
        .agg(sort_array(collect_list(col("shingle"))).as("sa"),
          count(lit(1)).as("n"))
    }
  }

  /** Exact verification restricted to a candidate-pair set: each pair joins
    * to the two docs' sorted shingle arrays and the intersection is counted
    * INSIDE the row (`array_intersect` on distinct arrays), then the
    * Jaccard threshold filter. O(|candidates| x shingles/doc) compute with
    * no post-candidate aggregation shuffle — the filters' false positives
    * cost array intersections, never exchange volume (the previous
    * explode-join moved |candidates| x shingles/doc ROWS through a shuffle
    * + pair-keyed aggregation, which dominated the whole near-dup family's
    * wall clock). Join strategy is left to AQE: at test scale the per-doc
    * array table auto-broadcasts; at 100 TB it hash-joins on the doc id
    * with the (small) candidate side driving.
    */
  private def verifiedJaccard(cand: DataFrame, docs: DataFrame, k: Int,
                              threshold: Double): DataFrame = {
    val arrays = docShingleArrays(docs, k)
    cand
      .join(arrays.select(col("id").as("da"), col("sa").as("xa"),
        col("n").as("na")), "da")
      .join(arrays.select(col("id").as("db"), col("sa").as("xb"),
        col("n").as("nb")), "db")
      // both sides are sort_array'd per-doc arrays -> linear merge count
      .withColumn("inter", graft.functions.gcolumns
        .sorted_intersect_count(col("xa"), col("xb")))
      .withColumn("jaccard",
        col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("da", "db", "jaccard")
  }

  /** Exact pairwise Jaccard >= threshold via prefix filtering (PPJoin,
    * Xiao et al. 2008 / All-Pairs, Bayardo et al. 2007): order each doc's
    * shingles by ascending global df; for docs processed in (size, id)
    * order, any pair at Jaccard >= t must share a shingle between the
    * smaller doc's INDEX prefix (first floor(((1-t)/(1+t))*n)+1 shingles)
    * and the larger doc's PROBING prefix (first floor((1-t)*n)+1). The
    * candidate join probes the longer prefix against the asymmetric ~40%
    * shorter indexed one — the thinnest posting lists in the index — with
    * the length filter (n_small >= t*n_large) and the PPJoin positional
    * filter (match positions cap the achievable overlap at
    * 1 + min(n_x - rn_x, n_y - rn_y) >= t/(1+t)*(n_x+n_y)) applied inside
    * the join, then exact candidate-only verification.
    *
    * vs the round-1 plan (pair generation inside every posting list): the
    * quadratic blowup on frequent shingles is gone; remaining work is
    * proportional to the candidate count, which the filters hold near the
    * true result size. The epsilons lengthen prefixes / loosen bounds by
    * one ulp so double rounding can only ADD candidates (verification
    * keeps the output exact either way — and the DuckDB oracle plus the
    * LSH-equality spec independently cross-check the bound derivation).
    */
  def ngramJaccardPairs(docs: DataFrame, k: Int = 3,
                        threshold: Double = 0.6): DataFrame = {
    val key = s"${docs.queryExecution.analyzed.semanticHash()}|k=$k|t=$threshold"
    // the verified pair graph is tiny (O(duplicates)) and consumed by
    // several downstream operators (clustering, corpus dedup) — cache the
    // OUTPUT so each consumer doesn't re-run candidate generation + verify
    graft.Caches.cached("dedup-pairs", key) {
      ngramJaccardPairsUncached(docs, k, threshold, key)
    }
  }

  private[graft] def ngramJaccardPairsUncached(docs: DataFrame, k: Int,
                                               threshold: Double,
                                               key: String): DataFrame = {
    val sh = keptShingles(docs, k)
    val w = Window.partitionBy(col("id")).orderBy(col("df"), col("shingle"))
    // cached: both join sides below consume it (Spark would otherwise run
    // the window + size join once per side)
    val pre = graft.Caches.cached("dedup-prefix", key) {
      sh.join(docSizes(sh), "id")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <=
          floor(lit(1.0 - threshold) * col("n") + lit(1e-9)) + 1)
        .select(col("id"), col("n"), col("rn"), col("shingle"))
    }
    val idx = pre.filter(col("rn") <=
      floor(lit((1.0 - threshold) / (1.0 + threshold)) * col("n") + lit(1e-9))
        + 1)
    val needed =
      lit(threshold / (1.0 + threshold)) * (col("x.n") + col("y.n")) - lit(1e-9)
    // x = smaller doc (by (n, id) processing order), indexed prefix;
    // y = larger doc, probing prefix
    val cand = idx.as("x").join(pre.as("y"),
        col("x.shingle") === col("y.shingle") &&
          (col("x.n") < col("y.n") ||
            (col("x.n") === col("y.n") && col("x.id") < col("y.id"))) &&
          col("x.n") >= lit(threshold) * col("y.n") - lit(1e-9) &&
          lit(1) + least(col("x.n") - col("x.rn"), col("y.n") - col("y.rn"))
            >= needed)
      .select(least(col("x.id"), col("y.id")).as("da"),
        greatest(col("x.id"), col("y.id")).as("db"))
      .distinct()
    verifiedJaccard(cand, docs, k, threshold)
  }

  // -------------------------------------------------------------------------
  // MinHash + banded LSH
  // -------------------------------------------------------------------------

  /** MinHash signatures as array<bigint>: `numHashes` seeded-xxhash64
    * permutations, min per seed, one pass over the exploded kept shingles
    * (the df-cut sets — stop-word shingles carry no near-dup identity, and
    * sharing [[keptShingles]] keeps signature and verification consistent).
    *
    * Implementation note: measured against the typed
    * [[graft.functions.MinHashAggregator]] UDAF (one buffer per group,
    * ObjectHashAggregate), the `numHashes` codegen'd `min(xxhash64(...))`
    * columns below are ~1.7x faster at this signature width — whole-stage
    * codegen + primitive buffers beat the object aggregation path. The UDAF
    * stays available for sketch shapes codegen can't express (see its doc).
    */
  def minhashSignatures(docs: DataFrame, k: Int = 3,
                        numHashes: Int = 32): DataFrame = {
    val sh = keptShingles(docs, k)
    val mins = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("shingle"))).as(s"mh$i"))
    sh.groupBy("id").agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until numHashes).map(i => col(s"mh$i")): _*)
        .as("sig"))
  }

  /** Banded signatures, small-bucket-cut: (id, band, bh) rows for every
    * doc×band whose bucket holds <= [[maxBucketSize]] members. Shared by
    * the batch pair search and the stored streaming index ([[writeLshIndex]]).
    * Cached because the bucket-size cut and both sides of the candidate
    * self-join each consume the banded signatures (Spark would otherwise
    * recompute the signature aggregation once per consumer).
    */
  /** Banded bucket keys of a signature frame (id, sig): one (id, band,
    * bh) row per band — the ONE banding derivation every LSH surface
    * shares (batch buckets, stored-index writes, append re-signing), so
    * signatures can never band differently between the paths.
    */
  private def banded(sig: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(lit(b), slice(col("sig"), b * rows + 1, rows)).as("bh"))
    }
    sig.select(col("id"), explode(array(bandCols: _*)).as("bucket"))
      .select(col("id"), col("bucket.band").as("band"),
        col("bucket.bh").as("bh"))
  }

  private[operators] def lshInBuckets(docs: DataFrame, k: Int,
                                      numHashes: Int, bands: Int): DataFrame = {
    val key = s"${docs.queryExecution.analyzed.semanticHash()}" +
      s"|k=$k|h=$numHashes|b=$bands"
    val bucketed = graft.Caches.cached("dedup-lsh-buckets", key) {
      banded(minhashSignatures(docs, k, numHashes), numHashes, bands)
    }
    val smallBuckets = bucketed.groupBy("band", "bh")
      .agg(count(lit(1)).as("n")).filter(col("n") <= maxBucketSize)
      .select("band", "bh")
    bucketed.join(smallBuckets, Seq("band", "bh"))
  }

  /** Banded LSH candidate pairs, exact-verified.
    *
    * bands x rowsPerBand = numHashes. With 16 bands of 2 rows, a pair at
    * Jaccard 0.6 is caught with prob 1-(1-0.6^2)^16 ~ 0.999 — high recall at
    * the verification threshold, and the exact-Jaccard verify step removes
    * every false positive, so the output equals [[ngramJaccardPairs]] with
    * near-certainty (the oracle checks exactly that).
    *
    * Scale: signatures are 1 row/doc; candidates come from grouping by
    * (band, band-hash) — a bounded-key shuffle; no full cross join anywhere.
    */
  def minhashLshPairs(docs: DataFrame, k: Int = 3, numHashes: Int = 32,
                      bands: Int = 16, threshold: Double = 0.6): DataFrame = {
    val inBuckets = lshInBuckets(docs, k, numHashes, bands)
    val candidates = inBuckets.as("a")
      .join(inBuckets.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("da"), col("b.id").as("db"))
      .distinct()
    // exact verification restricted to the candidate set (the round-1 fix:
    // intersections come from joining candidates back to per-doc shingle
    // arrays — O(candidates) — not from a corpus-wide pair generation that
    // would make the LSH screen pointless).
    verifiedJaccard(candidates, docs, k, threshold)
  }

  // -------------------------------------------------------------------------
  // Streaming near-dup routing (stored LSH index + per-arrival screen)
  // -------------------------------------------------------------------------

  /** Persist the corpus-side LSH index for [[minhashRoute]] /
    * [[jaccardRoute]] / [[appendLshIndex]] / [[pairsFromIndex]]: under
    * `dir` —
    *  - `arrays`: per-doc sorted kept-shingle arrays (id, sa, n) for
    *    in-row exact verification AND for the append path's affected-doc
    *    rebuild — PARTITIONED by id range (`pid = id div idRangeSize`),
    *    so [[appendLshIndex]] rewrites only the ranges holding touched
    *    docs (this is the corpus-scale table: shingle arrays are
    *    text-sized);
    *  - `buckets_raw`: the UNCUT banded signatures (id, band, bh), same
    *    id-range partitioning — the maintenance-side source of truth
    *    (bucket sizes are not monotone, so a filtered view alone could
    *    not be maintained);
    *  - `bcounts`: the per-(band, bh) bucket-occupancy counts as an LSM
    *    (append-only `seg-*` delta segments summed at read, like `df`) —
    *    the statistic behind the bucket-size cut. The cut COMPLEMENT
    *    ([[servedOversize]]: buckets with merged count >
    *    [[maxBucketSize]]) derives from the merged view and is cached
    *    per committed index version; the SERVED search space is
    *    raw ANTI-JOIN broadcast(oversize) ([[servedBuckets]]) and no
    *    materialized filtered copy of the corpus-scale table exists to
    *    rewrite. An append writes one O(touched buckets) delta segment —
    *    never re-aggregating `buckets_raw` (the r11 shape, whose
    *    oversize re-derive was the append path's one whole-table pass);
    *  - `df`: every shingle's global document frequency, same LSM shape;
    *  - `prefixes`: each doc's PROBING PREFIX under a static global
    *    shingle order — the first floor((1-t)*n)+1 kept shingles by
    *    (xxhash64(shingle), shingle) — as (id, n, shingle) posting rows,
    *    id-range partitioned like `arrays`. The prefix-filter theorem
    *    (Chaudhuri et al. 2006 / Bayardo et al. 2007): two sets at
    *    Jaccard >= t share an element of their probe prefixes under ANY
    *    common total order, so [[jaccardRouteRaw]]'s candidate join over
    *    this table is EXACT-complete. The order is a pure hash — append-
    *    invariant, unlike the batch path's df-order heuristic, so
    *    incremental maintenance never reorders untouched docs' prefixes;
    *  - `stop`: the df-cut stop shingles (df > [[maxBucketSize]]) so an
    *    arriving doc can reproduce the batch kept-set without the corpus;
    *  - `meta.json`: the partition range size + prefix threshold, carried
    *    so appends partition and prefix identically;
    *  - `_manifests/manifest-N`: the committed file list
    *    ([[graft.sources.IndexCommit]]). Readers resolve exactly one
    *    committed version; [[appendLshIndex]] publishes all its table
    *    changes in one atomic manifest rename, so a crash mid-append
    *    leaves this bootstrap (or the previous append) intact.
    *
    * This writer is the BOOTSTRAP, not an in-place migration: it clears
    * `dir` and rebuilds from scratch (readers of a live index keep
    * serving only across [[appendLshIndex]], which is the in-place path).
    */
  def writeLshIndex(docs: DataFrame, dir: String, k: Int = 3,
                    numHashes: Int = 32, bands: Int = 16,
                    idRangeSize: Long = 1L << 20,
                    prefixThreshold: Double = 0.6,
                    commit: Boolean = true): Unit = {
    val spark = docs.sparkSession
    graft.sources.IndexCommit.deleteTree(java.nio.file.Paths.get(dir))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "meta.json"),
      s"""{"idRangeSize":$idRangeSize,"prefixThreshold":$prefixThreshold}"""
        .getBytes("UTF-8"))
    // r18: the build is THREE independent chains over the same (cached)
    // shingle frames — {buckets_raw -> bcounts}, {arrays -> prefixes},
    // {df -> stop} — run as concurrent jobs (guide §2.6) so the fan of
    // small write actions costs ~max(chain), not Σ. Each chain's second
    // table derives from a READ-BACK of the first (bootstrap readbacks
    // are DIRECT directory reads — no manifest exists yet, or a stale one
    // from a cleared rebuild, which must not pin); `stop` previously
    // re-ran the whole shingles + groupBy aggregation a second time.
    graft.sources.StoredIndex.parallelStages(Seq(
      () => {
        val raw0 =
          banded(minhashSignatures(docs, k, numHashes), numHashes, bands)
        graft.sources.StoredIndex.writeByPart(
          raw0.withColumn("pid", expr(s"id div $idRangeSize")),
          "pid", s"$dir/buckets_raw")
        StoredIndex.readDirTable(spark, s"$dir/buckets_raw",
            "id BIGINT, band INT, bh BIGINT, pid BIGINT")
          .groupBy("band", "bh").agg(count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(s"$dir/bcounts/seg-00000")
      },
      () => {
        graft.sources.StoredIndex.writeByPart(
          docShingleArrays(docs, k)
            .withColumn("pid", expr(s"id div $idRangeSize")),
          "pid", s"$dir/arrays")
        graft.sources.StoredIndex.writeByPart(
          prefixRows(StoredIndex.readDirTable(spark, s"$dir/arrays",
              "id BIGINT, sa ARRAY<STRING>, n BIGINT, pid BIGINT")
              .select("id", "sa", "n"), prefixThreshold)
            .withColumn("pid", expr(s"id div $idRangeSize")),
          "pid", s"$dir/prefixes")
      },
      () => {
        shingles(docs, k).groupBy("shingle")
          .agg(count(lit(1)).as("df"))
          .write.mode("overwrite").parquet(s"$dir/df/seg-00000")
        StoredIndex.readDirTable(spark, s"$dir/df/seg-00000",
            "shingle STRING, df BIGINT")
          .filter(col("df") > maxBucketSize)
          .select("shingle").write.mode("overwrite").parquet(s"$dir/stop")
      }))
    if (commit)
      graft.sources.IndexCommit.commitFiles(dir,
        graft.sources.IndexCommit.walkDataFiles(dir))
  }

  /** The (idRangeSize, prefixThreshold) an index was written with. */
  private def readMeta(dir: String): (Long, Double) = {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "meta.json")), "UTF-8")
    val range =
      """"idRangeSize":(\d+)""".r.findFirstMatchIn(txt).get.group(1).toLong
    val t = """"prefixThreshold":([0-9.]+)""".r.findFirstMatchIn(txt)
      .map(_.group(1).toDouble).getOrElse(0.6)
    (range, t)
  }

  // Shared stored-index glue lives in [[graft.sources.StoredIndex]] since
  // r13 (VERDICT r12 #6); the thin aliases below keep this family's many
  // internal call sites readable. Every read takes `asOf` — None serves
  // the latest committed version, Some(v) time-travels to manifest
  // version v (the [[graft.sources.IndexCommit.pinnedFilesAt]] surface).

  private[operators] def emptyFrame(spark: org.apache.spark.sql.SparkSession,
                         ddl: String): DataFrame =
    graft.sources.StoredIndex.emptyFrame(spark, ddl)

  private def rawBuckets(spark: org.apache.spark.sql.SparkSession,
                         dir: String,
                         asOf: Option[Int] = None): DataFrame =
    StoredIndex.readTable(spark, s"$dir/buckets_raw",
      "id BIGINT, band INT, bh BIGINT, pid BIGINT", asOf)

  private def mergedDf(spark: org.apache.spark.sql.SparkSession,
                       dir: String): DataFrame =
    graft.sources.StoredIndex.mergedLsm(spark, s"$dir/df",
      "shingle STRING, df BIGINT", Seq("shingle"), "df")

  private def mergedBcounts(spark: org.apache.spark.sql.SparkSession,
                            dir: String,
                            asOf: Option[Int] = None): DataFrame =
    graft.sources.StoredIndex.mergedLsm(spark, s"$dir/bcounts",
      "band INT, bh BIGINT, n BIGINT", Seq("band", "bh"), "n", asOf)

  /** The bucket-size-cut complement — (band, bh) of buckets whose merged
    * occupancy exceeds [[maxBucketSize]] — derived from the `bcounts` LSM
    * and CACHED per served commit (route consumers probe it every
    * micro-batch; the tiny result is stable between appends, so the
    * merge aggregation runs once per commit, not once per batch).
    */
  private[operators] def servedOversize(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      asOf: Option[Int] = None): DataFrame = {
    val id = graft.sources.StoredIndex.commitId(s"$dir/bcounts", asOf)
      .getOrElse("legacy")
    graft.Caches.cached("lsh-oversize", s"$dir|$id") {
      mergedBcounts(spark, dir, asOf).filter(col("n") > maxBucketSize)
        .select("band", "bh")
    }
  }

  /** The SERVED search space: uncut banded signatures minus the tiny
    * oversize-bucket complement (broadcast anti-join — no corpus-scale
    * filtered copy is ever materialized). Identical rows to
    * [[lshInBuckets]]'s cut. Tombstoned docs ([[deleteFromLshIndex]])
    * are excluded.
    */
  private[operators] def servedBuckets(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      asOf: Option[Int] = None): DataFrame = {
    val raw = rawBuckets(spark, dir, asOf).select("id", "band", "bh")
    antiTombstoned(spark, dir,
      raw.join(broadcast(servedOversize(spark, dir, asOf)),
        Seq("band", "bh"), "left_anti"), asOf)
  }

  /** Stored per-doc arrays without the partition column; tombstoned docs
    * excluded.
    */
  private def storedArrays(spark: org.apache.spark.sql.SparkSession,
                           dir: String,
                           asOf: Option[Int] = None): DataFrame =
    antiTombstoned(spark, dir,
      StoredIndex.readTable(spark, s"$dir/arrays",
        "id BIGINT, sa ARRAY<STRING>, n BIGINT, pid BIGINT", asOf), asOf)
      .select("id", "sa", "n")

  private[operators] def tombstoneIds(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      asOf: Option[Int] = None): DataFrame =
    graft.sources.StoredIndex.tombstoneIds(spark, dir, "lsh-tombstones",
      asOf)

  private[operators] def antiTombstoned(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      df: DataFrame, asOf: Option[Int] = None): DataFrame =
    graft.sources.StoredIndex.antiTombstoned(spark, dir, "lsh-tombstones",
      df, "id", asOf)

  /** INCREMENTAL index maintenance — grow a [[writeLshIndex]] index by a
    * new document batch without re-shingling or re-signing the corpus:
    * the continuously-ingested-corpus shape at 100 TB, where a nightly
    * full rebuild re-hashes petabytes to absorb a gigabyte drop.
    *
    * The key invariant is df MONOTONICITY under append-only growth:
    * document frequencies only grow, so the stop set only grows and
    * per-doc kept sets only SHRINK. An appended batch therefore affects
    * exactly (a) its own docs and (b) the old docs holding a shingle that
    * CROSSED the df cut in this append (`stopNew`) — everything else's
    * kept set, signature, and bucket rows are bit-identical to a full
    * rebuild, and are carried forward UNTOUCHED ON DISK: the corpus-scale
    * tables (`arrays`, `buckets_raw`) are id-range partitioned, and only
    * the ranges holding affected or new docs restage — IndexMaintenance-
    * Spec asserts unaffected ranges' files are byte-identical after an
    * append. With append-only ids, new docs land in the top ranges, so
    * rewrite IO is O(affected ranges + batch ranges), not O(index).
    *
    * Affected docs rebuild in-row from their stored arrays
    * (`array_except` the crossed shingles, re-sign via the same
    * `array_min(transform(..,xxhash64))` kernel [[minhashRoute]] uses —
    * bit-identical to the batch aggregation); new docs shingle once and
    * cut against the MERGED df (full-rebuild semantics by construction).
    * The bucket-occupancy statistic is an LSM (`bcounts`, r12): the
    * append writes one delta segment of staged-minus-old counts over the
    * touched ranges — bucket sizes are NOT monotone (an affected doc's
    * signature change can shrink a bucket), so deltas carry NEGATIVE
    * counts for removed rows — and the oversize complement derives from
    * the merged view at read ([[servedOversize]], cached per committed
    * version). NO whole-table pass remains anywhere in the append: every
    * read and write is O(touched ranges + batch), and the df/bcounts
    * merges are amortized into compaction.
    *
    * Durability: the whole append is one
    * [[graft.sources.StoredIndex.mutate]] change — replaced ranges retire
    * and every table publishes in the same commit (nested under the
    * curation state's transaction when `txn` is given);
    * IndexMaintenanceSpec kills it at each failpoint (`staged`,
    * `moved:<table>`, `before-commit`) and proves the previous version
    * keeps serving and a re-run converges.
    *
    * Precondition: `newDocs` ids are fresh (append-only corpus — an id
    * rewrite is a delete+append, which df monotonicity does not cover).
    */
  def appendLshIndex(newDocs: DataFrame, dir: String, k: Int = 3,
                     numHashes: Int = 32, bands: Int = 16,
                     idCol: String = "doc_id", textCol: String = "text",
                     compactSegmentsAt: Int = 8,
                     txn: Option[graft.sources.IndexTxn] = None): Unit =
    StoredIndex.mutate(dir, "", txn) { t =>
      val spark = newDocs.sparkSession
      val (rangeSize, prefixThreshold) = readMeta(dir)
      val oldDf = mergedDf(spark, dir)
      val oldArrays = storedArrays(spark, dir)
      val oldRaw = rawBuckets(spark, dir).select("id", "band", "bh")

      // merged document frequencies (outer sum), and the crossing set.
      // CROSSINGS can only involve shingles the batch touches, so the
      // crossing set is COLLECTED once here (tiny — <= one shingle per
      // maxBucketSize old postings) and every later consumer reads the
      // driver-side literal: nothing merged-derived may lazily re-execute
      // after the delta segment lands in the df directory below.
      val delta = shingles(newDocs, k, textCol, idCol)
        .groupBy("shingle").agg(count(lit(1)).as("ddf"))
      val merged = oldDf.join(delta, Seq("shingle"), "full_outer")
        .select(col("shingle"),
          (coalesce(col("df"), lit(0L)) + coalesce(col("ddf"), lit(0L)))
            .as("df"),
          coalesce(col("df"), lit(0L)).as("df_old"))
      val stopNewSeq: Seq[String] = merged
        .filter(col("df_old") <= maxBucketSize && col("df") > maxBucketSize)
        .select("shingle").collect().map(_.getString(0)).sorted.toSeq
      val stopNewLit = typedlit(stopNewSeq)

      // (a) old docs holding a crossed shingle: rebuild arrays + signatures
      // in-row from the stored sorted arrays (narrow columnar scan; the
      // overlap probe never explodes postings)
      val affected0 = oldArrays
        .filter(arrays_overlap(col("sa"), stopNewLit))
        .select(col("id"), array_except(col("sa"), stopNewLit).as("sa"))
      // a doc whose kept set empties out LEAVES the index (batch semantics:
      // only docs with >=1 kept shingle are indexed) — its old rows are
      // still removed below, so the id list is taken BEFORE the size cut
      val affectedIds = affected0.select("id")
      val affected = affected0.filter(size(col("sa")) > 0)
        .select(col("id"), col("sa"), size(col("sa")).cast("long").as("n"))
      // (b) new docs: shingle once, cut against the MERGED df
      val newKept = shingles(newDocs, k, textCol, idCol)
        .join(merged.filter(col("df") <= maxBucketSize).select("shingle"),
          Seq("shingle"))
        .groupBy(col("id"))
        .agg(sort_array(collect_list(col("shingle"))).as("sa"),
          count(lit(1)).as("n"))

      def signed(arr: DataFrame): DataFrame =
        banded(arr.select(col("id"),
          array((0 until numHashes).map(i =>
            array_min(transform(col("sa"), s => xxhash64(lit(i), s)))): _*)
            .as("sig")), numHashes, bands)

      // the id ranges this append touches: the affected docs' plus the new
      // batch's (tiny driver lists — one entry per range, not per doc)
      val pidOf = (df: DataFrame) => df
        .select(expr(s"id div $rangeSize").as("pid")).distinct()
      val touched = pidOf(affectedIds)
        .unionByName(pidOf(newKept.select("id"))).distinct()
        .collect().map(_.getLong(0)).toSet
      val touchedLit = touched.toSeq.sorted

      // ---- STAGE: every plan executes against the PINNED old tables
      // (reads are pinned by file list, not by directory)
      def stagePartitioned(content: DataFrame, table: String): Unit =
        StoredIndex.writeByPart(
          content.withColumn("pid", expr(s"id div $rangeSize"))
            .filter(col("pid").isin(touchedLit: _*)),
          "pid", t.stage(table))
      if (touchedLit.nonEmpty) {
        // pruned re-reads: filtering on the PARTITION column means the scan
        // of carried-forward rows touches only the affected ranges' files
        val oldArraysTouched = StoredIndex.readTable(spark, s"$dir/arrays",
            "id BIGINT, sa ARRAY<STRING>, n BIGINT, pid BIGINT")
          .filter(col("pid").isin(touchedLit: _*)).select("id", "sa", "n")
        val oldRawTouched = rawBuckets(spark, dir)
          .filter(col("pid").isin(touchedLit: _*)).select("id", "band", "bh")
        // two independent stage chains run as concurrent jobs (guide §2.6):
        // {arrays -> prefixes} and {buckets_raw -> bcounts}. Prefixes
        // re-derive in-row from the STAGED arrays readback (the post-append
        // truth for touched ranges); the static hash order never reorders
        // untouched docs' prefixes, so untouched ranges stay byte-identical
        // like the other partitioned tables. The bcounts delta is
        // staged-minus-old occupancy per bucket over the TOUCHED ranges
        // only — O(touched buckets) rows; no buckets_raw re-aggregation
        // remains anywhere in the append path (the r11 whole-table
        // oversize re-derive this LSM replaces).
        StoredIndex.parallelStages(Seq(
          () => {
            stagePartitioned(oldArraysTouched
              .join(affectedIds, Seq("id"), "left_anti")
              .unionByName(affected).unionByName(newKept), "arrays")
            stagePartitioned(prefixRows(StoredIndex.readDirTable(spark,
                t.stage("arrays"),
                "id BIGINT, sa ARRAY<STRING>, n BIGINT, pid BIGINT")
                .select("id", "sa", "n"), prefixThreshold), "prefixes")
          },
          () => {
            stagePartitioned(oldRawTouched
              .join(affectedIds, Seq("id"), "left_anti")
              .unionByName(signed(affected)).unionByName(signed(newKept)),
              "buckets_raw")
            StoredIndex.readDirTable(spark, t.stage("buckets_raw"),
                "id BIGINT, band INT, bh BIGINT, pid BIGINT")
              .select(col("band"), col("bh")).withColumn("n", lit(1L))
              .unionByName(oldRawTouched.select("band", "bh")
                .withColumn("n", lit(-1L)))
              .groupBy("band", "bh").agg(sum(col("n")).as("n"))
              .filter(col("n") =!= 0L)
              .write.mode("overwrite").parquet(t.stage("bcounts"))
          }))
      }
      // df: one delta segment, or — past the segment budget (committed
      // segments, so crash leftovers never skew it) — the compacted base
      // (old pinned segments ∪ this delta, i.e. `merged`), which retires
      // every old segment in the same commit (the LogStore.compact
      // discipline: amortized O(delta) writes, reads never sum more than
      // compactSegmentsAt segments)
      val dfCompact =
        StoredIndex.segCount(t, "df", "seg-") + 1 > compactSegmentsAt
      (if (dfCompact) merged.select(col("shingle"), col("df"))
       else delta.select(col("shingle"), col("ddf").as("df")))
        .write.mode("overwrite").parquet(t.stage("df"))
      val bcCompact = touchedLit.nonEmpty &&
        StoredIndex.segCount(t, "bcounts", "seg-") + 1 > compactSegmentsAt
      if (bcCompact)
        mergedBcounts(spark, dir)
          .unionByName(StoredIndex.readDirTable(spark, t.stage("bcounts"),
            "band INT, bh BIGINT, n BIGINT"))
          .groupBy("band", "bh").agg(sum(col("n")).as("n"))
          .filter(col("n") =!= 0L)
          .write.mode("overwrite").parquet(t.stage("bcounts-fold"))
      if (stopNewSeq.nonEmpty) {
        import spark.implicits._
        stopNewSeq.toDF("shingle")
          .write.mode("overwrite").parquet(t.stage("stop"))
      }
      IndexCommit.hit("staged")

      // ---- MOVE IN: replaced files are RETIRED, not deleted
      def moveInPartitioned(table: String): Unit = {
        touchedLit.foreach(pid => t.retireUnder(s"$table/pid=$pid"))
        t.moveIn(table, table)
        IndexCommit.hit(s"moved:$table")
      }
      if (touchedLit.nonEmpty) {
        moveInPartitioned("arrays")
        moveInPartitioned("buckets_raw")
        moveInPartitioned("prefixes")
        if (bcCompact) t.retireUnder("bcounts")
        t.moveToNextSeg(if (bcCompact) "bcounts-fold" else "bcounts",
          "bcounts", "seg-")
        IndexCommit.hit("moved:bcounts")
      }
      if (dfCompact) t.retireUnder("df")
      t.moveToNextSeg("df", "df", "seg-")
      IndexCommit.hit("moved:df")
      // stop GROWS monotonically, so the crossing set file-appends
      if (stopNewSeq.nonEmpty) t.moveIn("stop", "stop")
    }

  /** TOMBSTONE-DELETE documents from a stored LSH index — the FORGET half
    * of the maintenance tier (takedowns / GDPR erasure / quality recalls
    * in a standing 100 TB corpus, where a rebuild-to-remove re-shingles
    * petabytes to drop megabytes). The delete itself is O(delete set):
    *
    *  - `tombstones` gains the newly dead ids by pure file-append (the
    *    `stop` discipline); every SERVED view — [[servedBuckets]],
    *    [[storedArrays]], the prefix postings — excludes tombstoned ids
    *    via one broadcast anti-join, planned ONLY while tombstones exist,
    *    so pair search and all three route tiers stop seeing the docs at
    *    the next committed version;
    *  - `bcounts` gains a NEGATIVE delta segment for the dead docs'
    *    bucket rows (a partition-pruned read of their id ranges) — the
    *    bucket-occupancy statistic must be exact for the LIVE set,
    *    because a bucket oversize only through deleted members has to
    *    serve again (the spec plants exactly that);
    *  - `df` and `stop` are deliberately NOT adjusted: a dead doc's
    *    kept-shingle array cannot reconstruct its pre-cut shingle set
    *    (stop shingles were never stored), so document frequencies remain
    *    monotone HISTORICAL upper bounds and a once-stopped shingle stays
    *    stopped. This is conservative for future appends (a kept set can
    *    only shrink vs a from-scratch rebuild of the live corpus) and is
    *    the price of never storing uncut arrays; deployments needing
    *    exact df under churn store the uncut arrays instead (4-8x the
    *    footprint) — documented trade, same protocol.
    *
    * The physical rows of dead docs stay in place (invisible to every
    * reader) until [[compactLshIndex]] folds the tombstones — the
    * DELETE-then-COMPACT storage-reclaim split every LSM store uses.
    * Crash-atomic like the appends. Idempotent: already-
    * tombstoned ids are filtered out, so a re-delete never re-subtracts
    * occupancy. Ids are never reused (the append contract), so a
    * tombstone can outlive compaction safely.
    *
    * Returns the number of NEWLY tombstoned ids.
    */
  def deleteFromLshIndex(ids: DataFrame, dir: String,
                         idCol: String = "doc_id",
                         txn: Option[graft.sources.IndexTxn] = None): Long =
    StoredIndex.mutate(dir, "del", txn) { t =>
      val spark = ids.sparkSession
      val (rangeSize, _) = readMeta(dir)
      // only ids not already tombstoned act: a re-delete must not
      // re-subtract bucket occupancy
      val dead = ids.select(col(idCol).cast("long").as("id")).distinct()
        .join(StoredIndex.readTable(spark, s"$dir/tombstones", "id BIGINT"),
          Seq("id"), "left_anti")
      dead.coalesce(1).write.mode("overwrite").parquet(t.stage("tombstones"))
      val staged = StoredIndex.readDirTable(spark, t.stage("tombstones"),
        "id BIGINT")
      val nDead = staged.count()
      if (nDead > 0) {
        val deadPids = staged.select(expr(s"id div $rangeSize").as("pid"))
          .distinct().collect().map(_.getLong(0)).toSeq.sorted
        // the dead docs' bucket rows leave the occupancy statistic NOW
        // (partition-pruned read of their ranges, O(delete set) rows out)
        rawBuckets(spark, dir).filter(col("pid").isin(deadPids: _*))
          .join(broadcast(staged), Seq("id"))
          .groupBy("band", "bh").agg((-count(lit(1))).as("n"))
          .write.mode("overwrite").parquet(t.stage("bcounts"))
        IndexCommit.hit("del-staged")
        t.moveIn("tombstones", "tombstones")
        t.moveToNextSeg("bcounts", "bcounts", "seg-")
        IndexCommit.hit("del-moved")
      }
      nDead
    }

  /** SMALL-FILES compaction for an append-grown index — the
    * [[graft.sources.LogStore.compact]] analog for the maintenance tier:
    * every [[appendLshIndex]] adds part files to its touched id ranges
    * (and one LSM segment per statistic), so a long-running decide+learn
    * loop accumulates per-range file counts whose footer reads would
    * eventually dominate every stored-index scan. This sweep rewrites
    * each partitioned table's `pid=` dirs holding more than
    * `maxFilesPerRange` data files down to one file, folds the
    * df/bcounts LSMs to a single base segment, squashes a fragmented
    * `stop` list, and publishes everything as ONE commit. Idempotent:
    * a second sweep finds nothing over threshold and commits nothing.
    * Contents are provably unchanged (IndexMaintenanceSpec canon
    * equality after a many-append chain). Single-writer contract.
    *
    * Returns (table, rangesRewritten) for the audit log (LSM folds count
    * as one "range").
    */
  def compactLshIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                      maxFilesPerRange: Int = 4,
                      txn: Option[graft.sources.IndexTxn] = None)
      : Seq[(String, Int)] =
    StoredIndex.mutate(dir, "", txn) { t =>
      val out = Seq.newBuilder[(String, Int)]
      // ---- tombstone fold: physically drop deleted docs' rows from every
      // partitioned table (serving already excludes them — this is the
      // storage-reclaim half of deleteFromLshIndex) and retire the
      // tombstones themselves, so this commit's served plans lose the
      // anti-join entirely. Only the dead ids' ranges rewrite (partition-
      // pruned, O(delete set) IO). bcounts was corrected at delete time
      // and df stays a documented historical upper bound — neither folds.
      val dead = StoredIndex.liveTombstones(t)
      val deadPids = dead.fold(Seq.empty[Long]) { d =>
        val (rangeSize, _) = readMeta(dir)
        d.select(expr(s"id div $rangeSize").as("pid"))
          .distinct().collect().map(_.getLong(0)).toSeq
      }
      val swept = Seq(
        "arrays" -> "id BIGINT, sa ARRAY<STRING>, n BIGINT, pid BIGINT",
        "buckets_raw" -> "id BIGINT, band INT, bh BIGINT, pid BIGINT",
        "prefixes" -> "id BIGINT, n BIGINT, rn INT, shingle STRING, pid BIGINT"
      ).map { case (table, ddl) =>
        val deadHit = deadPids.count(k => t.liveParts(table).contains(s"pid=$k"))
        (table, deadHit, StoredIndex.rewriteParts(t, table, ddl, Some("pid"),
          deadPids, maxFilesPerRange, dead))
      }
      if (dead.nonEmpty) {
        t.retireUnder("tombstones")
        out += (("tombstones", swept.map(_._2).sum))
      }
      swept.foreach { case (table, deadHit, n) =>
        if (n > deadHit) out += ((table, n - deadHit))
      }
      // LSM folds: more than one committed segment -> one base
      def fold(table: String, ddl: String, keys: Seq[String], cnt: String): Unit =
        if (StoredIndex.foldLsm(t, table, ddl, "seg-", 1)(segs =>
              StoredIndex.lsmSum(keys, cnt)(segs).filter(col(cnt) =!= 0L)) > 0)
          out += ((table, 1))
      fold("df", "shingle STRING, df BIGINT", Seq("shingle"), "df")
      fold("bcounts", "band INT, bh BIGINT, n BIGINT", Seq("band", "bh"), "n")
      // stop: monotone file-appends squash to one file past the threshold
      if (StoredIndex.rewriteParts(t, "stop", "shingle STRING", None, Nil,
            maxFilesPerRange) > 0)
        out += (("stop", 1))
      out.result()
    }

  /** NIGHTLY-OPS policy entry point for a stored LSH index: the
    * committed-state inspection is [[compactLshIndex]]'s own sweep
    * (overfull ranges, LSM folds, fragmented stop list, tombstone
    * reclaim), reported as one audit row. Idempotent — a second run
    * reports `noop`; crash-safe by inheritance.
    */
  def maintainLshIndex(spark: org.apache.spark.sql.SparkSession,
                       dir: String, maxFilesPerRange: Int = 4)
      : graft.sources.Maintenance = {
    val parts = compactLshIndex(spark, dir, maxFilesPerRange)
    graft.sources.Maintenance("lsh",
      if (parts.nonEmpty) "compact" else "noop",
      parts.map(_._2.toLong).sum)
  }

  /** Batch near-dup pair search served ENTIRELY from a stored index
    * ([[writeLshIndex]] layout, however it was built — one shot or
    * [[appendLshIndex]]-grown): candidates from the stored small-bucket
    * self-join, verification from the stored arrays, no corpus access.
    * Output shape = [[minhashLshPairs]]; the `dedup_lsh_incremental`
    * query hash-checks an append-grown index's pairs against the same
    * exact-Jaccard oracle as the scan-path queries.
    */
  def pairsFromIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                     threshold: Double = 0.6,
                     asOf: Option[Int] = None): DataFrame = {
    val buckets = servedBuckets(spark, dir, asOf)
    val arrays = storedArrays(spark, dir, asOf)
    val cand = buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("da"), col("b.id").as("db"))
      .distinct()
    cand
      .join(arrays.select(col("id").as("da"), col("sa").as("xa"),
        col("n").as("na")), "da")
      .join(arrays.select(col("id").as("db"), col("sa").as("xb"),
        col("n").as("nb")), "db")
      .withColumn("inter", graft.functions.gcolumns
        .sorted_intersect_count(col("xa"), col("xb")))
      .withColumn("jaccard",
        col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("da", "db", "jaccard")
  }

  /** Streaming near-dup screen — the [[graft.operators.Clustering.kmeansRoute]]
    * analog for MinHash-LSH: flags each ARRIVING doc's near-duplicates in a
    * stored corpus without touching the corpus itself.
    *
    * Per arriving doc, everything up to the bucket probe is IN-ROW
    * (codegen'd, source-parallel): distinct k-word shingles via the
    * [[graft.functions.WordShingles]] expression, the corpus stop-shingle
    * cut as an `array_except` against one broadcast stop-array row (the
    * stop list is bounded by postings/[[maxBucketSize]] BY CONSTRUCTION —
    * the df cut is what makes broadcasting it legitimate at scale; swap in
    * a Bloom filter when even that bound is too wide), the `numHashes`
    * seeded-xxhash64 minima via `array_min(transform(...))` — bit-identical
    * to the batch [[minhashSignatures]] aggregation — and the band keys.
    * Then ONE stream-static equi-join against the served bucket view
    * (`buckets_raw` ANTI the cached oversize complement)
    * finds candidates, and verification is again in-row: exact Jaccard
    * from `array_intersect` against the stored per-doc arrays. No state
    * store, no stream-stream join, no corpus scan per batch.
    *
    * Emits (da, db, jaccard) with da < db, deduplicated per micro-batch —
    * run under `foreachBatch` (like every store-consuming sink here) so the
    * dedup is per-batch, not unbounded stream state. Replaying the corpus
    * through the stream yields exactly the batch [[minhashLshPairs]] pair
    * set (StateAndStoreSpec proves it): same kept-sets, same signatures,
    * same small-bucket search space, same verification arithmetic.
    */
  def minhashRoute(arrivals: DataFrame, indexDir: String, k: Int = 3,
                   numHashes: Int = 32, bands: Int = 16,
                   threshold: Double = 0.6, idCol: String = "doc_id",
                   textCol: String = "text",
                   asOf: Option[Int] = None): DataFrame =
    minhashRouteRaw(arrivals, indexDir, k, numHashes, bands, threshold,
        idCol, textCol, asOf)
      .select(least(col("sid"), col("id")).as("da"),
        greatest(col("sid"), col("id")).as("db"), col("jaccard"))

  /** [[minhashRoute]] with the orientation kept: (sid = arriving doc,
    * id = indexed candidate, jaccard). [[Curation.curateRoute]] needs the
    * direction to apply the batch pipeline's smaller-id-wins rule.
    */
  private[operators] def minhashRouteRaw(arrivals: DataFrame,
                   indexDir: String, k: Int = 3,
                   numHashes: Int = 32, bands: Int = 16,
                   threshold: Double = 0.6, idCol: String = "doc_id",
                   textCol: String = "text",
                   asOf: Option[Int] = None): DataFrame = {
    val spark = arrivals.sparkSession
    val rows = numHashes / bands
    val buckets = servedBuckets(spark, indexDir, asOf)
    val arrays = storedArrays(spark, indexDir, asOf)
    val stopArr = StoredIndex.readTable(spark, s"$indexDir/stop",
        "shingle STRING", asOf)
      .agg(sort_array(collect_list(col("shingle"))).as("stopa"))
    val kept = arrivals
      .select(col(idCol).cast("long").as("sid"), col(textCol).as("text"))
      .crossJoin(broadcast(stopArr))
      .select(col("sid"),
        array_except(graft.functions.gcolumns.word_shingles(col("text"), k),
          col("stopa")).as("kept"))
      .filter(size(col("kept")) > 0) // no kept shingles -> no batch signature
    val sig = kept.select(col("sid"), col("kept"),
      array((0 until numHashes).map(i =>
        array_min(transform(col("kept"), s => xxhash64(lit(i), s)))): _*)
        .as("sig"))
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(lit(b), slice(col("sig"), b * rows + 1, rows)).as("bh"))
    }
    val banded = sig
      .select(col("sid"), col("kept"), explode(array(bandCols: _*)).as("bk"))
      .select(col("sid"), col("kept"),
        col("bk.band").as("band"), col("bk.bh").as("bh"))
    val cand = banded.join(buckets, Seq("band", "bh"))
      .filter(col("id") =!= col("sid"))
      .select(col("sid"), col("kept"), col("id"))
      .dropDuplicates("sid", "id")
    cand.join(arrays, "id")
      .withColumn("inter", size(array_intersect(col("kept"), col("sa"))))
      .withColumn("jaccard",
        col("inter") / (size(col("kept")) + col("n") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("sid"), col("id"), col("jaccard"))
  }

  // -------------------------------------------------------------------------
  // Exact near-dup routing (stored prefix-filter index)
  // -------------------------------------------------------------------------

  /** A shingle array re-ordered by the STATIC global order
    * (xxhash64(shingle), shingle) — the common total order the stored
    * `prefixes` table and every probe must share for the prefix-filter
    * completeness theorem to apply. A pure hash order is append-invariant
    * (unlike the batch path's df-order heuristic), which is what lets
    * [[appendLshIndex]] leave untouched docs' prefix rows byte-identical.
    */
  private def hashOrdered(c: Column): Column =
    transform(
      array_sort(transform(c, s => struct(xxhash64(s).as("h"), s.as("s")))),
      x => x.getField("s"))

  /** The probe prefix of a kept-shingle array: its first
    * floor((1-t)*n)+1 elements under the static hash order. Two sets at
    * Jaccard >= t must share a probe-prefix element (|x∩y| >=
    * ceil(t/(1+t)(nx+ny)) >= t*nx, so x's first nx-t*nx+1 ordered
    * elements cannot all miss y's prefix — the symmetric form of the
    * prefix filter, valid under any common total order). The epsilon
    * lengthens the prefix by at most one element on exact boundaries, so
    * double rounding can only ADD candidates.
    */
  private def probePrefix(c: Column, n: Column, threshold: Double): Column =
    slice(hashOrdered(c), lit(1),
      (floor(lit(1.0 - threshold) * n + lit(1e-9)) + 1).cast("int"))

  /** Stored-side prefix posting rows (id, n, rn, shingle) of per-doc
    * kept arrays (id, sa, n) — derived IN-ROW, so maintenance recomputes
    * it only for restaged docs. `rn` is the shingle's 1-based position
    * in the hash order: the PPJoin positional filter and the asymmetric
    * index-prefix cut both need it ([[jaccardRouteOnKept]]).
    */
  private def prefixRows(arr: DataFrame, threshold: Double): DataFrame =
    arr.select(col("id"), col("n"),
        posexplode(probePrefix(col("sa"), col("n"), threshold))
          .as(Seq("pos", "shingle")))
      .select(col("id"), col("n"), (col("pos") + 1).as("rn"), col("shingle"))

  /** EXACT streaming near-dup screen — [[minhashRoute]]'s contract with
    * deterministic completeness instead of LSH recall: every stored doc
    * at Jaccard >= threshold with the arrival is returned, with zero
    * banding false negatives (the property [[Curation.curateRoute]]'s
    * batch-equality claim needs to be corpus-independent). Candidates
    * come from ONE stream-static equi-join of the arrival's in-row probe
    * prefix against the stored `prefixes` postings (plus the length,
    * asymmetric-index-prefix, and PPJoin positional filters — all safe
    * bounds, never recall cuts); verification is the in-row sorted-merge
    * intersect against the stored arrays. Per-arrival cost is O(prefix
    * length) join probes — ~(1-t) of [[minhashRoute]]'s shingle volume —
    * against posting lists the df cut already bounds.
    *
    * Honest trade vs the batch path: the STATIC hash order gives up the
    * df-order thin-postings heuristic (rare shingles first), so prefix
    * postings are uniformly dense and the candidate set runs larger than
    * [[ngramJaccardPairs]]' for the same corpus — the price of an
    * append-invariant stored table (a df-ordered prefix table would
    * reorder under every append and force corpus-wide prefix rewrites,
    * exactly what the touched-range maintenance story forbids). The
    * volume stays bounded — prefix posting lists inherit the df cut, and
    * the three candidate filters hold the verify set polynomial in true
    * density — and verification is the codegen'd merge kernel, so a
    * whole-corpus replay costs seconds, not the candidate blow-up of a
    * naive shared-shingle join. A rebuild-heavy deployment that never
    * appends can trade back: write prefixes in df order and keep this
    * exact route with batch-grade candidates.
    *
    * `threshold` must equal the index's stored `prefixThreshold` (prefix
    * lengths are precomputed at write time).
    */
  def jaccardRoute(arrivals: DataFrame, indexDir: String, k: Int = 3,
                   threshold: Double = 0.6, idCol: String = "doc_id",
                   textCol: String = "text",
                   asOf: Option[Int] = None): DataFrame =
    jaccardRouteRaw(arrivals, indexDir, k, threshold, idCol, textCol, asOf)
      .select(least(col("sid"), col("id")).as("da"),
        greatest(col("sid"), col("id")).as("db"), col("jaccard"))

  /** [[jaccardRoute]] with the orientation kept: (sid = arriving doc,
    * id = indexed candidate, jaccard).
    */
  private[operators] def jaccardRouteRaw(arrivals: DataFrame,
                    indexDir: String, k: Int = 3, threshold: Double = 0.6,
                    idCol: String = "doc_id",
                    textCol: String = "text",
                    asOf: Option[Int] = None): DataFrame =
    jaccardRouteOnKept(
      keptForRoute(arrivals, indexDir, k, idCol, textCol, asOf),
      indexDir, threshold, asOf = asOf)

  /** An arrival frame's kept-shingle arrays (sid, kept) against a stored
    * index's stop list — the in-row probe-side prep every route screen
    * shares (batch consumers may cache the result; the streaming path
    * recomputes it per micro-batch, which is one narrow pass).
    */
  private[graft] def keptForRoute(arrivals: DataFrame, indexDir: String,
                    k: Int = 3, idCol: String = "doc_id",
                    textCol: String = "text",
                    asOf: Option[Int] = None): DataFrame = {
    val spark = arrivals.sparkSession
    val stopArr = StoredIndex.readTable(spark, s"$indexDir/stop",
        "shingle STRING", asOf)
      .agg(sort_array(collect_list(col("shingle"))).as("stopa"))
    arrivals
      .select(col(idCol).cast("long").as("sid"), col(textCol).as("text"))
      .crossJoin(broadcast(stopArr))
      .select(col("sid"),
        array_except(graft.functions.gcolumns.word_shingles(col("text"), k),
          col("stopa")).as("kept"))
  }

  /** The exact route over a precomputed kept frame (sid, kept) — shared
    * with [[Curation.curateRoute]], which builds the kept arrays once for
    * all three screening stages.
    *
    * Candidate economics match the batch [[ngramJaccardPairsUncached]]:
    * besides the length filter, the join applies the ASYMMETRIC prefix
    * cut (the (n, id)-smaller side of a pair only needs its first
    * floor(((1-t)/(1+t))n)+1 ordered shingles — both sides' `rn`
    * positions make the cut checkable per posting) and the PPJoin
    * positional filter (match positions cap the achievable overlap).
    * Both are completeness-preserving under any common total order, so
    * the route stays EXACT while candidates stay near the true result
    * size. The pair dedupe moves bare (sid, id) — kept arrays re-attach
    * from the input frame afterwards, so no text-scale row ever crosses
    * the dedupe exchange.
    */
  private[graft] def jaccardRouteOnKept(kept: DataFrame,
                    indexDir: String, threshold: Double,
                    cacheKey: Option[String] = None,
                    asOf: Option[Int] = None): DataFrame = {
    val spark = kept.sparkSession
    val (_, storedT) = readMeta(indexDir)
    require(math.abs(storedT - threshold) < 1e-9,
      s"index prefixes were written at threshold $storedT, not $threshold")
    val prefixes = antiTombstoned(spark, indexDir,
        StoredIndex.readTable(spark, s"$indexDir/prefixes",
          "id BIGINT, n BIGINT, rn INT, shingle STRING, pid BIGINT", asOf),
        asOf)
      .select("id", "n", "rn", "shingle")
    val arrays = storedArrays(spark, indexDir, asOf)
      .select(col("id"), col("sa"), col("n").as("nb"))
    // batch consumers (whole-corpus replays) pass a cacheKey so the
    // in-row probe prep — the hash-order sort per arrival is the route's
    // scan-dominant cost — runs once, not once per consumer/pass; the
    // streaming path leaves it None (per-micro-batch frames must not
    // churn the persisted-frame registry)
    def maybeCached(tag: String)(df: => DataFrame): DataFrame =
      cacheKey.fold(df)(k => graft.Caches.cached(tag, k)(df))
    val keptSized = maybeCached("route-kept-sized")(kept
      .withColumn("na", size(col("kept")).cast("long"))
      .filter(col("na") > 0)
      // pre-sorted copy for the merge-verify kernel (one in-row sort per
      // arrival, vs a hash set per CANDIDATE in array_intersect)
      .withColumn("skept", sort_array(col("kept"))))
    val probe = maybeCached("route-probe")(keptSized
      .select(col("sid"), col("na"),
        posexplode(probePrefix(col("kept"), col("na"), threshold))
          .as(Seq("pos", "shingle")))
      .select(col("sid"), col("na"), (col("pos") + 1).as("ra"),
        col("shingle")))
    def idxBound(n: Column): Column =
      floor(lit((1.0 - threshold) / (1.0 + threshold)) * n + lit(1e-9)) + 1
    val needed =
      lit(threshold / (1.0 + threshold)) * (col("na") + col("n")) - lit(1e-9)
    val storedSmaller = col("n") < col("na") ||
      (col("n") === col("na") && col("id") < col("sid"))
    val cand = probe.join(prefixes, Seq("shingle"))
      .filter(col("id") =!= col("sid") &&
        col("na") >= lit(threshold) * col("n") - lit(1e-9) &&
        col("n") >= lit(threshold) * col("na") - lit(1e-9) &&
        when(storedSmaller, col("rn") <= idxBound(col("n")))
          .otherwise(col("ra") <= idxBound(col("na"))) &&
        lit(1) + least(col("na") - col("ra"), col("n") - col("rn"))
          >= needed)
      .select(col("sid"), col("id"))
      .dropDuplicates("sid", "id")
    cand
      .join(keptSized.select(col("sid"), col("skept"), col("na")), "sid")
      .join(arrays, "id")
      // stored `sa` is sort_array'd at index build; linear merge count
      .withColumn("inter",
        graft.functions.gcolumns.sorted_intersect_count(
          col("skept"), col("sa")))
      .withColumn("jaccard",
        col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("sid"), col("id"), col("jaccard"))
  }

  /** Intra-batch exact near-dup pairs over two kept frames (probe side
    * (sid, kept) x index side (kid, ksa)) with kid < sid — the same
    * symmetric prefix-filter candidate rule and in-row verification as
    * the stored route, applied batch-locally so a decide+learn loop can
    * self-screen arrivals that land in the SAME micro-batch (see
    * [[Curation.curateRoute]]).
    */
  private[operators] def jaccardPairsOnKept(probe: DataFrame,
                    index: DataFrame, threshold: Double): DataFrame = {
    val p = probe.withColumn("na", size(col("kept")).cast("long"))
      .filter(col("na") > 0)
      .select(col("sid"), col("kept"), col("na"),
        explode(probePrefix(col("kept"), col("na"), threshold)).as("shingle"))
    val ix = index.withColumn("nb", size(col("ksa")).cast("long"))
      .filter(col("nb") > 0)
      .select(col("kid"), col("ksa"), col("nb"),
        explode(probePrefix(col("ksa"), col("nb"), threshold)).as("shingle"))
    p.join(ix, Seq("shingle"))
      .filter(col("kid") < col("sid") &&
        col("na") >= lit(threshold) * col("nb") - lit(1e-9) &&
        col("nb") >= lit(threshold) * col("na") - lit(1e-9))
      .dropDuplicates("sid", "kid")
      .withColumn("inter",
        graft.functions.gcolumns.sorted_intersect_count(
          sort_array(col("kept")), sort_array(col("ksa"))))
      .withColumn("jaccard",
        col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("sid"), col("kid"), col("jaccard"))
  }

  // -------------------------------------------------------------------------
  // Near-dup clustering (pairs -> connected components -> canonical keeper)
  // -------------------------------------------------------------------------

  /** Connected components over a near-dup pair graph.
    *
    * The pair graph is the thresholded OUTPUT of near-dup mining — tiny
    * relative to the corpus (O(duplicates), not O(docs)) — so the common
    * path collects it and runs driver-side union-find (one Spark job,
    * microseconds of driver CPU for millions of pairs). Graphs beyond
    * `driverPairLimit` run the distributed alternating large-star /
    * small-star algorithm ([[starComponents]]) — O(log n) rounds on any
    * topology. [[distributedComponents]] (min-label propagation, O(diameter)
    * rounds) is kept as the simpler reference implementation the property
    * tests cross-check against.
    *
    * Returns (cluster_id = min doc_id of the component, n_docs, max_doc)
    * for every doc that appears in at least one pair.
    */
  def dedupClusters(pairs: DataFrame, maxIters: Int = 60,
                    driverPairLimit: Long = 1000000L): DataFrame = {
    val p = pairs.select(col("da"), col("db")).persist()
    try {
      if (p.count() <= driverPairLimit) driverComponents(p)
      else starComponents(p, maxIters)
    } finally p.unpersist(blocking = false)
  }

  /** Union-find with min-id roots and path compression; output rebuilt as
    * a DataFrame. Deterministic: the root of a component is its min id.
    */
  private def driverComponents(p: DataFrame): DataFrame = {
    val spark = p.sparkSession
    import spark.implicits._
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    val members = scala.collection.mutable.Set.empty[Long]
    p.collect().foreach { row =>
      val (a, b) = (row.getLong(0), row.getLong(1))
      members += a; members += b
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { // smaller root wins => root == min of component
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    members.toSeq.map(id => (find(id), id))
      .groupBy(_._1).toSeq
      .map { case (root, ms) => (root, ms.size.toLong, ms.map(_._2).max) }
      .toDF("cluster_id", "n_docs", "max_doc")
  }

  /** Alternating large-star/small-star connected components (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * O(log n)-round distributed path.
    *
    * Each round over the canonical (a &lt; b) edge set:
    *  - large-star: every node u connects each LARGER neighbor v to
    *    m = min(N(u) ∪ {u}) — tall trees flatten toward the minimum;
    *  - small-star: every node u connects its smaller neighbors and itself
    *    to their minimum — the remaining short hops collapse.
    *
    * Both operations preserve connectivity and every node of the graph, and
    * the edge set converges to disjoint min-rooted stars in O(log n) rounds
    * on ANY topology — vs [[distributedComponents]]' O(diameter) rounds,
    * which only match on the near-clique graphs dup mining usually emits
    * (a 1M-node chain is 20 star rounds vs 1M propagation rounds).
    *
    * Per round: two self-aggregations + one join each — same shuffle shape
    * as a round of label propagation, nothing holds per-key state beyond
    * the aggregation buffers. Same output contract as [[driverComponents]].
    */
  /** Pin a frame's current contents as a persisted row RDD and rebuild a
    * DataFrame over it: the new plan is a flat RDD scan, so an iterative
    * loop's plans stay O(1)-deep (a persist()-only loop still GROWS its
    * logical plan every round — analyzer cost goes superlinear by round
    * ~15 and the driver dies long before the data does), and the returned
    * RDD handle lets each round deterministically release its
    * predecessor's blocks (localCheckpoint offers no such handle — dead
    * rounds would pile up in storage until GC, evicting the shared
    * shingle/vector caches). At cluster scale swap for reliable
    * checkpoint(dir) to also survive executor loss.
    */
  private def pin(df: DataFrame)
      : (DataFrame, org.apache.spark.rdd.RDD[_]) = {
    // stay in Catalyst's internal row format end-to-end: `df.rdd` would
    // convert InternalRow -> external Row here and back on re-read — a
    // per-row, per-round tax over the graph-sized edge set that buys
    // nothing (the goals are plan flattening + an unpersist handle).
    // toRdd rows are buffers reused across a partition's iterator, so copy
    // before caching.
    val rdd = df.queryExecution.toRdd.map(_.copy())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (org.apache.spark.sql.graftbridge.Bridge.ofInternalRows(
      df.sparkSession, rdd, df.schema), rdd)
  }

  private[graft] def starComponents(p: DataFrame, maxIters: Int = 60): DataFrame = {
    var (edges, edgesRdd) = pin(p
      .select(least(col("da"), col("db")).as("a"),
        greatest(col("da"), col("db")).as("b"))
      .filter(col("a") =!= col("b")).distinct())
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIters) {
      // large-star over the symmetric neighbor list: (m, v) for v > u
      val nbrs = edges.select(col("a").as("u"), col("b").as("v"))
        .unionByName(edges.select(col("b").as("u"), col("a").as("v")))
      val lmin = nbrs.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = nbrs.join(lmin, "u").filter(col("v") > col("u"))
        .select(col("m").as("a"), col("v").as("b")).distinct()
      // small-star over edges oriented to their larger endpoint u:
      // (m, v) for each smaller neighbor v, plus (m, u) itself
      val or = large.select(col("b").as("u"), col("a").as("v"))
      val smin = or.groupBy(col("u")).agg(min(col("v")).as("m"))
      val (next, nextRdd) = pin(or.join(smin, "u")
        .select(col("m").as("a"), col("v").as("b"))
        .unionByName(smin.select(col("m").as("a"), col("u").as("b")))
        .filter(col("a") =!= col("b")).distinct())
      // symmetric difference in ONE job (both sides are distinct sets, so
      // a +1/-1 tally per edge nets 0 iff present in both)
      changed = next.withColumn("s", lit(1L))
        .unionByName(edges.withColumn("s", lit(-1L)))
        .groupBy(col("a"), col("b")).agg(sum(col("s")).as("d"))
        .filter(col("d") =!= 0L).count()
      edgesRdd.unpersist(blocking = false)
      edges = next
      edgesRdd = nextRdd
      it += 1
    }
    // the count(*)+1 star aggregation below is ONLY valid on a converged
    // (disjoint-star) edge set — a mid-run set can list one node under two
    // roots, silently splitting components. Fail loudly instead.
    if (changed > 0) {
      edgesRdd.unpersist(blocking = false)
      throw new IllegalStateException(
        s"starComponents did not converge in $maxIters rounds " +
          "(needs ~log2(nodes)); raise maxIters")
    }
    // fixed point = disjoint stars rooted at each component's min id.
    // The result is pinned AND materialized (one small row per CLUSTER)
    // so the big final edge RDD can be released immediately instead of
    // leaking one graph-sized block set per call.
    val (out, outRdd) = pin(edges.groupBy(col("a").as("cluster_id"))
      .agg((count(lit(1)) + 1).as("n_docs"), max(col("b")).as("max_doc")))
    outRdd.count()
    edgesRdd.unpersist(blocking = false)
    out
  }

  /** Distributed min-label propagation (see [[dedupClusters]] doc); labels
    * persisted per round, predecessor released. Kept as the reference
    * implementation [[starComponents]] is property-tested against.
    */
  private[graft] def distributedComponents(p: DataFrame, maxIters: Int): DataFrame = {
    val edges = p.select(col("da").as("a"), col("db").as("b"))
      .unionByName(p.select(col("db").as("a"), col("da").as("b")))
      .persist()
    // pin per round — see [[starComponents]]: flat plans + deterministic
    // release of the superseded round's blocks; the O(diameter) round
    // count here makes both properties strictly more important
    var (labels, labelsRdd) = pin(edges.select(col("a").as("id")).distinct()
      .withColumn("comp", col("id")))
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIters) {
      val nbrMin = edges
        .join(labels.select(col("id").as("b"), col("comp").as("bcomp")), "b")
        .groupBy(col("a").as("id")).agg(min(col("bcomp")).as("nmin"))
      val (next, nextRdd) = pin(labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp")))
      changed = next
        .join(labels.select(col("id"), col("comp").as("old")), "id")
        .filter(col("comp") =!= col("old")).count()
      labelsRdd.unpersist(blocking = false)
      labels = next
      labelsRdd = nextRdd
      it += 1
    }
    // same silent-corruption guard as [[starComponents]]: labels that are
    // still moving describe split components, not slow ones
    if (changed > 0) {
      labelsRdd.unpersist(blocking = false)
      edges.unpersist(blocking = false)
      throw new IllegalStateException(
        s"distributedComponents did not converge in $maxIters rounds " +
          "(needs O(graph diameter)); raise maxIters or use starComponents")
    }
    // pin + materialize the small per-component result, then release the
    // node-sized label RDD (see starComponents)
    val (out, outRdd) = pin(labels.groupBy(col("comp"))
      .agg(count(lit(1)).as("n_docs"), max(col("id")).as("max_doc"))
      .select(col("comp").as("cluster_id"), col("n_docs"), col("max_doc")))
    outRdd.count()
    labelsRdd.unpersist(blocking = false)
    edges.unpersist(blocking = false)
    out
  }

  /** The deduplicated corpus: drop every clustered doc except its
    * cluster's min-id representative (unpaired docs all survive).
    */
  def dedupCorpus(docs: DataFrame, pairs: DataFrame,
                  idCol: String = "doc_id"): DataFrame = {
    val clustered = pairs.select(col("da").as("id"))
      .unionByName(pairs.select(col("db").as("id"))).distinct()
    val reps = dedupClusters(pairs).select(col("cluster_id").as("id"))
    val drop = clustered.join(reps, Seq("id"), "left_anti")
    docs.join(drop.select(col("id").as(idCol)), Seq(idCol), "left_anti")
  }

  // -------------------------------------------------------------------------
  // SimHash
  // -------------------------------------------------------------------------

  /** 64-bit SimHash per doc via the custom Catalyst expression
    * [[graft.functions.SimHash64]] (single pass over the token array inside
    * whole-stage codegen).
    */
  def simhashes(docs: DataFrame, textCol: String = "text",
                idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol).as("id"),
      simhash64(split(col(textCol), " ")).as("sim"))

  /** Near-dup pairs with Hamming distance <= maxDist, found by chunk-LSH:
    * split the 64-bit simhash into `chunks` pieces; by pigeonhole any pair
    * within maxDist = chunks-1 shares at least one exact chunk, so grouping
    * by (chunk index, chunk value) finds all of them without n^2. Exact
    * bit_count(xor) verification after.
    */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3,
                   chunks: Int = 4): DataFrame = {
    require(maxDist < chunks, "pigeonhole needs maxDist < chunks")
    val sims = simhashes(docs)
    val width = 64 / chunks
    val chunkCols = (0 until chunks).map { i =>
      struct(lit(i).as("ci"),
        shiftrightunsigned(col("sim"), i * width)
          .bitwiseAND(lit((1L << width) - 1)).as("cv"))
    }
    val bucketed = sims.select(col("id"), col("sim"),
        explode(array(chunkCols: _*)).as("c"))
      .select(col("id"), col("sim"), col("c.ci").as("ci"), col("c.cv").as("cv"))
    bucketed.as("a")
      .join(bucketed.as("b"),
        col("a.ci") === col("b.ci") && col("a.cv") === col("b.cv") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("da"), col("b.id").as("db"),
        bit_count(col("a.sim").bitwiseXOR(col("b.sim"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  // -------------------------------------------------------------------------
  // Embedding cosine near-dup
  // -------------------------------------------------------------------------

  /** Cosine similarity of two double-array columns, sequential left-to-right
    * double accumulation (bit-reproducible; matches DuckDB's list_... on
    * DOUBLE[] for oracle parity) — the codegen'd
    * [[graft.functions.DotProduct]] kernel.
    */
  def cosine(a: Column, b: Column): Column = {
    import graft.functions.gcolumns.dotp
    dotp(a, b) / (sqrt(dotp(a, a)) * sqrt(dotp(b, b)))
  }

  /** Embedding near-dup pairs above a cosine threshold, probe-side blocked:
    * `probeFilter` selects the left side (at 100 TB the full n^2 is
    * intractable by design — you either block by probe set, as here, or go
    * through [[Similarity.annLsh]] buckets).
    */
  def embeddingPairs(emb: DataFrame, threshold: Double,
                     probeFilter: Column): DataFrame = {
    import graft.functions.gcolumns.dotp
    // norms precomputed once per vector (pure per-vector value: hoisting it
    // out of the pair loop changes no bits, cuts two dots per pair)
    val e = emb.select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("n", sqrt(dotp(col("v"), col("v"))))
    val probes = e.filter(probeFilter).select(col("vec_id").as("da"),
      col("v").as("va"), col("n").as("na"))
    probes.crossJoin(e.select(col("vec_id").as("db"), col("v").as("vb"),
        col("n").as("nb")))
      .filter(col("da") < col("db"))
      .select(col("da"), col("db"),
        (dotp(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** SemDeDup-style semantic near-dup pairs: embeddings are BLOCKED into
    * deterministic cells, and only cell-local pairs above the cosine
    * threshold are compared/reported — the "cluster, then dedup within the
    * cluster" shape of embedding-based corpus dedup (SemDeDup, Abbas et
    * al. 2023), with the k-means step replaced by a deterministic,
    * SQL-expressible cell function: the index (x sign) of the vector's
    * largest-magnitude dimension. Near-identical vectors agree on their
    * dominant dimension, so true semantic duplicates co-block with high
    * probability while the pair space shrinks from n^2 to sum(cell^2).
    *
    * The trade is recall BY DESIGN — cross-cell pairs are never compared,
    * exactly like cross-cluster pairs in SemDeDup. On clustered real-world
    * embeddings cells align with clusters and recall is high; on an
    * isotropic corpus (this testdata's worst case) the cells shred the
    * threshold neighborhood — DedupSpec measures exactly that. What makes
    * this variant engine-grade: the blocking is pure deterministic column
    * arithmetic (no learned state), so the DuckDB oracle replicates it
    * EXACTLY and the full operator is hash-verified end-to-end —
    * impossible for a k-means cell assignment.
    *
    * Scale: one narrow pass computes (cell, norm), one shuffle on the cell
    * key; per-cell pair fan-out is bounded by cell occupancy (2*dim cells;
    * for finer cells extend the key to the top-2 dimensions — same plan).
    */
  def semanticPairs(emb: DataFrame, tau: Double = 0.3): DataFrame = {
    import graft.functions.gcolumns.dotp
    val av = transform(col("v"), x => abs(x))
    val e = emb.select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("idx", array_position(av, array_max(av)))
      .withColumn("cell", col("idx") * 2 +
        when(element_at(col("v"), col("idx").cast("int")) >= 0, 1)
          .otherwise(0))
      .withColumn("n", sqrt(dotp(col("v"), col("v"))))
    e.as("a").join(e.as("b"),
        col("a.cell") === col("b.cell") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("da"), col("b.vec_id").as("db"),
        (dotp(col("a.v"), col("b.v")) / (col("a.n") * col("b.n"))).as("cos"))
      .filter(col("cos") >= tau)
  }

  /** Fuzzy-match pairs — the ENTITY-RESOLUTION face of the dedup ladder
    * (typo'd re-submissions, OCR noise, near-identical titles): blocked
    * candidate generation + edit-distance verification. THREE block keys
    * per doc, exploded from ONE pass over the corpus: md5 of the first
    * `prefixChars` characters, md5 of the LAST `prefixChars` characters,
    * and md5 of the sorted-token string (tagged 'p:'/'s:'/'t:' so a
    * degenerate text can't alias across key spaces). Within each key,
    * blocks of 1 (nothing to pair) and blocks over `maxBlockSize`
    * (degenerate shared affixes — the df-cut rule in block form) are
    * dropped before ANY pair forms. Pairs within a block verify with full
    * `levenshtein`, keep distance <= `maxEdit`, and dedup across keys (a
    * pair caught by several blocks counts once — `distinct` is exact
    * because the distance is deterministic).
    *
    * Recall: a single-region edit anywhere OUTSIDE one of the two affixes
    * is always caught (prefix edit -> suffix block, suffix edit -> prefix
    * block, interior edit -> both); a TOKEN REORDER — edits in both
    * affixes that permute whole tokens, the shuffled-title case — leaves
    * the sorted-token multiset fixed, so the 't:' block catches what both
    * affix blocks provably lose. The residual documented miss is now a
    * both-affix CHARACTER edit that also changes the token multiset
    * (e.g. distinct typos in the first and last word).
    *
    * Cross-engine note: block keys never leave their engine — the oracle
    * only has to agree on WHICH docs share a key, and equal token
    * multisets sort to equal strings under any deterministic collation,
    * so Spark/DuckDB sort-order differences can't desynchronize blocks.
    *
    * Scale: the exploded key build is ONE corpus scan (vs one per key
    * family), persisted via [[graft.Caches]] so the block-size cut and
    * both sides of the pair join reread the 3×-keyed frame instead of
    * rescanning text thrice more; the block join still moves only
    * (16-byte key, id, text) for members of surviving blocks; pair count
    * is bounded by sum(block_size^2) <= maxBlockSize * 3 * corpus — in
    * practice tiny, and the quadratic verify runs in-row on candidate
    * pairs only, exactly like the n-gram family's `array_intersect`
    * verify. At 100 TB the persist is 3× corpus text — spill-backed
    * (MEMORY_AND_DISK); a cluster short on local disk trades it back for
    * the three rescans by dropping the cache call.
    */
  def fuzzyPairs(docs: DataFrame, maxEdit: Int = 3, prefixChars: Int = 24,
                 maxBlockSize: Int = 100, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    // `right` (not negative-index substring) for the suffix: Spark and
    // DuckDB agree it returns the whole string when shorter than n
    val keyed0 = docs.select(col(idCol), col(textCol),
      explode(array(
        md5(concat(lit("p:"), substring(col(textCol), 1, prefixChars))),
        md5(concat(lit("s:"), expr(s"right($textCol, $prefixChars)"))),
        md5(concat(lit("t:"),
          array_join(array_sort(split(col(textCol), " ")), " ")))))
        .as("bk"))
    val key =
      s"${docs.queryExecution.analyzed.semanticHash()}|p=$prefixChars|id=$idCol|t=$textCol"
    val keyed = graft.Caches.cached("fuzzy-keyed", key)(keyed0)
    val blocks = keyed.groupBy(col("bk"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2 && col("n") <= maxBlockSize)
      .select(col("bk"))
    val kept = keyed.join(blocks, Seq("bk"))
    val a = kept.select(col("bk"), col(idCol).as("a_id"),
      col(textCol).as("a_text"))
    val b = kept.select(col("bk"), col(idCol).as("b_id"),
      col(textCol).as("b_text"))
    a.join(b, Seq("bk"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("edit_distance", levenshtein(col("a_text"), col("b_text")))
      .filter(col("edit_distance") <= maxEdit)
      .select(col("a_id"), col("b_id"), col("edit_distance"))
      .distinct()
  }
}
