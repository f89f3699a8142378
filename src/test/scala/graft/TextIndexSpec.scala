package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.TextIndex
import graft.queries.TextQueries
import graft.sources.IndexCommit

/** The maintained BM25 inverted index — the retrieval family's entry in
  * the stored-index maintenance tier. Proves: build+append serves the
  * scan-path ranking with untouched files byte-identical; a crash at any
  * append failpoint leaves the committed version serving and a re-run
  * converges; tombstone deletes serve EXACTLY the fresh-build-over-live
  * ranking (df/n/tl all live — no historical-upper-bound caveat) and are
  * idempotent; compaction physically reclaims and retires the tombstones
  * without changing the served ranking; the fixed-term serving scan
  * prunes to the query terms' bucket partitions; and the streaming route
  * replays equal to the batch serving query.
  */
class TextIndexSpec extends SparkSpec {

  private val terms = Seq("spark", "merge", "vector")

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-bm25idx").toString

  private def docs: DataFrame =
    spark.read.parquet(s"$sf001/documents.parquet").select("doc_id", "text")

  private def serve(dir: String): Seq[org.apache.spark.sql.Row] =
    TextIndex.bm25TopK(spark, dir, terms).collect().toSeq

  /** name -> bytes of every committed data file under a table dir. */
  private def fileBytes(dir: String, table: String): Map[String, Seq[Byte]] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir, table)
    val s = java.nio.file.Files.walk(root)
    try s.iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .map(p => root.relativize(p).toString ->
        java.nio.file.Files.readAllBytes(p).toSeq)
      .toMap
    finally s.close()
  }

  test("driver-side termBucket equals the column expression") {
    val nb = 16
    val got = spark.createDataFrame(terms.map(Tuple1(_))).toDF("term")
      .select(col("term"), pmod(xxhash64(col("term")), lit(nb.toLong)).as("tb"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    terms.foreach { t =>
      assert(TextIndex.termBucket(t, nb) == got(t),
        s"driver bucket for '$t' must match the write-path column")
    }
  }

  test("append-grown index serves the scan-path ranking; untouched " +
      "postings files byte-identical across the append") {
    val dir = tmp()
    TextIndex.writeBm25Index(docs.filter(col("doc_id") % 2 === 0), dir)
    val before = fileBytes(dir, "postings")
    TextIndex.appendBm25Index(docs.filter(col("doc_id") % 2 === 1), dir)
    val after = fileBytes(dir, "postings")
    before.foreach { case (name, bytes) =>
      assert(after.get(name).contains(bytes),
        s"pre-append postings file $name must survive byte-identical")
    }
    assert(after.size > before.size, "append must add postings part files")
    // the served ranking equals the all-at-once scan path
    assert(serve(dir) == TextQueries.textBm25(spark, sf001).collect().toSeq)
  }

  test("a killed append leaves the committed version serving; vacuum + " +
      "re-run converges") {
    val dir = tmp()
    TextIndex.writeBm25Index(docs.filter(col("doc_id") % 2 === 0), dir)
    val v0 = IndexCommit.latestVersion(dir).get
    val served0 = serve(dir)
    for (point <- Seq("bm25-staged", "bm25-before-commit")) {
      var thrown = false
      IndexCommit.failpoint =
        name => if (name == point) { thrown = true; sys.error(s"kill@$name") }
      try intercept[Exception] {
        TextIndex.appendBm25Index(docs.filter(col("doc_id") % 2 === 1), dir)
      } finally IndexCommit.failpoint = _ => ()
      assert(thrown, s"failpoint $point must have fired")
      assert(IndexCommit.latestVersion(dir).contains(v0),
        s"a kill at $point must not publish a new version")
      assert(serve(dir) == served0,
        s"after a kill at $point the committed version must serve unchanged")
    }
    // re-run (vacuums the orphans first) converges to the clean append
    TextIndex.appendBm25Index(docs.filter(col("doc_id") % 2 === 1), dir)
    assert(serve(dir) == TextQueries.textBm25(spark, sf001).collect().toSeq)
  }

  test("delete serves exactly the fresh-build-over-live ranking and is " +
      "idempotent; absent ids are no-ops") {
    val dir = tmp()
    TextIndex.writeBm25Index(docs, dir)
    val deadPred = col("doc_id") % 7 === 3
    val n = TextIndex.deleteFromBm25Index(
      docs.filter(deadPred).select("doc_id"), dir)
    assert(n > 0)
    // BM25 forgetting is FULLY exact: served df/n/tl are live values, so
    // the tombstoned index ranks identically to an index never holding
    // the dead docs at all
    val fresh = tmp()
    TextIndex.writeBm25Index(docs.filter(!deadPred), fresh)
    assert(serve(dir) == serve(fresh))
    // idempotent; absent ids no-op
    assert(TextIndex.deleteFromBm25Index(
      docs.filter(deadPred).select("doc_id"), dir) == 0L)
    assert(TextIndex.deleteFromBm25Index(
      spark.range(1).select((col("id") + 1000000000L).as("doc_id")), dir) == 0L)
    // compaction physically reclaims: tombstones retire, the served
    // ranking is unchanged, and no dead id survives in the raw postings
    assert(TextIndex.hasTombstones(dir))
    val servedTombstoned = serve(dir)
    assert(TextIndex.compactBm25Index(spark, dir) > 0)
    assert(!TextIndex.hasTombstones(dir))
    assert(serve(dir) == servedTombstoned)
    val survivors = spark.read.parquet(s"$dir/postings")
      .filter(col("doc_id") % 7 === 3).count()
    assert(survivors == 0, "compaction must fold dead ids out of postings")
    assert(spark.read.parquet(s"$dir/doclens")
      .filter(col("doc_id") % 7 === 3).count() == 0)
  }

  test("the fixed-term serving scan prunes to the query terms' bucket " +
      "partitions") {
    val dir = tmp()
    TextIndex.writeBm25Index(docs, dir)
    val plan = TextIndex.bm25TopK(spark, dir, terms)
      .queryExecution.executedPlan.toString
    val postingsScan = plan.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("postings"))
      .mkString("\n")
    assert(postingsScan.nonEmpty, s"serving plan must scan the postings:\n$plan")
    assert(postingsScan.contains("PartitionFilters: [") &&
      ".*PartitionFilters: \\[[^\\]]*tb.*".r.findFirstIn(postingsScan).isDefined,
      s"postings scan must carry tb partition filters:\n$postingsScan")
    // three terms prune to <= 3 of the 16 bucket partitions
    val inList = "tb#\\d+L? IN \\(([^)]*)\\)".r
      .findFirstMatchIn(postingsScan).map(_.group(1))
    assert(inList.exists(_.split(",").length <= terms.length),
      s"3-term query must prune to <= 3 buckets: $postingsScan")
    // one scoring pass: the postings are scanned once (the fewer-than-k
    // guard counts the top-k rows, not a second scoring pipeline), and
    // the corpus stats are literals, not a scanned and broadcast table
    val scans = plan.linesIterator.filter(_.contains("FileScan")).toSeq
    assert(scans.count(_.contains("postings")) == 1,
      s"serving plan must scan the postings once:\n$plan")
    assert(!scans.exists(_.contains("/stats/")),
      s"serving plan must not scan the stats table:\n$plan")
  }

  test("fewer than k matching docs fails loudly; exactly k serves") {
    import spark.implicits._
    val dir = tmp()
    // "zq" occurs in 4 of 40 docs
    TextIndex.writeBm25Index((0L until 40L).map(i =>
      (i, if (i % 13 == 0) s"alpha zq beta w$i" else s"alpha beta w$i"))
      .toDF("doc_id", "text"), dir)
    val e = intercept[Exception] {
      TextIndex.bm25TopK(spark, dir, Seq("zq"), k = 5).collect()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage)
        .contains("fewer than 5 docs match any query term")), e.toString)
    val served = TextIndex.bm25TopK(spark, dir, Seq("zq"), k = 4).collect()
    assert(served.map(_.getLong(0)).toSeq == Seq(0L, 13L, 26L, 39L))
    assert(served.forall(_.getLong(2) == 1L))
  }

  test("bm25Route at nbuckets=1024: pruning tracks the batch's probed " +
      "buckets, not the bucket count") {
    val dir = tmp()
    TextIndex.writeBm25Index(docs, dir, nBuckets = 1024)
    val queries = docs.limit(8).select(col("doc_id").as("qid"),
      array_join(slice(split(col("text"), " "), 1, 3), " ").as("qtext"))
    val nTerms = queries
      .select(explode(split(col("qtext"), " ")).as("t"))
      .distinct().count()
    val saved = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "20000")
    try {
      val routed = TextIndex.bm25Route(queries, dir, k = 5)
      assert(routed.count() > 0)
      val plan = routed.queryExecution.executedPlan.toString
      val postingsScan = plan.linesIterator
        .filter(l => l.contains("FileScan") && l.contains("postings"))
        .mkString("\n")
      assert(postingsScan.contains("PartitionFilters: [") &&
        ".*PartitionFilters: \\[[^\\]]*tb.*".r
          .findFirstIn(postingsScan).isDefined,
        s"route postings scan must carry tb partition filters:\n$postingsScan")
      // a small IN renders as "IN (a,b)", a larger one as "INSET a, b, ..."
      val inList = "tb#\\d+L? (?:IN \\(([^)]*)\\)|INSET ([^\\]]*))".r
        .findFirstMatchIn(postingsScan)
        .map(m => Option(m.group(1)).getOrElse(m.group(2)))
      assert(inList.exists(_.split(",").length <= nTerms),
        s"the batch probes $nTerms distinct terms, so the filter must list " +
          s"<= $nTerms of the 1024 buckets: $postingsScan")
    } finally spark.conf.set("spark.sql.maxMetadataStringLength", saved)
  }

  test("hybridRoute at exhaustive nprobe equals the exact two-leg fusion") {
    import graft.operators.Similarity
    val dir = tmp()
    TextIndex.writeBm25Index(docs, dir)
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select("vec_id", "embedding")
    val ivfDir = tmp()
    Similarity.ivfWriteIndex(emb, ivfDir, nCells = 8)
    val legK = 30
    // arriving hybrid queries: every 50th vector's embedding + the fixed
    // keyword text (qid = the probe's vec_id, so self-exclusion matches
    // the brute-force leg's)
    val queries = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"),
        lit(terms.mkString(" ")).as("qtext"), col("embedding"))
    val routed = TextIndex.hybridRoute(queries, dir, ivfDir,
        k = 10, legK = legK, nprobe = 8) // nprobe == nCells -> exact leg
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3))).toSet

    // expected: exact lexical ranks (bm25TopK is spec/oracle-proven equal
    // to the scan path) fused with exact brute-force cosine ranks
    val lexRanks = TextIndex.bm25TopK(spark, dir, terms, k = legK)
      .collect().map(_.getLong(0)).zipWithIndex
      .map { case (d, i) => d -> (i + 1) }.toMap
    val vecRanks = Similarity.bruteForceTopK(emb,
        col("vec_id") % 50 === 0, k = legK)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getInt(1)).toMap
    val qids = queries.select("qid").collect().map(_.getLong(0))
    val expected = qids.flatMap { q =>
      val docsInPlay = lexRanks.keySet ++
        vecRanks.collect { case ((`q`, d), _) => d }
      val fused = docsInPlay.toSeq.map { d =>
        val s = lexRanks.get(d).map(r => 1000000000L / (60 + r))
          .getOrElse(0L) +
          vecRanks.get((q, d)).map(r => 1000000000L / (60 + r))
            .getOrElse(0L)
        (d, s)
      }.sortBy { case (d, s) => (-s, d) }.take(10)
      fused.zipWithIndex.map { case ((d, s), i) => (q, i + 1, d, s) }
    }.toSet
    assert(routed == expected,
      "exhaustive-probe hybrid route must equal the exact two-leg fusion")
  }

  test("as-of serves historical versions along the append/delete chain; " +
      "compaction invalidates them loudly") {
    val dir = tmp()
    TextIndex.writeBm25Index(docs.filter(col("doc_id") % 2 === 0), dir) // v0
    TextIndex.appendBm25Index(docs.filter(col("doc_id") % 2 === 1), dir) // v1
    assert(IndexCommit.versionsOf(dir) == Seq(0, 1))
    // v0 = exactly the base build: equal to a fresh index over that slice
    val evenOnly = tmp()
    TextIndex.writeBm25Index(docs.filter(col("doc_id") % 2 === 0), evenOnly)
    assert(TextIndex.bm25TopK(spark, dir, terms, asOf = Some(0))
        .collect().toSeq ==
      TextIndex.bm25TopK(spark, evenOnly, terms).collect().toSeq)
    // v1 = the latest: as-of and default serves agree
    val servedV1 = serve(dir)
    assert(TextIndex.bm25TopK(spark, dir, terms, asOf = Some(1))
      .collect().toSeq == servedV1)
    // a delete commits v2; as-of v1 still serves the pre-delete ranking
    TextIndex.deleteFromBm25Index(
      docs.filter(col("doc_id") % 7 === 3).select("doc_id"), dir)
    assert(serve(dir) != servedV1, "the delete must change the ranking")
    assert(TextIndex.bm25TopK(spark, dir, terms, asOf = Some(1))
      .collect().toSeq == servedV1)
    // unknown versions fail with a clear message
    val eUnknown = intercept[RuntimeException] {
      TextIndex.bm25TopK(spark, dir, terms, asOf = Some(99)).collect()
    }
    assert(eUnknown.getMessage.contains("not in the manifest history"))
    // compaction rewrites files old versions pinned: time travel to them
    // now fails FAST instead of a mystifying scan error
    TextIndex.compactBm25Index(spark, dir)
    val eGone = intercept[IllegalArgumentException] {
      TextIndex.bm25TopK(spark, dir, terms, asOf = Some(0)).collect()
    }
    assert(eGone.getMessage.contains("no longer fully resolvable"))
  }

  test("randomized lifecycle property: append/delete waves (with killed " +
      "writes) always serve the fresh live-corpus ranking") {
    val rnd = new scala.util.Random(12)
    val dir = tmp()
    val allIds = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val waves = allIds.grouped(math.max(1, allIds.length / 4)).toSeq
    def ofIds(ids: Set[Long]) = docs.filter(col("doc_id").isin(ids.toSeq: _*))
    // small k: waves shrink the live set below the default-20 candidate
    // floor early in the chain
    def topk(d: String): Seq[org.apache.spark.sql.Row] =
      TextIndex.bm25TopK(spark, d, terms, k = 5).collect().toSeq
    def freshEquals(live: Set[Long]): Unit = {
      val fresh = tmp()
      TextIndex.writeBm25Index(ofIds(live), fresh)
      assert(topk(dir) == topk(fresh),
        s"served ranking must equal a fresh build over the ${live.size} live docs")
    }
    var live = waves.head.toSet
    TextIndex.writeBm25Index(ofIds(live), dir)
    freshEquals(live)
    waves.zipWithIndex.drop(1).foreach { case (wave, i) =>
      // kill one append and one delete mid-chain; re-runs must converge
      if (i == 2) {
        IndexCommit.failpoint =
          n => if (n == "bm25-before-commit") sys.error("kill")
        try intercept[Exception] { TextIndex.appendBm25Index(ofIds(wave.toSet), dir) }
        finally IndexCommit.failpoint = _ => ()
        freshEquals(live) // the killed append must be invisible
      }
      TextIndex.appendBm25Index(ofIds(wave.toSet), dir)
      live ++= wave
      freshEquals(live)
      val dead = rnd.shuffle(live.toSeq).take(2).toSet
      if (i == 1) {
        IndexCommit.failpoint =
          n => if (n == "bm25-del-staged") sys.error("kill")
        try intercept[Exception] {
          TextIndex.deleteFromBm25Index(ofIds(dead).select("doc_id"), dir)
        } finally IndexCommit.failpoint = _ => ()
        freshEquals(live) // the killed delete must be invisible
      }
      assert(TextIndex.deleteFromBm25Index(
        ofIds(dead).select("doc_id"), dir) == dead.size)
      live --= dead
      freshEquals(live)
    }
    // a final compaction folds every wave's tombstones + segments and
    // still serves the live ranking
    assert(TextIndex.compactBm25Index(spark, dir, maxFiles = 1) > 0)
    assert(!TextIndex.hasTombstones(dir))
    freshEquals(live)
  }

  private def recordPrunedEvents(body: => Unit): Seq[String] = {
    val events = scala.collection.mutable.ArrayBuffer.empty[String]
    IndexCommit.failpoint =
      n => if (n.startsWith("bm25-pruned-")) events.synchronized { events += n }
    try body finally IndexCommit.failpoint = _ => ()
    events.toSeq
  }

  test("pruned serving equals the full ranking across the append/delete/" +
      "compact lifecycle; a non-forward index refuses clearly") {
    val dir = tmp()
    TextIndex.writeBm25Index(docs.filter(col("doc_id") % 2 === 0), dir,
      forward = true)
    TextIndex.appendBm25Index(docs.filter(col("doc_id") % 2 === 1), dir)
    def both() = (
      TextIndex.bm25TopK(spark, dir, terms).collect().toSeq,
      TextIndex.bm25TopKPruned(spark, dir, terms).collect().toSeq)
    val (f1, p1) = both()
    assert(f1 == p1, "pruned must equal full after build+append")
    // delete: live df/n/tl shift, envelopes go stale-high (sound upper
    // bounds) — the certificate must still be exact
    TextIndex.deleteFromBm25Index(
      docs.filter(col("doc_id") % 7 === 3).select("doc_id"), dir)
    val (f2, p2) = both()
    assert(f2 == p2, "pruned must equal full under tombstones")
    // compaction reclaims the forward table's dead ranges too
    assert(TextIndex.compactBm25Index(spark, dir) > 0)
    val (f3, p3) = both()
    assert(f3 == p3, "pruned must equal full after compaction")
    assert(spark.read.parquet(s"$dir/fwd")
      .filter(col("doc_id") % 7 === 3).count() == 0,
      "compaction must fold dead ids out of the forward table")
    // pruning needs the forward table — refuse loudly, not wrong-answers
    val legacy = tmp()
    TextIndex.writeBm25Index(docs, legacy)
    val e = intercept[IllegalArgumentException] {
      TextIndex.bm25TopKPruned(spark, legacy, terms).collect()
    }
    assert(e.getMessage.contains("forward-enabled"))
  }

  test("on a df-skewed Zipf vocabulary the pruned serve certifies in one " +
      "round and never reads the head term's posting list") {
    val zdocs = graft.tools.SynthFixtures.zipfDocs(spark, 20000L)
    val dir = tmp()
    TextIndex.writeBm25Index(zdocs, dir, forward = true)
    // head / mid / tail of the Zipf(1.1) df ladder of this seeded 20k-doc
    // fixture: w000005 df=18820, w000500 df=411, w020123 df=9
    val zterms = Seq("w000005", "w000500", "w020123")
    val headTb = TextIndex.termBucket("w000005", 16)
    val tailTb = TextIndex.termBucket("w020123", 16)
    assert(headTb != tailTb, "fixture terms must hash to distinct buckets")
    // k <= tail df: the rarest term's candidates alone cover the top k,
    // and its ~n/df-scaled upper bound certifies against both skipped
    // terms in ONE round — the head term's 18.8k-posting list is never
    // scanned (its bucket never enters the essential set)
    val ev1 = recordPrunedEvents {
      val full = TextIndex.bm25TopK(spark, dir, zterms, k = 5)
        .collect().toSeq
      val pruned = TextIndex.bm25TopKPruned(spark, dir, zterms, k = 5)
        .collect().toSeq
      assert(full == pruned)
    }
    assert(ev1.count(_.startsWith("bm25-pruned-round")) == 1,
      s"df-skew at k=5 must certify in one round: $ev1")
    val bucketLists = ev1.filter(_.startsWith("bm25-pruned-buckets"))
      .map(_.stripPrefix("bm25-pruned-buckets:"))
    assert(bucketLists == Seq(tailTb.toString),
      s"round 1 must read only the tail term's bucket: $bucketLists")
    // k > tail df: the rarest list alone can never yield k candidates,
    // so the r0 fast-start opens with {tail, mid} essential in ROUND ONE
    // (no wasted tail-only round) and certifies against the head bound
    val ev2 = recordPrunedEvents {
      val full = TextIndex.bm25TopK(spark, dir, zterms, k = 10)
        .collect().toSeq
      val pruned = TextIndex.bm25TopKPruned(spark, dir, zterms, k = 10)
        .collect().toSeq
      assert(full == pruned)
    }
    assert(ev2.count(_.startsWith("bm25-pruned-round")) == 1,
      s"k=10 > tail df=9 must fast-start at r0=2 and certify in one " +
        s"round: $ev2")
    val ev2Buckets = ev2.filter(_.startsWith("bm25-pruned-buckets"))
      .flatMap(_.stripPrefix("bm25-pruned-buckets:").split(',')
        .filter(_.nonEmpty).map(_.toLong)).toSet
    val midTb = TextIndex.termBucket("w000500", 16)
    assert(ev2Buckets.contains(tailTb) &&
      (!ev2Buckets.contains(headTb) || headTb == midTb),
      s"the head term's bucket must stay out of the essential set: $ev2")

    // route parity on an arriving Zipf query batch, including queries
    // that escalate
    val queries = graft.tools.SynthFixtures.zipfQueries(spark, 30L)
    val viaFull = TextIndex.bm25Route(queries, dir, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val viaPruned = TextIndex.bm25RoutePruned(queries, dir, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(viaFull == viaPruned,
      "pruned route must rank exactly like the full route")
  }

  test("pruned serving degrades to the vacuous full-disjunction round " +
      "when no certificate can hold (k above every candidate count)") {
    val dir = tmp()
    TextIndex.writeBm25Index(docs, dir, forward = true)
    val arrivals = spark.createDataFrame(Seq((7L, "spark merge vector")))
      .toDF("qid", "qtext")
    // k far above the corpus size: the total df can never reach k, so
    // the r0 fast-start jumps STRAIGHT to the vacuous full-disjunction
    // terminal (every term essential, nothing skipped) in ONE round —
    // no sequence of provably-uncertifiable smaller rounds runs at all
    val ev = recordPrunedEvents {
      val full = TextIndex.bm25Route(arrivals, dir, k = 1000000)
        .collect().map(r => (r.getInt(1), r.getLong(2), r.get(3))).toSeq
      val pruned = TextIndex.bm25RoutePruned(arrivals, dir, k = 1000000)
        .collect().map(r => (r.getInt(1), r.getLong(2), r.get(3))).toSeq
      assert(full == pruned && full.nonEmpty,
        "the vacuous terminal must equal the full disjunction")
    }
    assert(ev.count(_.startsWith("bm25-pruned-round")) == 1,
      s"an uncertifiable query must jump straight to the vacuous " +
        s"terminal: $ev")
    val evBuckets = ev.filter(_.startsWith("bm25-pruned-buckets"))
      .flatMap(_.stripPrefix("bm25-pruned-buckets:").split(',')
        .filter(_.nonEmpty).map(_.toLong)).toSet
    val allTbs = terms.map(TextIndex.termBucket(_, 16)).toSet
    assert(evBuckets == allTbs,
      s"the terminal round must read every query term's bucket: $ev")
  }

  test("phrase/min-gap kernels: overlapping starts count; two-pointer " +
      "gap matches brute force") {
    import spark.implicits._
    // "a b a b a": a at [0,2,4], b at [1,3]; phrase "a b a" starts at 0
    // AND 2 — overlapping occurrences each count
    val df = Seq((Seq(0, 2, 4), Seq(1, 3))).toDF("pa", "pb")
    val starts3 = graft.functions.gcolumns.phrase_join(
      graft.functions.gcolumns.phrase_join(col("pa"), col("pb"), 1),
      col("pa"), 2)
    assert(df.select(starts3).collect().head.getSeq[Int](0) == Seq(0, 2))
    val gaps = df.select(
      graft.functions.gcolumns.sorted_min_gap(col("pa"), col("pb")),
      graft.functions.gcolumns.sorted_min_gap(col("pa"),
        typedLit(Seq.empty[Int]))).collect().head
    assert(gaps.getInt(0) == 1, "adjacent positions gap 1")
    assert(gaps.getInt(1) == Int.MaxValue, "no pair exists on an empty side")
    val rnd = new scala.util.Random(7)
    (1 to 60).foreach { _ =>
      val a = Seq.fill(rnd.nextInt(9))(rnd.nextInt(30)).distinct.sorted
      val b = Seq.fill(rnd.nextInt(9))(rnd.nextInt(30)).distinct.sorted
      val off = rnd.nextInt(3) + 1
      val expStarts = a.filter(p => b.contains(p + off))
      val expGap =
        if (a.isEmpty || b.isEmpty) Int.MaxValue
        else (for { x <- a; y <- b } yield math.abs(x - y)).min
      val r = Seq((a, b)).toDF("pa", "pb").select(
          graft.functions.gcolumns.phrase_join(col("pa"), col("pb"), off),
          graft.functions.gcolumns.sorted_min_gap(col("pa"), col("pb")),
          graft.functions.gcolumns.sorted_min_cover(
            array(col("pa"), col("pb"))))
        .collect().head
      assert(r.getSeq[Int](0) == expStarts, s"starts of $a +$off in $b")
      assert(r.getInt(1) == expGap, s"min gap of $a vs $b")
      assert(r.getInt(2) == expGap,
        s"2-list min cover must equal the min gap for $a vs $b")
    }
    // n-ary min cover vs exhaustive brute force over 3 lists
    (1 to 60).foreach { _ =>
      val ls = Seq.fill(3)(
        Seq.fill(rnd.nextInt(8))(rnd.nextInt(40)).distinct.sorted)
      val exp =
        if (ls.exists(_.isEmpty)) Int.MaxValue
        else (for { x <- ls(0); y <- ls(1); z <- ls(2) }
          yield Seq(x, y, z).max - Seq(x, y, z).min).min
      val got = Seq((ls(0), ls(1), ls(2))).toDF("a", "b", "c")
        .select(graft.functions.gcolumns.sorted_min_cover(
          array(col("a"), col("b"), col("c"))))
        .collect().head.getInt(0)
      assert(got == exp, s"min cover of $ls")
    }
  }

  test("positional phrase/proximity serving equals an independent scan " +
      "recompute across append/delete/compact; non-positional refuses; " +
      "the phrase scan prunes to the phrase terms' buckets") {
    val dir = tmp()
    TextIndex.writeBm25Index(docs.filter(col("doc_id") % 2 === 0), dir,
      positional = true)
    TextIndex.appendBm25Index(docs.filter(col("doc_id") % 2 === 1), dir)
    val phrase = Seq("spark", "merge", "vector")
    // independent reference: higher-order filter + array_contains over a
    // fresh tokenization (different machinery than the PhraseJoin kernel)
    def scanPhrase(live: DataFrame): Seq[(Long, Int)] = {
      val pos = live.select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("p", "term")))
        .filter(col("term").isin(phrase: _*))
        .groupBy("doc_id")
        .agg(
          sort_array(collect_list(when(col("term") === phrase(0), col("p"))))
            .as("p0"),
          sort_array(collect_list(when(col("term") === phrase(1), col("p"))))
            .as("p1"),
          sort_array(collect_list(when(col("term") === phrase(2), col("p"))))
            .as("p2"))
      pos.select(col("doc_id"), expr(
          "size(filter(p0, x -> array_contains(p1, x + 1) AND " +
            "array_contains(p2, x + 2)))").as("tf"))
        .filter(col("tf") > 0).orderBy(col("tf").desc, col("doc_id"))
        .limit(20).collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    }
    // independent proximity reference: driver-side pairwise min gap
    def scanNear(live: DataFrame, a: String, b: String,
                 slop: Int): Seq[(Long, Int)] =
      live.select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("p", "term")))
        .filter(col("term").isin(a, b))
        .collect().groupBy(_.getLong(0)).toSeq.flatMap { case (id, rows) =>
          val pa = rows.filter(_.getString(2) == a).map(_.getInt(1))
          val pb = rows.filter(_.getString(2) == b).map(_.getInt(1))
          if (pa.isEmpty || pb.isEmpty) None
          else {
            val g = (for { x <- pa; y <- pb } yield math.abs(x - y)).min
            if (g <= slop) Some((id, g)) else None
          }
        }.sortBy(t => (t._2, t._1)).take(20)
    def servedPhrase(): Seq[(Long, Int)] =
      TextIndex.phraseTopK(spark, dir, phrase)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    def servedNear(): Seq[(Long, Int)] =
      TextIndex.nearTopK(spark, dir, "spark", "vector", slop = 4)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(servedPhrase() == scanPhrase(docs), "phrase after build+append")
    assert(servedNear() == scanNear(docs, "spark", "vector", 4),
      "proximity after build+append")
    // deletes: tombstoned docs leave the served results
    TextIndex.deleteFromBm25Index(
      docs.filter(col("doc_id") % 5 === 1).select("doc_id"), dir)
    val live = docs.filter(col("doc_id") % 5 =!= 1)
    assert(servedPhrase() == scanPhrase(live), "phrase under tombstones")
    assert(servedNear() == scanNear(live, "spark", "vector", 4),
      "proximity under tombstones")
    // compaction rewrites the dead buckets and must carry `ps` forward
    assert(TextIndex.compactBm25Index(spark, dir) > 0)
    assert(servedPhrase() == scanPhrase(live), "phrase after compaction")
    assert(servedNear() == scanNear(live, "spark", "vector", 4),
      "proximity after compaction")
    // positional serving needs the positional layout — refuse loudly
    val legacy = tmp()
    TextIndex.writeBm25Index(docs, legacy)
    val e = intercept[IllegalArgumentException] {
      TextIndex.phraseTopK(spark, legacy, phrase).collect()
    }
    assert(e.getMessage.contains("positional"))
    // the phrase serve prunes the postings scan to the phrase buckets
    val plan = TextIndex.phraseTopK(spark, dir, phrase)
      .queryExecution.executedPlan.toString
    val postingsScan = plan.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("postings"))
      .mkString("\n")
    assert(postingsScan.contains("PartitionFilters: [") &&
      ".*PartitionFilters: \\[[^\\]]*tb.*".r.findFirstIn(postingsScan).isDefined,
      s"phrase postings scan must carry tb partition filters:\n$postingsScan")
  }

  test("phraseRoute replays equal to per-query phraseTopK, including " +
      "under tombstones and for repeated-term phrases") {
    val dir = tmp()
    TextIndex.writeBm25Index(docs.filter(col("doc_id") % 2 === 0), dir,
      positional = true)
    TextIndex.appendBm25Index(docs.filter(col("doc_id") % 2 === 1), dir)
    TextIndex.deleteFromBm25Index(
      docs.filter(col("doc_id") % 7 === 2).select("doc_id"), dir)
    val phrases = Seq(1L -> Seq("spark", "merge"),
      2L -> Seq("spark", "merge", "vector"), 3L -> Seq("merge", "merge"))
    val arrivals = spark.createDataFrame(
        phrases.map { case (q, ts) => (q, ts.mkString(" ")) })
      .toDF("qid", "qtext")
    val viaRoute = TextIndex.phraseRoute(arrivals, dir)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val viaBatch = phrases.flatMap { case (q, ts) =>
      TextIndex.phraseTopK(spark, dir, ts).collect().zipWithIndex.map {
        case (r, i) => (q, i + 1L, r.getLong(0), r.getInt(1).toLong) }
    }.toSet
    assert(viaRoute == viaBatch,
      "the route's shifted-intersection fold must rank exactly like the " +
        "fixed-phrase fold, per query")
    // the route's one postings read per batch is bucket-pruned too
    val plan = TextIndex.phraseRoute(arrivals, dir)
      .queryExecution.executedPlan.toString
    val postingsScan = plan.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("postings"))
      .mkString("\n")
    assert(postingsScan.contains("PartitionFilters: [") &&
      ".*PartitionFilters: \\[[^\\]]*tb.*".r.findFirstIn(postingsScan).isDefined,
      s"phraseRoute's postings scan must carry tb partition filters:\n" +
        postingsScan)
  }

  test("norm tokenizer: a messy corpus serves identically to a ws index " +
      "over pre-normalized text; appends and the route replay the " +
      "recorded tokenization; unknown names refuse") {
    import spark.implicits._
    val messy = docs.select(col("doc_id"),
      concat(lit("spark merge "), col("text"),
        lit("  vector")).as("text"))
    val dirN = tmp()
    TextIndex.writeBm25Index(messy.filter(col("doc_id") % 2 === 0), dirN,
      tokenizer = "norm")
    // the append must pick the tokenizer up from meta, not a parameter
    TextIndex.appendBm25Index(messy.filter(col("doc_id") % 2 === 1), dirN)
    val dirW = tmp()
    TextIndex.writeBm25Index(
      graft.operators.Curation.normalizeDocs(messy)
        .select(col("doc_id"), col("norm").as("text")), dirW)
    def serveOf(dir: String) =
      TextIndex.bm25TopK(spark, dir, terms).collect().toSeq
    assert(serveOf(dirN) == serveOf(dirW),
      "norm-tokenized index over messy text must rank exactly like a ws " +
        "index over the pre-normalized text")
    // route-side query tokenization: an NBSP-glued query behaves like the
    // clean three-term query because qtext replays the index's tokenizer
    def routed(qtext: String) =
      TextIndex.bm25Route(Seq((1L, qtext)).toDF("qid", "qtext"), dirN)
        .collect().toSeq
    assert(routed("spark merge vector") == routed("spark merge vector"),
      "bm25Route must tokenize query text through the recorded tokenizer")
    val e = intercept[IllegalArgumentException] {
      TextIndex.writeBm25Index(messy, tmp(), tokenizer = "nope")
    }
    assert(e.getMessage.contains("unknown tokenizer"))
  }

  test("windowTopK: 2-term window ranks exactly like nearTopK; 3-term " +
      "serve matches a driver brute force under tombstones; one distinct " +
      "term refuses") {
    val dir = tmp()
    TextIndex.writeBm25Index(docs, dir, positional = true)
    TextIndex.deleteFromBm25Index(
      docs.filter(col("doc_id") % 5 === 1).select("doc_id"), dir)
    val live = docs.filter(col("doc_id") % 5 =!= 1)
    // two terms: the cover definition collapses to the min gap
    val viaWin = TextIndex.windowTopK(spark, dir, Seq("spark", "vector"),
        span = 3).collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    val viaNear = TextIndex.nearTopK(spark, dir, "spark", "vector",
        slop = 3).collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(viaWin == viaNear,
      "2-term windowTopK must rank exactly like nearTopK")
    // three terms: driver brute force over a fresh tokenization of the
    // LIVE corpus (tombstoned docs must not rank)
    val terms = Seq("spark", "merge", "vector")
    val span = 6
    val brute = live.select(col("doc_id"), col("text")).collect().flatMap {
      r =>
        val toks = r.getString(1).split(" ", -1)
        val pos = terms.map(t =>
          toks.zipWithIndex.collect { case (x, i) if x == t => i })
        if (pos.exists(_.isEmpty)) None
        else {
          val w = (for { x <- pos(0); y <- pos(1); z <- pos(2) }
            yield Seq(x, y, z).max - Seq(x, y, z).min).min
          if (w <= span) Some((r.getLong(0), w)) else None
        }
    }.sortBy { case (id, w) => (w, id) }.take(20).toSeq
    val served = TextIndex.windowTopK(spark, dir, terms, span)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(served == brute,
      "3-term window serve must match first-principles position math " +
        "over the live corpus")
    val e = intercept[IllegalArgumentException] {
      TextIndex.windowTopK(spark, dir, Seq("spark", "spark"), span = 3)
    }
    assert(e.getMessage.contains("two distinct terms"))
  }

  test("phraseRoute refuses a one-term arrival loudly (phraseTopK's " +
      ">= 2-term contract, per query)") {
    val dir = tmp()
    TextIndex.writeBm25Index(docs, dir, positional = true)
    val arrivals = spark.createDataFrame(
        Seq((1L, "spark merge"), (2L, "spark")))
      .toDF("qid", "qtext")
    // without the guard, qid 2 would silently emit a per-term tf ranking
    val e = intercept[Exception] {
      TextIndex.phraseRoute(arrivals, dir).collect()
    }
    assert(e.getMessage != null &&
      e.getMessage.contains("at least two terms") ||
      Option(e.getCause).exists(_.getMessage.contains("at least two terms")),
      s"expected the loud >= 2-term refusal, got: $e")
  }

  test("bm25Route replays equal to the batch serving query") {
    val dir = tmp()
    TextIndex.writeBm25Index(docs, dir)
    // one arriving query carrying the fixed terms (with a repeat — query
    // term frequency is ignored by both paths)
    val arrivals = spark.createDataFrame(
        Seq((7L, "spark merge vector spark")))
      .toDF("qid", "qtext")
    val routed = TextIndex.bm25Route(arrivals, dir, k = 20)
      .orderBy("rank")
      .collect().map(r => (r.getLong(2), r.getLong(3)))
    val batch = serve(dir).map(r => (r.getLong(0), r.getLong(1)))
    assert(routed.toSeq == batch,
      "per-arrival route must rank exactly like the batch serving query")
  }

  // -----------------------------------------------------------------------
  // Impact-ordered (WAND/Block-Max-class) approximate tier
  // -----------------------------------------------------------------------

  test("impact tier: full-coverage budget reproduces the exact ranking; " +
      "a truncating budget stores only the head blocks") {
    val k = 10
    // full coverage: blockSize 64 x 4 blocks per segment exceeds every
    // term's df on this corpus, so the accumulator sums are COMPLETE and
    // the approximate tier must coincide with the exact one bit-for-bit
    val dirFull = tmp()
    TextIndex.writeBm25Index(docs.filter(col("doc_id") % 2 === 0), dirFull,
      impactBlocks = 4)
    TextIndex.appendBm25Index(docs.filter(col("doc_id") % 2 === 1), dirFull)
    val exact = TextIndex.bm25TopK(spark, dirFull, terms, k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val full = TextIndex.bm25TopKWand(spark, dirFull, terms, k, budget = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(full == exact,
      "a budget covering every posting must reproduce the exact ranking")
    // truncating budget, storage contract: tiny blocks force real
    // head-block cuts — the table stores at most blocks*blockSize rows
    // per (term, segment), never the full posting lists
    val dirCut = tmp()
    TextIndex.writeBm25Index(docs.filter(col("doc_id") % 2 === 0), dirCut,
      impactBlocks = 2, impactBlockSize = 4)
    TextIndex.appendBm25Index(docs.filter(col("doc_id") % 2 === 1), dirCut)
    val perTermSeg = graft.sources.StoredIndex.readTable(spark,
        s"$dirCut/impacts",
        "term STRING, doc_id BIGINT, tf BIGINT, dl BIGINT, ib INT, " +
          "seg INT, tb BIGINT")
      .groupBy("term", "seg").count().collect()
    assert(perTermSeg.nonEmpty && perTermSeg.forall(_.getLong(2) <= 8),
      "impacts must store at most blocks*blockSize rows per term/segment")
  }

  test("impact tier recall floor on the df-skewed Zipf fixture (the " +
      "tier's documented domain — on the degenerate uniform-df corpus " +
      "score mass does not concentrate in head blocks by construction)") {
    // 2000-doc Zipf(1.1) corpus, 50 tail-conditioned queries — the
    // ROUTEBENCH/SCALING retrieval shape. Measured curve (WandProbe):
    // budget=1 mean recall@10 0.954, budget=2 0.996 (min 0.9),
    // budget>=3 1.000; at a 50k index the FIXED budget honestly decays
    // (0.706 mean at budget=2) — df grows with the corpus while the
    // head stays constant, which is exactly the flat-latency trade, and
    // the budget knob is the scale lever. The floor pins the strong
    // regime; the decay is documented in SURVEY §9, not asserted away.
    val zdocs = graft.tools.SynthFixtures.zipfDocs(spark, 2000L)
    val dir = tmp()
    TextIndex.writeBm25Index(zdocs, dir, impactBlocks = 4)
    val qs = graft.tools.SynthFixtures.zipfQueries(spark, 50L)
    val k = 10
    def ranks(df: DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = ranks(TextIndex.bm25Route(qs, dir, k = k))
    val wand = ranks(TextIndex.bm25RouteWand(qs, dir, k = k, budget = 2))
    val recalls = exact.map { case (q, ex) =>
      wand.getOrElse(q, Set.empty[Long]).count(ex) / ex.size.toDouble }
    val mean = recalls.sum / recalls.size
    info(f"zipf mean recall@$k at budget 2 = $mean%.3f (min ${recalls.min}%.2f)")
    assert(mean >= 0.9,
      f"budget-2 serving must keep mean recall@$k >= 0.9 on the Zipf " +
        f"fixture (got $mean%.3f)")
    assert(recalls.min >= 0.5,
      f"no single query may fall below recall 0.5 (got ${recalls.min}%.2f)")
  }

  test("impact tier: delete + compact fold the impacts table — dead doc " +
      "leaves the served ranking, the fold re-blocks to seg=0, and the " +
      "post-compact serve is unchanged") {
    val dir = tmp()
    TextIndex.writeBm25Index(docs, dir, impactBlocks = 4)
    val before = TextIndex.bm25TopKWand(spark, dir, terms, 10, budget = 4)
      .collect().map(_.getLong(0)).toSeq
    val dead = before.head
    TextIndex.deleteFromBm25Index(
      spark.createDataFrame(Seq(Tuple1(dead))).toDF("doc_id"), dir)
    val afterDel = TextIndex.bm25TopKWand(spark, dir, terms, 10, budget = 4)
      .collect().map(_.getLong(0)).toSeq
    assert(!afterDel.contains(dead),
      "a tombstoned doc must leave the impact-served ranking immediately")
    TextIndex.compactBm25Index(spark, dir)
    assert(!TextIndex.hasTombstones(dir), "compaction retires tombstones")
    val afterComp = TextIndex.bm25TopKWand(spark, dir, terms, 10, budget = 4)
      .collect().map(_.getLong(0)).toSeq
    assert(afterComp == afterDel,
      "compaction must not change the impact-served ranking")
    import scala.jdk.CollectionConverters._
    val segs = java.nio.file.Files.list(
        java.nio.file.Paths.get(dir, "impacts"))
      .iterator().asScala.map(_.getFileName.toString).toSeq
    assert(segs == Seq("seg=0"),
      s"the fold must re-block the impacts table to seg=0 (got $segs)")
  }

  test("impact tier refusals: non-impact index and over-budget serve " +
      "fail loudly") {
    val dir = tmp()
    TextIndex.writeBm25Index(docs, dir)
    val e1 = intercept[IllegalArgumentException] {
      TextIndex.bm25TopKWand(spark, dir, terms)
    }
    assert(e1.getMessage.contains("impact-enabled"))
    val dir2 = tmp()
    TextIndex.writeBm25Index(docs, dir2, impactBlocks = 2)
    val e2 = intercept[IllegalArgumentException] {
      TextIndex.bm25TopKWand(spark, dir2, terms, budget = 3)
    }
    assert(e2.getMessage.contains("exceeds the stored impact blocks"))
  }

  // -----------------------------------------------------------------------
  // BPE tokenizer
  // -----------------------------------------------------------------------

  test("bpe tokenizer: the stored merge table replays across appends — " +
      "build+append serves exactly a fresh rebuild, and bpeQueryTokens " +
      "is the driver-side encode of the same merges") {
    val merges = graft.operators.Bpe.train(docs, nMerges = 20)
    val dir = tmp()
    TextIndex.writeBm25Index(docs.filter(col("doc_id") % 2 === 0), dir,
      tokenizer = "bpe", bpeMerges = merges)
    TextIndex.appendBm25Index(docs.filter(col("doc_id") % 2 === 1), dir)
    val dirFresh = tmp()
    TextIndex.writeBm25Index(docs, dirFresh,
      tokenizer = "bpe", bpeMerges = merges)
    val qtoks = TextIndex.bpeQueryTokens(spark, dir, terms)
    val ranks = merges.map(m => (m.left, m.right) -> m.rank).toMap
    assert(qtoks ==
      terms.flatMap(w => graft.operators.Bpe.encodeWord(w, ranks)).distinct,
      "query tokens must be the stored merges' encode, deduplicated")
    val grown = TextIndex.bm25TopK(spark, dir, qtoks, 10).collect().toSeq
    val fresh = TextIndex.bm25TopK(spark, dirFresh, qtoks, 10).collect().toSeq
    assert(grown == fresh,
      "an append-grown bpe index must serve exactly a fresh rebuild " +
        "(the appended half re-tokenized through the STORED merges)")
    // a ws index refuses bpe query-token encoding loudly
    val dirWs = tmp()
    TextIndex.writeBm25Index(docs, dirWs)
    val e = intercept[IllegalArgumentException] {
      TextIndex.bpeQueryTokens(spark, dirWs, terms)
    }
    assert(e.getMessage.contains("bpe-tokenized"))
  }
}
