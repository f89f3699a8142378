package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.StoredIndex

/** The ONE-CALL nightly-ops umbrella ([[graft.sources.StoredIndex
  * .maintain]], VERDICT r14 #5): plant one stored index per family
  * (six since the r15 budget gate and stored LM) under a root, one call
  * detects each
  * family from its table layout and runs its policy driver; a second
  * run converges to `noop` everywhere. The per-family policy semantics
  * themselves are proven in IndexMaintenanceSpec / IvfPqSpec /
  * CurationSpec — this spec owns only the dispatch.
  */
class MaintainSpec extends SparkSpec {

  private def docs: DataFrame =
    spark.read.parquet(s"$sf001/documents.parquet").select("doc_id", "text")

  private def emb: DataFrame =
    spark.read.parquet(s"$sf001/embeddings.parquet")
      .select("vec_id", "embedding")

  test("maintain(root) detects all five families, runs each family's " +
      "indicated action once, and a re-run is a no-op") {
    val spark2 = spark
    import spark2.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-maintain").toString
    graft.operators.Dedup.writeLshIndex(docs, s"$root/d-lsh")
    graft.operators.Similarity.ivfWriteIndex(emb, s"$root/d-ivf")
    graft.operators.TextIndex.writeBm25Index(docs, s"$root/d-bm25")
    graft.operators.Curation.writeCurateIndex(docs, s"$root/d-curate")
    // a budget gate with MORE fills segments than the fold budget, so
    // its indicated action is a real compact
    graft.operators.Curation.writeBudgetGate(spark, s"$root/d-budget",
      Map("s" -> 100000L))
    for (i <- 1 to 10) {
      val b = Seq((i.toLong, "s", "tok tok tok"))
        .toDF("doc_id", "source", "text")
      graft.operators.Curation.recordBudgetFills(
        graft.operators.Curation.budgetRoute(b, s"$root/d-budget"),
        s"$root/d-budget")
    }
    // an lm index with MORE bi segments than the fold budget, so its
    // indicated action is a real compact
    graft.operators.LangModel.writeLmIndex(docs.limit(50), s"$root/d-lm",
      vocabTop = 50)
    for (_ <- 1 to 9)
      graft.operators.LangModel.appendLmCounts(
        docs.filter(col("doc_id") === 1L), s"$root/d-lm")
    // an agg view with MORE state segments than the fold budget, so its
    // indicated action is a real compact
    graft.sources.AggView.write(docs.limit(10), s"$root/d-aggview",
      Seq("doc_id"), Seq.empty)
    for (_ <- 1 to 9)
      graft.sources.AggView.append(docs.limit(5), s"$root/d-aggview")
    // a non-index child must be skipped, not crash the sweep
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(root, "not-an-index"))
    // leave the bm25 index with LIVE TOMBSTONES so its indicated action
    // is a real compact, not a noop — the umbrella must surface it
    graft.operators.TextIndex.deleteFromBm25Index(
      docs.select("doc_id").limit(3), s"$root/d-bm25")
    assert(graft.operators.TextIndex.hasTombstones(s"$root/d-bm25"))

    // CATALOG (VERDICT r15 #5): one metadata-only row per planted index
    // — family, versions, live files/bytes, segment count (the
    // compaction-pressure signal), tombstone debt — before the sweep
    def cat() = StoredIndex.catalog(spark, root).collect()
      .map(r => r.getString(1) -> r).toMap
    val pre = cat()
    assert(pre.keySet == Set("lsh", "ivf", "bm25", "curate", "budget",
      "lm", "aggview"),
      s"catalog must list all seven planted families (got ${pre.keySet})")
    assert(pre.values.forall(r => r.getInt(2) >= 1 &&
      r.getLong(3) > 0 && r.getLong(4) > 0),
      "every index reports committed versions, live files and bytes")
    assert(pre("lm").getLong(6) >= 10,
      s"the fragmented lm index's segments must surface (got ${pre("lm")})")
    assert(pre("bm25").getLong(7) > 0,
      "the tombstoned bm25 index's forget debt must surface")

    val first = StoredIndex.maintain(spark, root)
    val byFam = first.map { case (dir, m) => m.family -> dir }.toMap
    assert(first.size == 7,
      s"exactly the seven planted indexes dispatch (got $first) — the " +
        "curation state's NESTED lsh subtree must never double-dispatch")
    assert(byFam == Map(
      "lsh" -> s"$root/d-lsh", "ivf" -> s"$root/d-ivf",
      "bm25" -> s"$root/d-bm25", "curate" -> s"$root/d-curate",
      "budget" -> s"$root/d-budget", "lm" -> s"$root/d-lm",
      "aggview" -> s"$root/d-aggview"),
      "layout-signature detection must map every family to its dir")
    val bm25Action = first.collectFirst {
      case (_, m) if m.family == "bm25" => m.action }.get
    assert(bm25Action == "compact",
      "the tombstoned bm25 index's indicated action is the compact sweep")
    assert(!graft.operators.TextIndex.hasTombstones(s"$root/d-bm25"),
      "the dispatched compact must have retired the tombstones")
    val budgetAction = first.collectFirst {
      case (_, m) if m.family == "budget" => m.action }.get
    assert(budgetAction == "compact",
      "the over-segmented fills LSM's indicated action is the fold")
    val lmAction = first.collectFirst {
      case (_, m) if m.family == "lm" => m.action }.get
    assert(lmAction == "compact",
      "the over-segmented bi LSM's indicated action is the fold")

    val aggAction = first.collectFirst {
      case (_, m) if m.family == "aggview" => m.action }.get
    assert(aggAction == "compact",
      "the over-segmented state LSM's indicated action is the fold")

    def latest() = first.map { case (dir, _) =>
      dir -> graft.sources.IndexCommit.latestVersion(dir) }.toMap
    val versionsBefore = latest()
    val second = StoredIndex.maintain(spark, root)
    assert(second.size == 7 && second.forall(_._2.action == "noop"),
      s"the re-run must report noop for every family (got $second)")
    assert(latest() == versionsBefore,
      "a no-op maintenance must publish no new version")

    // post-sweep catalog: the folds and tombstone retirement are visible
    // in the metadata alone
    val post = cat()
    assert(post("lm").getLong(6) < pre("lm").getLong(6),
      "the lm fold must shrink the catalog's segment count")
    assert(post("bm25").getLong(7) == 0,
      "the retired tombstones must leave the catalog's debt column")
    // versions counts RETAINED manifests — vacuum prunes past its keep
    // budget, so the column is a history-depth gauge, not monotone
    assert(post.values.forall(_.getInt(2) >= 1))
  }

  test("maintain on an index dir itself dispatches exactly that index") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-maintain-one").toString
    graft.operators.TextIndex.writeBm25Index(docs, s"$root/solo")
    val got = StoredIndex.maintain(spark, s"$root/solo")
    assert(got.map(r => (r._1, r._2.family)) == Seq((s"$root/solo", "bm25")))
    // a dir that is neither an index nor holds one dispatches nothing
    assert(StoredIndex.maintain(spark, s"$root/absent").isEmpty)
  }
}
