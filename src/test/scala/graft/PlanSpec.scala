package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.execution.{FilterExec, InputAdapter, ProjectExec, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.{LogCorpus, LogPipeline}
import graft.streaming.BulkSink
import graft.queries.{JoinQueries, RelationalQueries}

/** Plan-shape assertions (SURVEY.md §5.5): the properties that make these
  * operators scale are checked, not assumed.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("shipper pipeline is narrow: no Exchange anywhere") {
    import spark.implicits._
    // go through a real file source (a literal local relation would be
    // constant-folded at plan time, hiding the actual scan-shaped plan)
    val dir = java.nio.file.Files.createTempDirectory("graft-plan").toString
    Seq(("AAAA", "r")).toDF("data", "region").write.mode("overwrite").parquet(dir)
    val records = spark.read.parquet(dir)
    val p = plan(LogPipeline.pipeline(records))
    assert(!p.contains("Exchange"), s"pipeline must not shuffle:\n$p")
  }

  test("corpus parse stage fuses into whole-stage codegen, no Exchange") {
    val parsed = LogCorpus.parsed(Tables.t(spark, sf001, "events"))
    parsed.count() // materialize so AQE finalizes the physical plan
    val p = plan(parsed)
    assert(!p.contains("Exchange"))
    // "*(n) " prefixes mark operators fused into a WholeStageCodegen span
    assert(p.contains("*("), s"expected codegen span in:\n$p")
  }

  test("dpp: fact scan carries a dynamic partition-pruning filter") {
    val df = JoinQueries.qDpp(spark, sf001)
    val p = plan(df).toLowerCase
    assert(p.contains("dynamicpruning"),
      s"expected a dynamic pruning expression on the fact scan in:\n$p")
    // and the prune actually bites: only the two expedite partitions survive
    val rows = df.collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("1-URGENT", "2-HIGH"))
  }

  test("filter and projection are pushed into the parquet scan") {
    val df = JoinQueries.qScanPushdown(spark, sf001)
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_returnflag)"),
      s"expected pushed filters in:\n$scan")
    // pruned schema: only the needed columns are read
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int"))
  }

  test("q3 join plan broadcasts the filtered customer side") {
    val p = plan(RelationalQueries.q3TopRevenue(spark, sf001))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
  }

  test("top-k compiles to TakeOrderedAndProject (no global sort)") {
    val p = plan(RelationalQueries.qTopkOrders(spark, sf001))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("as-of join is the union-merge plan: window pass, zero joins") {
    val p = plan(JoinQueries.qAsofJoin(spark, sf001))
    assert(p.contains("Window"), s"expected a window pass:\n$p")
    assert(!p.contains("Join"),
      s"as-of must not generate event x order join fan-out:\n$p")
  }

  test("bucketed tables co-locate the join: no Exchange anywhere") {
    // the 100 TB fact-fact join strategy: both sides bucketed on the join
    // key at write time, so the join is a zero-shuffle sort-merge
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Tables.t(spark, sf001, "orders").select("o_orderkey", "o_totalprice")
        .write.mode("overwrite").bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey").saveAsTable("b_orders")
      Tables.t(spark, sf001, "lineitem").select("l_orderkey", "l_quantity")
        .write.mode("overwrite").bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey").saveAsTable("b_lineitem")
      val j = spark.table("b_lineitem").join(spark.table("b_orders"),
        col("l_orderkey") === col("o_orderkey"))
      assert(j.count() > 0)
      val p = plan(j)
      assert(!p.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("q_bucketed_join consumes the bucket layout: no exchange, no re-sort") {
    // the query itself (rollup + orderBy legitimately shuffle AFTER the
    // join); assert on the join subtree over the tables it registers
    assert(JoinQueries.qBucketedJoin(spark, sf001).count() > 0)
    val j = spark.table("graft_lineitem_bkt").hint("merge")
      .join(spark.table("graft_orders_bkt"),
        col("l_orderkey") === col("o_orderkey"))
    assert(j.count() > 0)
    val p = plan(j)
    assert(p.contains("SortMergeJoin"), s"expected SMJ over buckets:\n$p")
    assert(!p.contains("Exchange"),
      s"bucketed join must not shuffle either side:\n$p")
    // Spark 3+ ignores the written sort order by DEFAULT (a multi-file
    // bucket would be silently mis-sorted) and inserts a cheap in-partition
    // Sort; with one file per bucket (the repartition-before-write in
    // qBucketedJoin guarantees it) the legacy conf restores sort elision
    assert(p.contains("Sort ["), "default path re-sorts in-partition")
    val conf = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    spark.conf.set(conf, "true")
    try {
      val j2 = spark.table("graft_lineitem_bkt").hint("merge")
        .join(spark.table("graft_orders_bkt"),
          col("l_orderkey") === col("o_orderkey"))
      assert(j2.count() > 0)
      val p2 = plan(j2)
      assert(!p2.contains("Exchange") && !p2.contains("Sort ["),
        s"one-file-per-bucket + outputOrdering conf must elide the sort:\n$p2")
    } finally spark.conf.set(conf, "false")
  }

  test("contamination candidates come from the shingle index: no nested loops") {
    val p = plan(graft.operators.Curation.contamination(
      Tables.t(spark, sf001, "documents"), col("id") % 50 === 0))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"contamination must join on the shingle, never doc x doc:\n$p")
  }

  test("fixed-benchmark contamination broadcasts the bench side") {
    val docs = Tables.t(spark, sf001, "documents")
    val bench = docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("bench_id"),
        array_join(slice(split(col("text"), " "), 1, 40), " ").as("text"))
    val p = plan(graft.operators.Curation.contaminationAgainst(docs, bench))
    assert(p.contains("BroadcastHashJoin"),
      s"bench side must broadcast, never drive a shuffle:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"candidates must come from the shingle join:\n$p")
  }

  test("sequence packing is shard-local: the window partitions by shard") {
    val df = graft.operators.Curation.packSequences(
      Tables.t(spark, sf001, "documents"))
    val p = plan(df)
    assert(p.contains("Window"), s"expected a window pass:\n$p")
    // one clustering exchange on the shard key feeds both the running
    // offset and (map-side combined) the final per-(shard,seq) aggregate
    assert("hashpartitioning\\(shard".r.findAllIn(p).size >= 1, p)
    assert(!p.contains("Join"), s"packing must not join:\n$p")
  }

  test("stratified sample runs the bounded top-k operator, not a full window sort") {
    val df = graft.queries.CurationQueries.sampStratified(spark, sf001)
    df.count()
    val p = plan(df)
    assert(p.contains("TopKPerGroup"),
      s"per-stratum quota must go through the bounded heap:\n$p")
  }

  test("cluster-stratified sample bounds the quota heap and joins nothing") {
    // samp_cluster = assignment scan + per-cluster quota. Scale hazards
    // pinned: the quota must run through the bounded TopKPerGroup heap
    // (a full window sort materializes whole clusters — the corpus itself
    // at k=8), and the E-step assignment must stay join-free (centroids
    // ride the plan as a codegen reference object, never a joined table).
    val df = graft.queries.ClusteringQueries.clusterSample(spark, sf001)
    df.count()
    val p = plan(df)
    assert(p.contains("TopKPerGroup"),
      s"per-cluster quota must go through the bounded heap:\n$p")
    assert(!p.contains("Join"), s"assignment + quota must not join:\n$p")
  }

  test("bloom runtime filter screens the fact side and preserves semantics") {
    import org.apache.spark.sql.functions._
    val cust = Tables.t(spark, sf001, "customer")
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val orders = Tables.t(spark, sf001, "orders")
    val pre = graft.operators.RuntimeFilter.bloomFiltered(
      orders, col("o_custkey"), cust, col("c_custkey"), 4096L)
    // the probe is the codegen'd native expression, applied pre-join
    assert(plan(pre).contains("might_contain"), plan(pre))
    // the screen genuinely reduces the fact side (BUILDING is ~1/5 of
    // customers) but keeps every true match
    val total = orders.count()
    val kept = pre.count()
    assert(kept < total, s"bloom screened nothing: $kept of $total")
    val exact = orders.join(cust, col("o_custkey") === col("c_custkey"))
    val screened = pre.join(cust, col("o_custkey") === col("c_custkey"))
    assert(screened.count() == exact.count(),
      "join-after-bloom must equal the plain join (no lost matches)")
  }

  test("correlated EXISTS/NOT EXISTS decorrelate to semi + anti joins") {
    val p = plan(RelationalQueries.qExistsSubquery(spark, sf001))
    assert(p.contains("LeftSemi"), s"EXISTS must become a semi join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS must become an anti join:\n$p")
    // decorrelation must not leave a nested-loop per-row subquery behind
    assert(!p.contains("InSubquery"), s"unexpected residual subquery:\n$p")
  }

  test("shingling and dot products run as codegen'd expressions") {
    import spark.implicits._
    // real scan: a literal relation would be constant-folded at plan time
    val p1 = graft.operators.Dedup.shingles(Tables.t(spark, sf001, "documents"))
      .queryExecution.executedPlan.toString
    assert(p1.contains("word_shingles"), s"expected custom expression:\n$p1")
    val dp = Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b")
      .select(graft.functions.gcolumns.dotp(col("a"), col("b")))
    assert(dp.head().getDouble(0) == 11.0)
  }

  test("AQE splits a skewed sort-merge join partition at runtime") {
    val spark2 = spark
    import spark2.implicits._
    // the engine's OTHER skew answer besides Skew.saltedJoin: let AQE's
    // runtime re-plan split the hot partition. Thresholds lowered so the
    // test corpus qualifies as skewed; restored after.
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // one white-hot key (~50k rows) among 100 cold ones
      val left = spark.range(0, 50000).select(
        when(col("id") % 100 === 0, col("id") % 100).otherwise(0L).as("k"),
        col("id").as("payload"))
      val right = (0L until 100L).toDF("k")
        .withColumn("dim", col("k") * 10)
      val joined = left.join(right, "k")
      // execute THIS DataFrame's query execution (count() would plan a
      // separate one and leave this AdaptiveSparkPlan unexecuted)
      assert(joined.collect().length == 50000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      // this Spark's renderer marks the split as `skew=true` on the SMJ node
      // and `AQEShuffleRead skewed` on the shuffle read — not `skewed=`
      assert(finalPlan.contains("skew=true") ||
             finalPlan.contains("AQEShuffleRead skewed"),
        s"expected AQE skew-split markers in the final plan:\n$finalPlan")
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("sessionization shares ONE hash exchange across windows + aggregate") {
    // lag, the running session counter, and the (user, sess) aggregate all
    // cluster by user_id — HashPartitioning(user_id) satisfies every
    // downstream distribution, so the only other exchange is the
    // presentation orderBy's range partitioning
    val plan = graft.queries.RelationalQueries
      .qSessionize(spark, sf001).queryExecution.executedPlan.toString
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx == 1, s"expected a single hash exchange:\n$plan")
  }

  test("waiting-supplier: one shared fact exchange, dims broadcast") {
    // the Q21 shape since r18: the EXISTS/NOT-EXISTS pair is folded into
    // per-(orderkey, suppkey) then per-orderkey aggregations sharing ONE
    // explicit l_orderkey exchange (OPTIMIZATION_r18.md #1 — fact rows
    // never meet each other; 4 -> 2 real exchanges, -78% shuffle). Pin
    // the scale invariants of THAT shape: no nested-loop/cartesian node
    // anywhere (the residual-inequality hazard of the old decorrelated
    // form is gone with the joins, but a refactor reintroducing a
    // non-equi probe would bring it back), exactly one exchange keyed on
    // l_orderkey feeding both aggregation levels, and both dimension
    // tables (orders date lookup, supplier names) riding broadcasts —
    // never a fact-side shuffle.
    val df = graft.queries.JoinQueries.qWaitingSupplier(spark, sf001)
    df.count() // materialize so AQE finalizes the physical plan
    val p = plan(df)
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"the verdict fold must stay equi-shaped:\n$p")
    val factEx = p.linesIterator
      .filter(l => l.contains("Exchange") && l.contains("l_orderkey")).toSeq
    assert(factEx.size == 1,
      s"expected ONE shared l_orderkey exchange, got ${factEx.size}:\n$p")
    assert(p.linesIterator.exists(l => l.contains("BroadcastHashJoin") &&
        l.contains("o_orderkey")),
      s"expected the orders date-lookup broadcast:\n$p")
    assert(p.linesIterator.exists(l => l.contains("BroadcastHashJoin") &&
        l.contains("s_suppkey")),
      s"expected the supplier dim broadcast:\n$p")
  }

  /** Projects and Filters of a physical plan outside every whole-stage
    * codegen span (a span runs from a `WholeStageCodegenExec` down to its
    * `InputAdapter`s). */
  private def interpretedOps(p: SparkPlan, inSpan: Boolean = false): Seq[SparkPlan] =
    p match {
      case w: WholeStageCodegenExec => interpretedOps(w.child, inSpan = true)
      case i: InputAdapter => interpretedOps(i.child, inSpan = false)
      case _ =>
        (if (!inSpan && (p.isInstanceOf[ProjectExec] || p.isInstanceOf[FilterExec]))
           Seq(p) else Nil) ++ p.children.flatMap(interpretedOps(_, inSpan))
    }

  /** Operators evaluating a `from_json`, with the number each evaluates. */
  private def decodes(p: SparkPlan): Seq[(SparkPlan, Int)] =
    p.collect { case n => n -> n.expressions.map(_.collect {
        case j: JsonToStructs => j }.size).sum }
      .filter(_._2 > 0)

  test("shipper data plane: one decode, one classifier, codegen'd but for the decode") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-plan-ship")
    val events = Seq("""{"message":"hi error","k":"v"}""", "plain",
      "START RequestId: 1", "Task timed out")
      .zipWithIndex.map { case (m, i) =>
        val quoted = "\"" + m.replace("\"", "\\\"") + "\""
        s"""{"id":"$i","timestamp":1,"message":$quoted}""" }
    def record(messageType: String): String = {
      val payload = s"""{"messageType":"$messageType","logGroup":"/aws/lambda/f",""" +
        s""""logStream":"s/[1]x","logEvents":${events.mkString("[", ",", "]")}}"""
      java.util.Base64.getEncoder.encodeToString(
        graft.functions.GzipCodec.gzip(payload.getBytes("UTF-8")))
    }
    Seq((record("DATA_MESSAGE"), "r"), (record("CONTROL_MESSAGE"), "r"))
      .toDF("data", "region").write.json(base.resolve("in").toString)
    // the stream's own source shape: JSON-lines records
    val records = spark.read.schema(graft.streaming.ShipperStream.recordSchema)
      .json(base.resolve("in").toString)
    val docs = LogPipeline.pipeline(records)
    assert(docs.collect().length == 3)
    val optimized = docs.queryExecution.optimizedPlan.toString
    val executed = docs.queryExecution.executedPlan
    def check(p: SparkPlan): Unit = {
      val text = p.toString
      assert(!text.contains("lower(") && !text.contains("lambdafunction"), text)
      val ds = decodes(p)
      assert(ds.map(_._2) == Seq(1), s"from_json must run in one operator, once:\n$text")
      assert(interpretedOps(p) == Seq(ds.head._1),
        s"only the decode projection may run outside codegen:\n$text")
    }
    assert(!optimized.contains("lower(") && !optimized.contains("lambdafunction"))
    check(executed)

    // BulkSink.ship's wire select: the plan of the bulk-file write
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      BulkSink.ship(docs, base.resolve("out").toString, 0L, bulkSize = 10)
      org.apache.spark.graftspec.ListenerBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val write = plans.asScala.filter(_.toString.contains("StructsToJson"))
    assert(write.size == 1, plans.asScala.mkString("\n"))
    check(write.head)
  }
}
