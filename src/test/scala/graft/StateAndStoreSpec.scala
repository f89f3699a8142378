package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{Skew, TextIndex}
import graft.sources.{IndexCommit, LogStore}
import graft.streaming.ErrorBurst
import graft.streaming.ErrorBurst.{Alert, Doc}

/** Stateful streaming (flatMapGroupsWithState), partitioned log store,
  * salted join.
  */
class StateAndStoreSpec extends SparkSpec {

  test("error-burst detector: alerts on >=3 consecutive errors, resets on debug") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Doc]
    val q = ErrorBurst.detect(input.toDS(), threshold = 3)
      .writeStream.format("memory").queryName("bursts")
      .outputMode("append").start()
    try {
      input.addData(
        Doc("fn-a", "error", 1), Doc("fn-a", "error", 2),
        Doc("fn-a", "debug", 3), Doc("fn-a", "error", 4),
        Doc("fn-a", "error", 5), Doc("fn-a", "error", 6),
        Doc("fn-a", "error", 7),
        Doc("fn-b", "error", 1), Doc("fn-b", "error", 2))
      q.processAllAvailable()
      val alerts = spark.table("bursts").as[Alert].collect().sortBy(_.untilMs)
      // streak 4..7 fires at 6 (3rd) and 7 (4th); fn-b never reaches 3
      assert(alerts.map(a => (a.function_name, a.consecutiveErrors, a.untilMs)).toSeq ==
        Seq(("fn-a", 3, 6L), ("fn-a", 4, 7L)))
      // state carries across micro-batches: one more error continues the streak
      input.addData(Doc("fn-a", "error", 8), Doc("fn-b", "error", 3))
      q.processAllAvailable()
      val alerts2 = spark.table("bursts").as[Alert].collect().sortBy(_.untilMs)
      assert(alerts2.length == 4)
      assert(alerts2.exists(a => a.function_name == "fn-a" && a.consecutiveErrors == 5))
      assert(alerts2.exists(a => a.function_name == "fn-b" && a.consecutiveErrors == 3))
    } finally q.stop()
  }

  test("transformWithState burst detector matches flatMapGroupsWithState semantics") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // transformWithState only supports the RocksDB state store — set it for
    // this query, restore the suite default after
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Doc]
      val q = graft.streaming.ErrorBurstV2.detect(input.toDS(), threshold = 3)
        .writeStream.format("memory").queryName("bursts_v2")
        .outputMode("append").start()
      try {
        // identical input to the flatMapGroupsWithState test above —
        // identical alerts expected from the new API
        input.addData(
          Doc("fn-a", "error", 1), Doc("fn-a", "error", 2),
          Doc("fn-a", "debug", 3), Doc("fn-a", "error", 4),
          Doc("fn-a", "error", 5), Doc("fn-a", "error", 6),
          Doc("fn-a", "error", 7),
          Doc("fn-b", "error", 1), Doc("fn-b", "error", 2))
        q.processAllAvailable()
        val alerts = spark.table("bursts_v2").as[Alert].collect().sortBy(_.untilMs)
        assert(alerts.map(a => (a.function_name, a.consecutiveErrors, a.untilMs))
          .toSeq == Seq(("fn-a", 3, 6L), ("fn-a", 4, 7L)))
        // state (a named typed ValueState) carries across micro-batches
        input.addData(Doc("fn-a", "error", 8), Doc("fn-b", "error", 3))
        q.processAllAvailable()
        val alerts2 = spark.table("bursts_v2").as[Alert].collect()
        assert(alerts2.length == 4)
        assert(alerts2.exists(a => a.function_name == "fn-a" && a.consecutiveErrors == 5))
        assert(alerts2.exists(a => a.function_name == "fn-b" && a.consecutiveErrors == 3))
      } finally q.stop()
      // TTL'd state variable (switches the processor to ProcessingTime
      // mode): a generous TTL must not evict mid-test — alerts identical.
      // NOTE: under ProcessingTime the engine schedules batches
      // continuously (TTL evaluation), so processAllAvailable never
      // quiesces — poll the sink with a deadline instead (same pattern as
      // ErrorBurst's processing-time timeout caveat).
      val in2 = MemoryStream[Doc]
      val q2 = graft.streaming.ErrorBurstV2.detect(in2.toDS(), threshold = 3,
          stateTtl = Some(java.time.Duration.ofHours(1)))
        .writeStream.format("memory").queryName("bursts_v2_ttl")
        .outputMode("append").start()
      try {
        in2.addData(Doc("fn-t", "error", 1), Doc("fn-t", "error", 2),
          Doc("fn-t", "error", 3))
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (spark.table("bursts_v2_ttl").isEmpty &&
            System.nanoTime() < deadline)
          Thread.sleep(200)
        val ttlAlerts = spark.table("bursts_v2_ttl").as[Alert].collect()
        assert(ttlAlerts.map(a =>
          (a.function_name, a.consecutiveErrors, a.untilMs)).toSeq ==
          Seq(("fn-t", 3, 3L)))
      } finally q2.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("burst-detector state survives a query restart from the checkpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val input = MemoryStream[Doc]
    // the memory sink refuses checkpoint recovery — collect through
    // foreachBatch, which is the recoverable sink shape ShipperStream uses
    val alerts = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(String, Int, Long)]())
    def start() =
      ErrorBurst.detect(input.toDS(), threshold = 3)
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[Alert], _: Long) =>
          batch.collect().foreach(a =>
            alerts.add((a.function_name, a.consecutiveErrors, a.untilMs)))
        }
        .start()
    // run 1: a 2-error streak — below threshold, no alert yet
    val q1 = start()
    try {
      input.addData(Doc("fn-r", "error", 1), Doc("fn-r", "error", 2))
      q1.processAllAvailable()
      assert(alerts.isEmpty)
    } finally q1.stop()
    // run 2: SAME checkpoint — the third error must extend the streak the
    // state store recovered, not start a fresh one
    input.addData(Doc("fn-r", "error", 3))
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(alerts.toArray.toSeq == Seq(("fn-r", 3, 3L)),
        "recovered state must carry the pre-restart streak")
    } finally q2.stop()
  }

  test("incremental dedup: in-stream AND against-history duplicates are dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // historical corpus: texts h1, h2 already accepted
    val history = Seq("h1 text", "h2 text").toDF("text")
    val input = MemoryStream[(String, java.sql.Timestamp)]
    val stream = input.toDF().toDF("text", "event_ts")
    val q = graft.streaming.ShipperStream
      .dedupAgainstHistory(stream, history)
      .writeStream.format("memory").queryName("incdedup")
      .outputMode("append").start()
    try {
      val t0 = new java.sql.Timestamp(1700000000000L)
      input.addData(
        ("h1 text", t0), // dup vs history -> dropped
        ("new A", t0), ("new A", t0), // in-batch dup -> once
        ("new B", t0))
      q.processAllAvailable()
      // a later batch re-sends an already-emitted text within the
      // watermark: the stream-side state drops it too
      input.addData(("new A", new java.sql.Timestamp(1700000001000L)),
        ("h2 text", t0), ("new C", t0))
      q.processAllAvailable()
      val out = spark.table("incdedup").select("text")
        .as[String].collect().sorted.toSeq
      assert(out == Seq("new A", "new B", "new C"),
        s"expected exactly the novel texts once each, got $out")
    } finally q.stop()
  }

  test("streaming sketch partials: store equals direct sketch; replay is harmless") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = java.nio.file.Files
      .createTempDirectory("sketch-store").toString
    val input = MemoryStream[(String, Long, java.sql.Timestamp)]
    val stream = input.toDF().toDF("severity", "event_id", "event_ts")
    val ckpt = java.nio.file.Files.createTempDirectory("sketch-ckpt").toString
    val q = graft.streaming.ShipperStream.sketchPartials(
      stream, store, ckpt, triggerMs = 100L)
    def ts(d: Int) = new java.sql.Timestamp(1700000000000L + d * 86400000L)
    try {
      // batch 1: two severities, day 0; batch 2: overlapping ids, day 1
      input.addData((0L to 49L).map(i =>
        (if (i % 5 == 0) "error" else "debug", i, ts(0))): _*)
      q.processAllAvailable()
      input.addData((25L to 99L).map(i =>
        (if (i % 5 == 0) "error" else "debug", i, ts(1))): _*)
      q.processAllAvailable()
    } finally q.stop()
    val est = graft.streaming.ShipperStream
      .readSketchEstimates(spark, store).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // direct sketch over everything that flowed (ids 0..99 split by sev)
    val allRows = ((0L to 49L) ++ (25L to 99L)).map(i =>
      (if (i % 5 == 0) "error" else "debug", i))
    val direct = allRows.toDF("severity", "event_id")
      .groupBy("severity")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("event_id"), lit(12)))
        .as("n")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == Set("error", "debug"))
    est.foreach { case (sev, (approx, nRows)) =>
      assert(approx == direct(sev),
        s"$sev: stored-union estimate $approx != direct ${direct(sev)}")
      assert(nRows == allRows.count(_._1 == sev))
    }
    // AT-LEAST-ONCE REPLAY: re-append batch 1's partials (a retried
    // micro-batch) — HLL union with itself changes NO estimate; only the
    // exact row counters (documented at-least-once) move
    val replay = (0L to 49L).map(i =>
      (if (i % 5 == 0) "error" else "debug", i, ts(0)))
      .toDF("severity", "event_id", "event_ts")
    graft.streaming.ShipperStream.writeSketchBatch(
      replay, store, "event_id", "event_ts")
    val est2 = graft.streaming.ShipperStream
      .readSketchEstimates(spark, store).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    est2.foreach { case (sev, approx) =>
      assert(approx == direct(sev),
        s"$sev: replayed partials changed the estimate to $approx")
    }
    // manifest versions advanced once per non-empty batch + the replay
    val manifests = new java.io.File(s"$store/_manifests")
      .listFiles().count(_.getName.startsWith("manifest-"))
    assert(manifests >= 3)
  }

  test("streamed DAU/WAU partials equal the batch q_dau_wau (exact below the sketch regime)") {
    import org.apache.spark.sql.functions._
    val store = java.nio.file.Files
      .createTempDirectory("dau-store").toString
    // the REAL events table, sliced into three "micro-batches" by user
    // (overlapping days across batches) and driven through the factored
    // batch face of the sketchPartials sink — severity = event_type, the
    // sketched id = user_id
    val ev = graft.Tables.events(spark, sf001)
      .select(col("event_type").as("severity"), col("user_id"), col("ts"))
    for (b <- 0 to 2)
      graft.streaming.ShipperStream.writeSketchBatch(
        ev.filter(pmod(col("user_id"), lit(3)) === b), store,
        "user_id", "ts")
    // plus an at-least-once replay of slice 0 — must change nothing below
    graft.streaming.ShipperStream.writeSketchBatch(
      ev.filter(pmod(col("user_id"), lit(3)) === 0), store,
      "user_id", "ts")
    val got = graft.streaming.ShipperStream.readActiveUsers(spark, store)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
    // the batch dashboard query, rescanning the event stream
    val want = graft.queries.AnalyticsQueries.qDauWau(spark, sf001)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
    // ~15 users/day is deep inside the HLL sparse (exact) regime, so the
    // stored-partial answers must EQUAL the rescan, day for day — at real
    // cardinalities the same comparison holds within the sketch's ~1.6%
    assert(got.map(_._1).toSeq == want.map(_._1).toSeq,
      "day spines differ")
    got.zip(want).foreach { case ((d, (dau, wau)), (_, (bDau, bWau))) =>
      assert(dau == bDau, s"$d: streamed-partial DAU $dau != batch $bDau")
      assert(wau == bWau, s"$d: streamed-partial WAU $wau != batch $bWau")
    }
  }

  test("error-burst buffer is bounded: overflow keeps earliest rows, resets streak") {
    import spark.implicits._
    // 10 consecutive errors but a buffer cap of 5: alerts fire for the
    // kept earliest prefix (streaks 3, 4, 5), the overflow tail is dropped
    // and the carried streak conservatively resets (no fabricated alerts)
    val docs = (1 to 10).map(i => Doc("fn", "error", i.toLong)).toDS()
    val alerts = ErrorBurst.detect(docs, threshold = 3, maxBatchBuffer = 5)
      .collect().sortBy(_.untilMs)
    assert(alerts.map(_.consecutiveErrors).toSeq == Seq(3, 4, 5))
    assert(alerts.map(_.untilMs).toSeq == Seq(3L, 4L, 5L))
  }

  test("log store: partitioned layout, partition-pruned reads, TTL expiry") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-store").toString
    val docs = Seq(
      ("fn-a", "error", "2024-01-01 10:00:00"),
      ("fn-a", "debug", "2024-01-01 11:00:00"),
      ("fn-b", "error", "2024-01-03 10:00:00"))
      .toDF("function_name", "severity", "ts_s")
      .withColumn("event_ts", to_timestamp(col("ts_s"))).drop("ts_s")
    LogStore.write(docs, dir)
    assert(new java.io.File(s"$dir/severity=error/log_date=2024-01-01").exists())

    val pruned = LogStore.read(spark, dir)
      .filter(col("severity") === "error" && col("log_date") === "2024-01-01")
    assert(pruned.count() == 1)
    // pruning visible in the scan: only the matching partition dir is read
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), scan)

    val dropped = LogStore.expire(spark, dir, keepDays = 1,
      asOf = java.time.LocalDate.parse("2024-01-03"))
    assert(dropped.toSet == Set("severity=error/log_date=2024-01-01",
      "severity=debug/log_date=2024-01-01"))
    assert(LogStore.read(spark, dir).count() == 1)
  }

  test("log store compaction: merges small files per partition, idempotent") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString
    // 24 rows fanned over 8 tasks -> 8 small files per partition (the
    // streaming-sink append pattern)
    val docs = (1 to 24).map(i =>
        (s"fn-$i", if (i % 2 == 0) "error" else "debug",
          s"2024-01-0${i % 2 + 1} 10:00:00"))
      .toDF("function_name", "severity", "ts_s")
      .withColumn("event_ts", to_timestamp(col("ts_s"))).drop("ts_s")
      .repartition(8)
    LogStore.write(docs, dir)
    def files(p: String): Int =
      new java.io.File(s"$dir/$p").listFiles()
        .count(f => f.isFile && f.getName.startsWith("part-"))
    assert(files("severity=error/log_date=2024-01-01") > 1)
    val before = LogStore.read(spark, dir).orderBy("function_name")
      .collect().toSeq

    val done = LogStore.compact(spark, dir)
    assert(done.nonEmpty)
    done.foreach { case (_, nBefore, nAfter) =>
      assert(nBefore > 1 && nAfter == 1)
    }
    assert(files("severity=error/log_date=2024-01-01") == 1)
    // content identical after the rewrite
    val after = LogStore.read(spark, dir).orderBy("function_name")
      .collect().toSeq
    assert(after == before)
    // second run: nothing left to compact
    assert(LogStore.compact(spark, dir).isEmpty)
  }

  test("manifest-pinned reads survive a concurrent compaction swap") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-manifest").toString
    val docs = (1 to 24).map(i =>
        (s"fn-$i", if (i % 2 == 0) "error" else "debug",
          s"2024-01-0${i % 2 + 1} 10:00:00"))
      .toDF("function_name", "severity", "ts_s")
      .withColumn("event_ts", to_timestamp(col("ts_s"))).drop("ts_s")
      .repartition(8)
    LogStore.write(docs, dir)
    val v0 = LogStore.commitManifest(spark, dir)
    assert(v0 == 0)
    val expected = LogStore.readPinned(spark, dir)
      .select("function_name", "severity", "log_date")
      .orderBy("function_name").collect().toSeq
    assert(expected.size == 24)

    // a reader pins the PRE-compaction snapshot...
    val pinned = LogStore.readPinned(spark, dir)
    // ...then compaction swaps every partition, deferring deletes: the
    // pinned snapshot's files must all still exist
    val done = LogStore.compact(spark, dir, deferDelete = true)
    assert(done.nonEmpty)
    // mid-compaction view 1: the pinned reader still sees EXACTLY its
    // snapshot — no duplicates from the renamed-in compacted files, no
    // missing originals
    assert(pinned.select("function_name", "severity", "log_date")
      .orderBy("function_name").collect().toSeq == expected)
    // mid-compaction view 2: a NEW pinned reader resolves the swap
    // manifest — the compacted file set, same logical content, exactly once
    assert(LogStore.readPinned(spark, dir)
      .select("function_name", "severity", "log_date")
      .orderBy("function_name").collect().toSeq == expected)
    // the raw directory really does hold BOTH file sets right now (this is
    // the window a manifest-less reader would see double)
    assert(LogStore.read(spark, dir).count() == 48)

    // vacuum drops what the latest manifest doesn't reference...
    val dropped = LogStore.vacuum(spark, dir)
    assert(dropped.nonEmpty)
    assert(LogStore.read(spark, dir)
      .select("function_name", "severity", "log_date")
      .orderBy("function_name").collect().toSeq == expected)
    // ...and a fresh append NEWER than the manifest is NOT vacuumable
    LogStore.write(docs.limit(1), dir)
    assert(LogStore.vacuum(spark, dir).isEmpty)
  }

  test("minhashRoute: replayed stream flags exactly the batch LSH pair set") {
    import org.apache.spark.sql.DataFrame
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    import sqlCtx.implicits._
    val docs = Tables.t(spark, sf001, "documents")
    // batch ground truth on the same corpus
    val batchPairs = Dedup.minhashLshPairs(docs, k = 3, numHashes = 32,
        bands = 16, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batchPairs.nonEmpty, "corpus must contain seeded near-dups")
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh-index").toString
    Dedup.writeLshIndex(docs, dir)
    // replay the corpus through a MemoryStream in two micro-batches,
    // routing each batch against the stored index under foreachBatch
    // (the operator's documented deployment shape)
    val input = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.Set[(Long, Long, Double)]()
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        got.synchronized {
          got ++= Dedup.minhashRoute(batch, dir).collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        }
        ()
      }.start()
    try {
      val rows = docs.select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      val (h1, h2) = rows.splitAt(rows.length / 2)
      input.addData(h1)
      q.processAllAvailable()
      input.addData(h2)
      q.processAllAvailable()
    } finally q.stop()
    // every unordered pair is flagged from BOTH endpoints' arrivals with
    // the same exact-Jaccard value, so the distinct set equals batch
    assert(got.toSet == batchPairs,
      s"stream: ${got.toSet.toSeq.sorted}\nbatch: ${batchPairs.toSeq.sorted}")
  }

  test("contaminationRoute: replayed stream flags the batch contamination set") {
    import org.apache.spark.sql.DataFrame
    import graft.operators.{Curation, Dedup}
    implicit val sqlCtx = spark.sqlContext
    import sqlCtx.implicits._
    val docs = Tables.t(spark, sf001, "documents")
    val bench = docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("bench_id"),
        array_join(slice(split(col("text"), " "), 1, 40), " ").as("text"))
    // batch ground truth (the text_contaminate_bench shape)
    val batch = Curation.contaminationAgainst(docs, bench, k = 3,
        minOverlap = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3))).toSet
    assert(batch.nonEmpty, "excerpt bench must hit its source pages")
    val dir = java.nio.file.Files.createTempDirectory("graft-cont").toString
    Dedup.writeLshIndex(docs, dir) // provides the stored stop list
    val input = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.Set[(Long, Long, Int, Double)]()
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        got.synchronized {
          got ++= Curation.contaminationRoute(b, dir, bench, k = 3,
              minOverlap = 3).collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
              r.getDouble(3)))
        }
        ()
      }.start()
    try {
      val rows = docs.select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      val (h1, h2) = rows.splitAt(rows.length / 2)
      input.addData(h1)
      q.processAllAvailable()
      input.addData(h2)
      q.processAllAvailable()
    } finally q.stop()
    assert(got.toSet == batch,
      s"stream-only: ${(got.toSet -- batch).take(3)}; " +
        s"batch-only: ${(batch -- got.toSet).take(3)}")
  }

  test("salted join equals plain join") {
    val li = Tables.t(spark, sf001, "lineitem").select("l_orderkey", "l_quantity")
    val ord = Tables.t(spark, sf001, "orders").select("o_orderkey", "o_orderpriority")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    val plain = li.join(ord, "l_orderkey")
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))
    val salted = Skew.saltedJoin(li, ord, "l_orderkey", saltBuckets = 4)
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))
    assert(plain.exceptAll(salted).count() == 0)
    assert(salted.exceptAll(plain).count() == 0)
  }

  test("writeByPart hot-value guard: an over-threshold partition splits " +
      "across files, cold partitions keep one file, content identical") {
    import graft.sources.StoredIndex
    def files(dir: String, key: String): Int = {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(dir, key)
      val s = java.nio.file.Files.list(p)
      try s.iterator().asScala.count(_.toString.endsWith(".parquet"))
      finally s.close()
    }
    // bucket 0 is hot (900 rows), buckets 1..3 are cold (100 each)
    val skewed = spark.range(1200)
      .select(col("id"), when(col("id") < 900, 0L)
        .otherwise(col("id") % 3 + 1).as("b"))
    val plainDir = java.nio.file.Files
      .createTempDirectory("graft-wbp-plain").toString
    StoredIndex.writeByPart(skewed, "b", plainDir)
    assert(files(plainDir, "b=0") == 1,
      "default writeByPart keeps one file per partition value")
    val guardDir = java.nio.file.Files
      .createTempDirectory("graft-wbp-guard").toString
    StoredIndex.writeByPart(skewed, "b", guardDir, splitAbove = 400L)
    assert(files(guardDir, "b=0") > 1,
      "the hot value must spread across multiple writer tasks")
    (1 to 3).foreach { b =>
      assert(files(guardDir, s"b=$b") == 1,
        s"cold partition b=$b must keep the one-file layout")
    }
    // readers see identical content either way
    val a = spark.read.parquet(plainDir).select("id", "b")
    val g = spark.read.parquet(guardDir).select("id", "b")
    assert(a.exceptAll(g).count() == 0 && g.exceptAll(a).count() == 0)
  }

  test("budgetRoute under a real stream: micro-batched decide+learn " +
      "equals the sequential batch calls; the quota crosses mid-stream") {
    import org.apache.spark.sql.DataFrame
    import graft.operators.Curation
    implicit val sqlCtx = spark.sqlContext
    import sqlCtx.implicits._
    val budgets = Map("s0" -> 30L, "s1" -> 100000L)
    val rows = (1 to 40).map(i =>
      (i.toLong, s"s${i % 3}", ("tok " * (i % 5 + 1)).trim))
    val (h1, h2) = rows.splitAt(20)
    // sequential ground truth: the same two batches through a fresh gate
    val seqDir = java.nio.file.Files
      .createTempDirectory("graft-budget-seq").toString
    Curation.writeBudgetGate(spark, seqDir, budgets)
    val expect = scala.collection.mutable.Map[Long, Boolean]()
    for (half <- Seq(h1, h2)) {
      val d = Curation.budgetRoute(
        half.toDF("doc_id", "source", "text"), seqDir)
      expect ++= d.collect().map(r => r.getLong(0) -> r.getBoolean(3))
      Curation.recordBudgetFills(d, seqDir)
    }
    // streamed: same halves as micro-batches, decide+learn under
    // foreachBatch — the operator's documented deployment shape
    val dir = java.nio.file.Files
      .createTempDirectory("graft-budget-stream").toString
    Curation.writeBudgetGate(spark, dir, budgets)
    val input = MemoryStream[(Long, String, String)]
    val got = scala.collection.mutable.Map[Long, Boolean]()
    val q = input.toDF().toDF("doc_id", "source", "text").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        got.synchronized {
          val d = Curation.budgetRoute(batch, dir)
          got ++= d.collect().map(r => r.getLong(0) -> r.getBoolean(3))
          Curation.recordBudgetFills(d, dir)
        }
        ()
      }.start()
    try {
      input.addData(h1); q.processAllAvailable()
      input.addData(h2); q.processAllAvailable()
    } finally q.stop()
    assert(got.toMap == expect.toMap,
      s"stream decisions must equal the sequential gate (stream ${got.toMap}" +
        s" vs batch ${expect.toMap})")
    // the replay is only meaningful if batch 2 depended on batch 1's
    // committed fills: s0's 30-token budget (41 tokens arriving, 19 in
    // the first half) must cross somewhere in the SECOND micro-batch
    val s0 = rows.filter(_._2 == "s0").map(_._1).toSet
    assert(s0.exists(got(_)) && s0.exists(id => !got(id)),
      "the budget must cross mid-stream for the state dependence to be real")
  }

  test("lmRoute under a real stream: decisions equal the batch calls and " +
      "track a mid-stream learn") {
    import org.apache.spark.sql.DataFrame
    import graft.operators.LangModel
    implicit val sqlCtx = spark.sqlContext
    import sqlCtx.implicits._
    val ref = Seq("the cat sat on the mat", "the dog ran to the log")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val arrivals = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "zzz qqq www eee rrr ttt"),
      (3L, "the dog ran to the log"),
      (4L, "zzz qqq www eee rrr ttt"))
    val (h1, h2) = arrivals.splitAt(2)
    val extra = Seq((100L, "zzz qqq www eee rrr ttt zzz qqq www eee"))
    val thr = 10000000L
    def routeMap(rows: Seq[(Long, String)], d: String) =
      LangModel.lmRoute(rows.toDF("doc_id", "text"), d, thr).collect()
        .map(r => r.getLong(0) -> ((BigInt(r.getDecimal(2).toBigInteger),
          r.getBoolean(3)))).toMap
    // sequential ground truth: decide h1, LEARN the extra reference
    // slice, decide h2 against the grown counts
    val seqDir = java.nio.file.Files
      .createTempDirectory("graft-lm-seq").toString
    LangModel.writeLmIndex(ref.toDF("doc_id", "text"), seqDir,
      vocabTop = 50)
    val expect = scala.collection.mutable.Map[Long, (BigInt, Boolean)]()
    expect ++= routeMap(h1, seqDir)
    LangModel.appendLmCounts(extra.toDF("doc_id", "text"), seqDir)
    expect ++= routeMap(h2, seqDir)
    // streamed: the same halves as micro-batches with the same learn
    // landing between them — decisions must serve the committed state
    // as of each batch
    val dir = java.nio.file.Files
      .createTempDirectory("graft-lm-stream").toString
    LangModel.writeLmIndex(ref.toDF("doc_id", "text"), dir, vocabTop = 50)
    val input = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.Map[Long, (BigInt, Boolean)]()
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        got.synchronized {
          got ++= LangModel.lmRoute(batch, dir, thr).collect()
            .map(r => r.getLong(0) ->
              ((BigInt(r.getDecimal(2).toBigInteger), r.getBoolean(3))))
        }
        ()
      }.start()
    try {
      input.addData(h1); q.processAllAvailable()
      LangModel.appendLmCounts(extra.toDF("doc_id", "text"), dir)
      input.addData(h2); q.processAllAvailable()
    } finally q.stop()
    assert(got.toMap == expect.toMap,
      s"stream decisions must equal the sequential gate (stream ${got.toMap}" +
        s" vs batch ${expect.toMap})")
    // the learn must be VISIBLE: docs 2 and 4 carry identical text, so a
    // surprise drop between them is exactly the mid-stream learn landing
    assert(got(4L)._1 < got(2L)._1,
      "the learned phrasing must lower the second half's surprise")
  }

  test("stored-index memo: a wipe and rebuild at the same dir serves the " +
      "rebuilt index's meta, stats and results") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .select("doc_id", "text")
    val terms = Seq("spark", "merge", "vector")
    val dir = java.nio.file.Files.createTempDirectory("graft-rebuild").toString
    val fresh = java.nio.file.Files.createTempDirectory("graft-fresh").toString
    def serve(d: String) =
      (TextIndex.bm25TopK(spark, d, terms).collect().toSeq,
        TextIndex.bm25TopKPruned(spark, d, terms).collect().toSeq)
    TextIndex.writeBm25Index(docs.filter(col("doc_id") % 2 === 0), dir,
      nBuckets = 16, forward = true)
    val v0 = IndexCommit.latestVersion(dir)
    val old = serve(dir) // memoizes meta, stats and relations of the build
    // the rebuild restarts the manifest numbering: same dir, same version,
    // different bucket count, corpus stats and postings
    IndexCommit.deleteTree(java.nio.file.Paths.get(dir))
    val odd = docs.filter(col("doc_id") % 2 === 1)
    TextIndex.writeBm25Index(odd, dir, nBuckets = 8, forward = true)
    TextIndex.writeBm25Index(odd, fresh, nBuckets = 8, forward = true)
    assert(IndexCommit.latestVersion(dir) == v0)
    val rebuilt = serve(dir)
    assert(rebuilt == serve(fresh))
    assert(rebuilt != old)
  }
}
