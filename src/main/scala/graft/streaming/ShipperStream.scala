package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.operators.LogPipeline

/** The reference's Lambda consumption loop (shipper.js:150-161) as a
  * Structured Streaming job: micro-batches ≙ Lambda invocations, the
  * checkpoint ≙ the Kinesis iterator position, `foreachBatch` ≙ one handler
  * call, [[BulkSink]] ≙ the logsene-js buffered bulk shipper.
  *
  * Delivery semantics match the reference (at-least-once: Kinesis retries
  * the batch on failure; here the checkpoint replays the micro-batch), but
  * error containment is strictly better: a poison record yields an error-doc
  * side output (S15's acknowledged TODO — shipper.js:158 — implemented)
  * instead of failing the whole invocation.
  *
  * Scale: the pipeline between source and sink is narrow (no Exchange —
  * asserted in PlanSpec), so throughput scales with source partitions
  * exactly as the reference scales with Kinesis shards.
  */
object ShipperStream {

  /** JSON-lines source schema: one Kinesis-shaped record per line
    * ({"data": base64(gzip(payload)), "region": ...}).
    */
  val recordSchema: StructType = StructType(Seq(
    StructField("data", StringType),
    StructField("region", StringType)))

  /** Start the shipper stream from a file directory (fixture shorthand for
    * the [[SourceAdapter]] overload below).
    */
  def start(spark: SparkSession, inputDir: String, outputDir: String,
            checkpointDir: String, bulkSize: Int = 100,
            triggerMs: Long = 2000L): StreamingQuery =
    start(spark, FileSourceAdapter(inputDir), outputDir, checkpointDir,
      bulkSize, triggerMs, None)

  /** Start the shipper stream through the S1 source seam: adapter ->
    * decode/parse/classify -> bulk sink (file-dir bulks, or HTTP `_bulk`
    * POSTs when `transport` is given — the logsene-js analog).
    */
  def start(spark: SparkSession, source: SourceAdapter, outputDir: String,
            checkpointDir: String, bulkSize: Int, triggerMs: Long,
            transport: Option[BulkTransport]): StreamingQuery = {
    LogPipeline.pipeline(source.records(spark))
      // S13: the reference's recordCounter/logEventCounter (shipper.js:
      // 115-137) as streaming observe() metrics — surfaced per micro-batch
      // on the StreamingQueryProgress instead of a discarded return value.
      .observe("graft_counters",
        count(lit(1)).as("docCounter"),
        count(when(col("severity") === "error", 1)).as("errorCounter"))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMs)) // ≙ LOG_INTERVAL=2000ms
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        BulkSink.ship(batch, outputDir, batchId, bulkSize, transport)
      }
      .start()
  }

  /** Synthetic envelope stream from the rate source: `rowsPerSecond`
    * Kinesis-shaped records, each one gzipped+base64'd CloudWatch payload
    * with a single raw log event — the load-generator source for
    * throughput work (a Kinesis source swaps in with the same schema).
    */
  def rateRecords(spark: SparkSession, rowsPerSecond: Int = 1000): DataFrame = {
    import graft.functions.gcolumns.gzip
    val payload = concat(
      lit("""{"messageType":"DATA_MESSAGE","logGroup":"/aws/lambda/rate-fn-"""),
      pmod(col("value"), lit(8)),
      lit("""","logStream":"2024/01/01/[$LATEST]r","logEvents":[{"id":""""),
      col("value"),
      lit("""","timestamp":"""), col("value"),
      lit(""","message":"rate event """), col("value"), lit("\"}]}"))
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toString).load()
      .select(base64(gzip(encode(payload, "UTF-8"))).as("data"),
        lit("us-east-1").as("region"))
  }

  /** Beyond-reference streaming analytics (SURVEY.md §2.2 streaming row):
    * watermarked tumbling-window error rates per function. `eventTime` must
    * be a timestamp column on the docs frame.
    */
  def errorRates(docs: DataFrame, eventTime: String = "event_ts",
                 window_ : String = "5 minutes",
                 watermark: String = "10 minutes"): DataFrame =
    docs.withWatermark(eventTime, watermark)
      .groupBy(window(col(eventTime), window_), col("function_name"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("severity") === "error", 1)).as("n_errors"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("function_name"), col("n_docs"), col("n_errors"))

  /** Streaming exact dedup: drop redundant deliveries of the same log-event
    * id inside the watermark horizon (Kinesis is at-least-once — the
    * reference simply re-ships duplicates on retry; shipper.js:150-161).
    * `dropDuplicatesWithinWatermark` keys state by id and evicts it once
    * the watermark passes, so state is bounded by (event rate x watermark)
    * rather than growing forever — the streaming face of the batch
    * [[graft.operators.Dedup.exactDedup]].
    */
  def dedupedDocs(docs: DataFrame, idCol: String = "event_id",
                  eventTime: String = "event_ts",
                  watermark: String = "10 minutes"): DataFrame =
    docs.withWatermark(eventTime, watermark)
      .dropDuplicatesWithinWatermark(idCol)

  /** Incremental dedup against a HISTORICAL corpus — the streaming shape of
    * a continuously-ingested training corpus: new documents dedupe first
    * WITHIN the stream (bounded watermark state, exactly [[dedupedDocs]]'
    * machinery, keyed by content hash), then against the static index of
    * everything already accepted (stream-static LEFT ANTI join on the
    * 16-byte content hash — Spark plans the static side per micro-batch,
    * so a grown index is picked up on restart without surgery).
    *
    * Scale: the historical side is a bare (content_hash) projection — at
    * 100 TB that column pruning is what keeps the anti join feasible, and a
    * bucketed/sorted hash index elides its exchange entirely; the
    * stream-side state holds only in-watermark hashes. At-least-once like
    * every `dropDuplicatesWithinWatermark` pipeline: a crash between batch
    * emit and index append can re-admit a late duplicate — downstream
    * exact dedup (idempotent by construction) absorbs it.
    */
  def dedupAgainstHistory(newDocs: DataFrame, history: DataFrame,
                          textCol: String = "text",
                          eventTime: String = "event_ts",
                          watermark: String = "10 minutes"): DataFrame = {
    val hashed = newDocs.withColumn("content_hash", md5(col(textCol)))
      .withWatermark(eventTime, watermark)
      .dropDuplicatesWithinWatermark("content_hash")
    hashed.join(
      history.select(md5(col(textCol)).as("content_hash")),
      Seq("content_hash"), "left_anti")
  }

  /** Continuous sketch-partial sink — the streaming face of the stored
    * HLL dashboard tier ([[graft.queries.GroupingQueries.qHllStored]]):
    * every micro-batch aggregates into per-(severity, day) HLL partials
    * (constant-size mergeable state, one narrow pass over the batch) and
    * APPENDS them to a manifest-tracked [[graft.sources.LogStore]],
    * committing a new manifest version per batch. Readers union the
    * pinned partials ([[readSketchEstimates]]) — a dashboard refresh
    * reads KB-sized sketches behind a consistent snapshot, never the
    * event stream, and never observes a half-published batch.
    *
    * Delivery: at-least-once batch replay is HARMLESS here — HLL is a
    * set sketch, so re-appending a replayed batch's partials is a union
    * with itself and every estimate is provably unchanged
    * (StateAndStoreSpec asserts this). That makes the sink idempotent in
    * effect without any dedup bookkeeping.
    *
    * Scale: partial rows are KBs per (severity, day); the per-batch
    * manifest commit is one tiny file rename. Day partitions accumulate
    * one small file per batch — exactly the shape [[graft.sources
    * .LogStore.compact]] exists for; run it off the hot path.
    */
  def sketchPartials(docs: DataFrame, storeDir: String,
                     checkpointDir: String, distinctCol: String = "event_id",
                     eventTime: String = "event_ts",
                     triggerMs: Long = 2000L): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        writeSketchBatch(batch, storeDir, distinctCol, eventTime)
      }
      .start()

  /** One micro-batch of the [[sketchPartials]] sink (factored out so tests
    * can drive replay semantics directly).
    */
  def writeSketchBatch(batch: DataFrame, storeDir: String,
                       distinctCol: String, eventTime: String): Unit = {
    import graft.sources.LogStore
    // empty-tick guard probes the RAW batch (limit-1, cheap) — probing the
    // aggregated frame would run the aggregation twice per batch, the
    // two-pass tax [[BulkSink.ship]] just shed
    if (!batch.isEmpty) {
      val parts = batch
        .groupBy(col("severity"),
          date_trunc("day", col(eventTime)).as("event_ts"))
        .agg(hll_sketch_agg(col(distinctCol), lit(12)).as("sk"),
          count(lit(1)).as("n_rows"))
      LogStore.write(parts, storeDir, tsCol = "event_ts")
      LogStore.commitManifest(batch.sparkSession, storeDir)
    }
  }

  /** Dashboard read over the stored partials: manifest-pinned scan,
    * per-severity union across every stored partial (days × batches) plus
    * row totals. The whole read touches KBs.
    *
    * Replay semantics differ per column: the HLL `approx_distinct` is
    * replay-INVARIANT (re-appending a replayed batch's partials unions a
    * set with itself), but `n_rows` is an AT-LEAST-ONCE counter — a
    * replayed batch appends its counts again (StateAndStoreSpec shows the
    * counters moving under replay while the estimates hold). Treat
    * `n_rows` as a volume telemetry floor, not an exact count.
    */
  def readSketchEstimates(spark: SparkSession, storeDir: String): DataFrame = {
    import graft.sources.LogStore
    LogStore.readPinned(spark, storeDir)
      .groupBy(col("severity"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(true)))
          .as("approx_distinct"),
        sum(col("n_rows")).as("n_rows"))
  }

  /** DAU / trailing-7-day WAU served straight from the stored partials —
    * the streaming tier answering the dashboard question that
    * [[graft.queries.AnalyticsQueries.qDauWau]] answers by rescanning
    * events. Sketch mergeability does ALL the work, twice over: the first
    * union collapses (severities x batches) into one sketch per day, the
    * second unions each day's trailing 7-day window into WAU — so the
    * same stored partials serve per-severity distincts, per-day DAU, and
    * any re-windowing over days, none of which re-touch the event stream.
    *
    * Scale: input is KB-sized sketch rows (days x severities x batches);
    * the spine join fans each day-sketch out <=7x, the same
    * pre-distinct-then-spine shape `q_dau_wau` uses — except here the
    * "distinct" is a constant-size sketch, so a year of 100 TB-a-day
    * events re-windows in milliseconds. Replay-invariant end to end
    * (HLL union is idempotent; no row counters involved).
    */
  def readActiveUsers(spark: SparkSession, storeDir: String): DataFrame = {
    import graft.sources.LogStore
    val daySk = LogStore.readPinned(spark, storeDir)
      .groupBy(to_date(col("event_ts")).as("day"))
      .agg(hll_union_agg(col("sk"), lit(true)).as("sk"))
    val spine = daySk.select(col("day").as("d")).distinct()
    daySk.join(broadcast(spine),
        datediff(col("d"), col("day")).between(0, 6))
      .groupBy(col("d"))
      .agg(
        hll_sketch_estimate(
          hll_union_agg(when(col("day") === col("d"), col("sk")), lit(true)))
          .as("dau"),
        hll_sketch_estimate(hll_union_agg(col("sk"), lit(true))).as("wau"))
      .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("dau"), col("wau"))
      .orderBy("day")
  }

  /** Session windows (30 min gap) per function — the stateful op the
    * reference lacks entirely; state is bounded by the watermark.
    */
  def sessions(docs: DataFrame, eventTime: String = "event_ts",
               gap: String = "30 minutes",
               watermark: String = "1 hour"): DataFrame =
    docs.withWatermark(eventTime, watermark)
      .groupBy(session_window(col(eventTime), gap), col("function_name"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("function_name"), col("n_docs"))
}

/** S14 receiver seam: where a bulk body goes. [[HttpBulkTransport]] is the
  * reference's HTTPS `_bulk` shipper (logsene-js, shipper.js:2-3,143-148)
  * with the retry/backoff the reference left as a TODO; tests inject a
  * local JDK HttpServer receiver through it.
  */
trait BulkTransport extends Serializable {
  /** Deliver one `_bulk` body; throw to signal (post-retry) failure. */
  def send(body: String): Unit
}

/** HTTP POST transport with bounded exponential backoff: a 5xx response or
  * connect/IO failure retries up to `maxRetries` times (delays
  * backoffMs * 2^attempt), then throws — the containment path in
  * [[BulkSink.ship]] turns that into an error-doc + batch retry, i.e.
  * at-least-once delivery, same as the reference's Kinesis retry loop.
  * 4xx responses fail fast: the body will never become acceptable.
  */
final case class HttpBulkTransport(url: String, maxRetries: Int = 5,
                                   backoffMs: Long = 100L)
    extends BulkTransport {
  override def send(body: String): Unit = {
    var attempt = 0
    while (true) {
      try {
        val conn = new java.net.URI(url).toURL.openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        try {
          conn.setRequestMethod("POST")
          conn.setRequestProperty("Content-Type", "application/x-ndjson")
          conn.setConnectTimeout(5000)
          conn.setReadTimeout(10000)
          conn.setDoOutput(true)
          conn.getOutputStream.write(body.getBytes("UTF-8"))
          val code = conn.getResponseCode
          if (code < 300) return
          if (code < 500) // fail fast: the body will never become acceptable
            throw new RuntimeException(s"bulk receiver rejected: $code")
          throw new java.io.IOException(s"bulk receiver unavailable: $code")
        } finally conn.disconnect()
      } catch {
        case _: java.io.IOException if attempt < maxRetries =>
          Thread.sleep(backoffMs << attempt)
          attempt += 1
      }
    }
  }
}

/** S14: the buffered bulk sink (logsene-js analog, shipper.js:143-148 +
  * serverless.yml:36-37). Documents are grouped into `_bulk` NDJSON bodies
  * of `bulkSize` docs; each body is POSTed through the [[BulkTransport]]
  * when one is configured, and always journaled as JSON-lines bulk files
  * under one output tree per micro-batch (the shippable audit trail — and
  * the whole receiver when no transport is set).
  */
object BulkSink {

  /** Ship one micro-batch in a SINGLE pass — now genuinely single: the
    * empty-batch short-circuit (shipper.js:144) is a POST-write cleanup of
    * a bulk-less batch dir, not a pre-probe. The r8 limit-1 `isEmpty`
    * pre-probe was a second execution of the decode plane per batch and
    * measured ~0.4 s of the per-batch constant at 1 s triggers
    * (STREAMBENCH_r10.json: full-sink 91 µs/row vs one-pass 75 µs/row at 10k
    * rows) — a quiet tick now costs one empty write job plus a driver-side
    * directory check, and a busy tick pays NOTHING extra. The cleanup
    * keeps the r8 guard's invariant: no empty `batch=<id>` dirs accumulate
    * on a quiet stream. Per-batch directory overwrite
    * makes replays idempotent (a
    * retried micro-batch rewrites the same batch dir — effective
    * exactly-once at the file sink; HTTP delivery is at-least-once across
    * retries, same as the reference).
    *
    * The per-batch constants around this call, p50 of a traced perfbench
    * `ship` run (seed 7, 4-core host, 375 docs per batch, 1.5 s triggers):
    * trigger 338 ms, of which query planning 28 ms, the file source's
    * `latest_offset` listing 10 ms, and the checkpoint's offsets WAL write
    * and commit 1 ms each. The last two were 24 ms each while Hadoop's
    * stock `file:` filesystem started a `chmod` per written file and two
    * `readlink`s per rename (see [[graft.fs.NioLocalFileSystem]]).
    *
    * One pass matters at small triggers: the previous persist +
    * `isEmpty`-probe + cached-write shape executed the decode plane into
    * the block cache and read it back, pushing a 10 k-row batch past a 1 s
    * trigger budget (STREAMBENCH_r07.json attribution: two-pass ~1.9 s vs
    * single-pass ~0.83 s on identical input) — the death-spiral threshold.
    * Single execution also keeps the `observe()` counters exact with no
    * cache to protect them.
    *
    * S15: a failure while shipping is contained — an error doc is flushed
    * to the side channel and rethrown so the streaming engine retries the
    * batch (shipper.js:154-158; its DLQ TODO is the errors/ dir here).
    */
  def ship(batch: DataFrame, outputDir: String, batchId: Long,
           bulkSize: Int, transport: Option[BulkTransport] = None): Unit = {
    val wire = batch.select(
      LogPipeline.wireJson(batch).as("doc"),
      // the `_bulk` action line is built by to_json as well — severity is a
      // closed enum today, but a hand-interpolated value would be one schema
      // change away from malformed NDJSON (quotes/newlines in the field)
      to_json(struct(struct(col("severity")).as("index"))).as("action"))
    try {
      val spark = batch.sparkSession
      import spark.implicits._
      wire.as[(String, String)]
        .mapPartitions { rows =>
          rows.grouped(bulkSize).map { chunk =>
            val body = bulkBody(chunk)
            transport.foreach(_.send(body))
            body
          }
        }
        .write.mode("overwrite").text(s"$outputDir/batch=$batchId")
      // empty-tick cleanup (see doc): a batch that produced no bulk lines
      // leaves a dir holding only commit markers — drop it so quiet
      // streams don't accrete empty batch dirs. Resolved through the
      // session's Hadoop FileSystem so the invariant holds for any
      // outputDir URI, not just local paths (java.io.File.listFiles
      // returns null on e.g. hdfs:// and would silently keep every dir).
      val hPath = new org.apache.hadoop.fs.Path(s"$outputDir/batch=$batchId")
      val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val hasBulks = fs.exists(hPath) && fs.listStatus(hPath)
        .exists(f => f.getPath.getName.startsWith("part-") && f.getLen > 0)
      if (!hasBulks) fs.delete(hPath, true)
    } catch {
      case e: Throwable =>
        val spark = batch.sparkSession
        import spark.implicits._
        // error doc built by to_json (round 1 hand-assembled the JSON and
        // mis-escaped control characters in exception messages)
        Seq((batchId, s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"))
          .toDF("batch", "error")
          .select(to_json(struct(lit("error").as("severity"),
            lit("Shipper executed with error!").as("message"),
            col("batch"), col("error"))).as("doc"))
          .write.mode("append").text(s"$outputDir/errors")
        throw e
    }
  }

  /** One bulk POST body: NDJSON of (action, doc) line pairs — the
    * Elasticsearch `_bulk` shape the reference's logsene-js buffer emits.
    * Both lines arrive pre-serialized by to_json (see [[ship]]), so every
    * field value is JSON-escaped by construction.
    */
  private def bulkBody(chunk: Seq[(String, String)]): String =
    chunk.map { case (doc, action) => s"$action\n$doc" }.mkString("\n")
}
