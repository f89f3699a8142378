package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.functions.gcolumns.gzip
import graft.operators.{LogCorpus, LogPipeline}

/** Oracle-checked queries exercising the reference data plane (SURVEY.md §2.1
  * S2-S12) over the deterministic [[graft.operators.LogCorpus]].
  *
  * The DuckDB oracle derives the expected parser *output* directly from the
  * corpus construction algebra (an independent re-derivation, not a re-run of
  * the parser), so a hash match proves the whole decode/parse/classify path.
  */
object PipelineQueries {

  /** Shared oracle CTE: the corpus construction + expected-doc derivation in
    * DuckDB SQL. Mirrors [[LogCorpus.withMessages]] plus the reference parse
    * semantics of shipper.js:62-112.
    */
  private val base: String =
    """WITH base AS (
      |  SELECT event_id, user_id, event_type,
      |         CAST(props->>'k' AS INTEGER) AS k,
      |         'r-' || CAST(event_id AS VARCHAR) AS rid,
      |         strftime(ts, '%Y-%m-%dT%H:%M:%S') || '.000Z' AS iso,
      |         lpad(CAST(event_id AS VARCHAR),8,'0') || '-0000-0000-0000-' ||
      |           lpad(CAST(event_id AS VARCHAR),12,'0') AS uid,
      |         'fn-' || CAST(user_id % 8 AS VARCHAR) AS fn
      |  FROM events),
      |docs AS (
      |  SELECT event_id, user_id, fn AS function_name,
      |    '$LATEST' AS function_version,
      |    CASE WHEN event_type='click' THEN iso
      |         WHEN event_type='purchase' AND k>=50 THEN iso
      |         WHEN event_type='view' AND k>=70 AND k<80 THEN iso END AS log_timestamp,
      |    CASE WHEN event_type='click' THEN rid
      |         WHEN event_type='purchase' AND k>=50 THEN uid
      |         WHEN event_type='view' AND k>=70 AND k<80 THEN uid END AS request_id,
      |    CASE WHEN event_type='error' AND k<20 THEN 'unable to import module handler_' || CAST(k AS VARCHAR)
      |         WHEN event_type='error' AND k<40 THEN 'module initialization error: code ' || CAST(k AS VARCHAR)
      |         WHEN event_type='error' AND k<60 THEN 'Task timed out after ' || CAST(k AS VARCHAR) || ' seconds'
      |         WHEN event_type='error' THEN 'Process exited before completing request ' || CAST(k AS VARCHAR)
      |         WHEN event_type='click' AND k>=80 THEN 'error: payment failed ' || CAST(k AS VARCHAR)
      |         WHEN event_type='click' THEN 'clicked button ' || CAST(k AS VARCHAR)
      |         WHEN event_type='purchase' AND k<50 THEN '{"level":"info","k":"' || CAST(k AS VARCHAR) || '"}'
      |         WHEN event_type='purchase' THEN 'purchased item ' || CAST(k AS VARCHAR)
      |         WHEN event_type='view' AND k>=90 THEN 'viewed nested ' || CAST(k AS VARCHAR)
      |         WHEN event_type='view' AND k>=80 THEN '{"message":' || CAST(k AS VARCHAR) || ',"inner":{"message":"x"}}'
      |         WHEN event_type='view' AND k>=70 THEN 'viewed item ' || CAST(k AS VARCHAR)
      |         WHEN event_type='view' AND k>=60 THEN 'hi error ' || CAST(k AS VARCHAR)
      |         ELSE 'user viewed page ' || CAST(k AS VARCHAR) END AS message,
      |    CASE WHEN event_type='click' THEN '{"k":"' || CAST(k AS VARCHAR) || '"}'
      |         WHEN event_type='view' AND k>=90 THEN '{"ctx":"{\"a\":1}"}'
      |         ELSE '{}' END AS attrs_json,
      |    'us-east-1' AS region, 'lambda' AS type,
      |    CASE WHEN event_type='error' OR (event_type='click' AND k>=80)
      |           OR (event_type='view' AND k>=60 AND k<70)
      |         THEN 'error' ELSE 'debug' END AS severity,
      |    CASE WHEN event_type='error' AND k<20 THEN 'configuration'
      |         WHEN event_type='error' AND k<40 THEN 'runtime'
      |         WHEN event_type='error' THEN 'timeout'
      |         WHEN event_type='click' AND k>=80 THEN 'runtime'
      |         WHEN event_type='view' AND k>=60 AND k<70 THEN 'runtime' END AS error_type
      |  FROM base WHERE event_type <> 'signup')
      |""".stripMargin

  private val docSelect =
    """SELECT event_id, function_name, function_version, log_timestamp,
      |  request_id, message, attrs_json, region, type, severity, error_type
      |""".stripMargin

  /** Flatten a parsed-doc frame to the oracle-compared column set. */
  private def docOutput(parsed: DataFrame): DataFrame =
    parsed.select(col("event_id"), col("function_name"),
      col("function_version"), col("timestamp").as("log_timestamp"),
      col("request_id"), col("message"), to_json(col("attrs")).as("attrs_json"),
      col("region"), col("type"), col("severity"), col("error_type"))

  /** S6/S7/S9/S10a-c/S11/S12: parse + classify + enrich every corpus line. */
  def classify(spark: SparkSession, dir: String): DataFrame =
    docOutput(LogCorpus.parsed(t(spark, dir, "events"))).orderBy("event_id")

  /** Flagship aggregation: severity/error-type histogram per function —
    * the centralized-log-analytics query the reference pipeline feeds.
    */
  def errorHist(spark: SparkSession, dir: String): DataFrame =
    LogCorpus.parsed(t(spark, dir, "events"))
      .groupBy(col("function_name"), col("severity"),
        coalesce(col("error_type"), lit("none")).as("error_type"))
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("request_id")).as("n_requests"))
      .orderBy("function_name", "severity", "error_type")

  /** S1-S12 end-to-end: events batched per user into CloudWatch payloads,
    * JSON-encoded, gzipped (custom Catalyst expression), base64'd — then fed
    * through `LogPipeline.pipeline`'s own decode path (S2 unbase64, S3
    * gunzip, S4 from_json, S5 control-message drop, S8 explode) and parsed
    * back, keeping each event's id. The oracle
    * never sees the envelope: a hash match proves the codec round-trip.
    * Batches of users with user_id % 10 == 0 are marked CONTROL_MESSAGE and
    * must vanish (shipper.js:125).
    */
  def codecRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val m = LogCorpus.withMessages(t(spark, dir, "events"))
      .withColumn("messageType",
        when(col("user_id") % 10 === 0, "CONTROL_MESSAGE")
          .otherwise("DATA_MESSAGE"))
    val payloads = m.groupBy(col("user_id"))
      .agg(
        max(col("messageType")).as("messageType"),
        max(col("logGroup")).as("logGroup"),
        collect_list(struct(
          col("event_id").cast("string").as("id"),
          unix_millis(col("ts")).as("timestamp"),
          col("msg").as("message"))).as("logEvents"))
      .select(to_json(struct(col("messageType"), col("logGroup"),
        lit(LogCorpus.LogStream).as("logStream"), col("logEvents")))
        .as("payload_json"))
    val records = payloads.select(
      base64(gzip(encode(col("payload_json"), "UTF-8"))).as("data"),
      lit(LogCorpus.Region).as("region"))

    val parsed = LogPipeline.parsedDocs(LogPipeline.logEvents(records),
      col("logEvent.id").cast("long").as("event_id"))
    docOutput(parsed).orderBy("event_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipe_classify" -> classify,
    "pipe_error_hist" -> errorHist,
    "pipe_codec_roundtrip" -> codecRoundtrip)

  val oracles: Map[String, String] = Map(
    "pipe_classify" ->
      (base + docSelect + "FROM docs ORDER BY event_id"),
    "pipe_error_hist" ->
      (base +
        """SELECT function_name, severity,
          |  COALESCE(error_type, 'none') AS error_type,
          |  COUNT(*) AS n_docs, COUNT(DISTINCT request_id) AS n_requests
          |FROM docs GROUP BY 1, 2, 3
          |ORDER BY function_name, severity, error_type""".stripMargin),
    "pipe_codec_roundtrip" ->
      (base + docSelect + "FROM docs WHERE user_id % 10 <> 0 ORDER BY event_id"))
}
