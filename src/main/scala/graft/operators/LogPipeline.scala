package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.gcolumns.{error_type, gunzip, json_object_lead, map_without}

/** The reference data plane (`/root/reference/shipper.js`) re-expressed as a
  * narrow, shuffle-free Spark column pipeline.
  *
  * Every operator below is a pure `Column` transform, so the whole
  * decode -> parse -> classify -> enrich path is one stage with no
  * Exchange, and every operator of it but the decode projection
  * (`from_json` evaluates interpreted) fuses into whole-stage codegen — the
  * property that lets it scale linearly across executors at 100 TB
  * (parallelism = input splits, exactly like the reference's parallelism =
  * Kinesis shards).
  *
  * Semantics are bit-for-bit those of the reference where observable:
  *  - S6 lambdaName        (shipper.js:28)  last `/`-segment of logGroup
  *  - S7 lambdaVersion     (shipper.js:27)  text between first `[` and `]`
  *  - S5 control filter    (shipper.js:125)
  *  - S9 platform filter   (shipper.js:63-69)
  *  - S10 3-way parse      (shipper.js:62-112)  JSON -> structured -> raw
  *  - S11 severity CASE    (shipper.js:31-49)   first-match-wins order
  *  - S12 enrichment       (shipper.js:75-83)
  *
  * Declared deviations (documented, tested):
  *  - user JSON fields land in `attrs map<string,string>` instead of being
  *    spread to top level (columnar engines need a closed schema); the exact
  *    wire doc (dotted keys, spread semantics) is reproduced by [[wireJson]].
  *  - a malformed structured line (regex hit but <3 tab parts) yields a doc
  *    with null message instead of poisoning the whole batch (shipper.js would
  *    throw out of `checkLogError` and fail the Lambda invocation; row-level
  *    error containment is strictly better at scale).
  */
object LogPipeline {

  // ---------------------------------------------------------------------------
  // Schemas (SURVEY.md §1.4)
  // ---------------------------------------------------------------------------

  /** CloudWatch Logs payload, after base64+gunzip (shipper.js:122-132). */
  val payloadSchema: StructType = StructType(Seq(
    StructField("messageType", StringType),
    StructField("logGroup", StringType),
    StructField("logStream", StringType),
    StructField("logEvents", ArrayType(StructType(Seq(
      StructField("id", StringType),
      StructField("timestamp", LongType),
      StructField("message", StringType)))))))

  /** One Kinesis record of the Lambda event envelope (shipper.js:121-130). */
  val kinesisRecordSchema: StructType = StructType(Seq(
    StructField("kinesis", StructType(Seq(StructField("data", StringType)))),
    StructField("awsRegion", StringType)))

  /** Closed part of the output-document schema (SURVEY.md §1.2), engine
    * column names (underscored); dotted wire keys restored by [[wireJson]].
    */
  val docColumns: Seq[String] = Seq(
    "function_name", "function_version", "timestamp", "request_id",
    "message", "attrs", "region", "type", "severity", "error_type")

  // ---------------------------------------------------------------------------
  // Scalar operators
  // ---------------------------------------------------------------------------

  /** S6: last `/`-segment of the log group (shipper.js:28,
    * `logGroup.split('/').reverse()[0]` — keeps a trailing empty segment,
    * which Spark's split with default limit -1 also keeps).
    */
  def lambdaName(logGroup: Column): Column = element_at(split(logGroup, "/"), -1)

  /** S7: substring between the first `[` and the first `]` of the log stream
    * (shipper.js:27). Non-greedy regexp matches the same first-`[`..first-`]`
    * window; yields "" when absent, as the JS substring arithmetic does for
    * well-formed streams.
    */
  def lambdaVersion(logStream: Column): Column =
    regexp_extract(logStream, "\\[(.*?)\\]", 1)

  /** S9: platform messages dropped before any parsing (shipper.js:63-69). */
  def isPlatformMessage(msg: Column): Column =
    msg.startsWith("START RequestId") ||
      msg.startsWith("END RequestId") ||
      msg.startsWith("REPORT RequestId")

  /** Structured-log pattern, verbatim from shipper.js:22 (valid Java regex;
    * `rlike` is an unanchored search exactly like JS `String.match`).
    */
  val structuredLogPattern: String =
    "[0-9]{4}-(0[1-9]|1[0-2])-(0[1-9]|[1-2][0-9]|3[0-1])T(2[0-3]|[01][0-9]):[0-5][0-9]:[0-5][0-9].[0-9][0-9][0-9]Z([ \t])[a-zA-Z0-9]{8}-[a-zA-Z0-9]{4}-[a-zA-Z0-9]{4}-[a-zA-Z0-9]{4}-[a-zA-Z0-9]{12}([ \t])(.*)"

  /** S11: first-match-wins classifier (shipper.js:31-49): `error.type` or
    * null, one codegen'd scan of the message's UTF-8 bytes
    * ([[graft.functions.ErrorType]]). The patterns are literal substrings
    * compiled with the `i` flag and no `u` flag (shipper.js:23-25), which
    * folds case only within ASCII: "TASK TIMED OUT" spelled with U+212A
    * KELVIN SIGN does not match, as in node, where a Unicode `lower()`
    * would fold it to `k`. Branch order is load-bearing: "module
    * initialization error" contains "error", so it classifies as
    * *runtime*, never configuration — the configuration branch is only
    * reachable via "unable to import module".
    */
  def errorType(msg: Column): Column = error_type(msg)

  /** S11: severity = 'error' iff any classifier branch hit, else the 'debug'
    * default installed by enrichment (shipper.js:83,33,38,44). Null-safe:
    * null message stays debug (declared deviation — see class doc).
    */
  def severity(msg: Column): Column = severityOf(errorType(msg))

  /** Severity from an already classified `error_type` column. */
  private def severityOf(errorType: Column): Column =
    when(errorType.isNotNull, "error").otherwise("debug")

  // ---------------------------------------------------------------------------
  // S10: 3-way parse dispatch (JSON -> structured -> raw), shipper.js:62-112
  // ---------------------------------------------------------------------------

  private val userJsonType = MapType(StringType, StringType)

  /** The message parsed as a variant (null for invalid JSON) — the ONE JSON
    * parse in the pipeline: the user map is a cast of this variant (same
    * stringify-nested-values semantics as `from_json` to map<string,string>;
    * only map key order differs, sorted vs insertion — irrelevant to the
    * open-schema attrs semantics) and the type probe reads its `$.message`
    * subtree. Only a text whose first byte after JSON whitespace is `{` can
    * be the JSON *object* the JSON branch needs, so every other message
    * skips the parser (and the error it would build for a non-JSON text).
    */
  private def variantOf(msg: Column): Column =
    when(json_object_lead(msg), call_function("try_parse_json", msg))

  /** Variant type of the parsed `$.message` value: 'STRING' for a JSON
    * object with a string message, other type names / VOID / null otherwise.
    */
  private def messageType(v: Column): Column =
    call_function("schema_of_variant",
      call_function("variant_get", v, lit("$.message")))

  /** Staged parse over a frame: adds the variant + parsed-map projections,
    * the branch, the branch-selected message and its one classification,
    * then the doc column built from them (null for a platform message).
    * Extra input columns pass through untouched.
    */
  def parseStaged(df: DataFrame, functionName: Column, functionVersion: Column,
                  msg: Column, region: Column): DataFrame = {
    // shipper.js:50-57: JS split('\t', 3) TRUNCATES — "a\tb\tc\td" gives
    // [a,b,c], dropping everything after the third field. Spark's limit-3
    // split instead keeps the tail inside element 3 ("c\td"), so we take
    // element 3 of the UNLIMITED split, which is exactly the JS third field
    // (cut at the next tab). try_element_at: a regex hit with <3 tab parts
    // (e.g. space-separated columns) yields null fields — the declared
    // row-level-containment deviation (the reference would throw out of
    // checkLogError and poison the whole batch, shipper.js:91).
    val parts = split(msg, "\t")
    val (jmap, b) = (col("__jmap"), col("__branch"))
    // shipper.js:74: requestId/timestamp are destructured OUT of the spread;
    // message stays in parsedMessage and becomes doc.message.
    def field(jsonKey: String, part: Int): Column =
      when(b === 1, element_at(jmap, jsonKey))
        .when(b === 2, try_element_at(parts, lit(part)))
    df.withColumn("__v", variantOf(msg))
      .withColumn("__jmap", col("__v").try_cast(userJsonType))
      .withColumn("__branch", branchOf(msg, col("__v"), jmap))
      .withColumn("__msg", field("message", 3).otherwise(msg))
      .withColumn("__et", errorType(col("__msg")))
      // null on the platform test itself, not on `b === 0`: the optimizer
      // then pushes a consumer's `doc IS NOT NULL` filter below the parse
      .withColumn("doc", when(isPlatformMessage(msg), lit(null)).otherwise(struct(
        functionName.as("function_name"),
        functionVersion.as("function_version"),
        field("timestamp", 1).cast(StringType).as("timestamp"),
        field("requestId", 2).cast(StringType).as("request_id"),
        col("__msg").as("message"),
        when(b === 1,
            map_without(jmap, typedlit(Seq("timestamp", "requestId", "message"))))
          .otherwise(map().cast(userJsonType)).as("attrs"),
        region.as("region"), lit("lambda").as("type"),
        severityOf(col("__et")).as("severity"),
        col("__et").as("error_type"))))
      .drop("__v", "__jmap", "__branch", "__msg", "__et")
  }

  /** Parse-branch discriminant, evaluated ONCE per row:
    * 0 = platform drop, 1 = JSON, 2 = structured, 3 = raw.
    *
    * The JSON guard replicates `JSON.parse` + `checkLogError` reachability
    * (shipper.js:71-85 and the SURVEY.md §2.1 hidden edge case): the JSON
    * branch survives iff the message parses as a JSON *object* (map cast
    * non-null) and contains a *string-valued* `message` key — anything
    * else (scalar/array JSON, object without `message`, non-string
    * `message`) throws inside the reference's try block
    * (`log.message.match` on a non-string) and falls through to the
    * structured/raw path. The string-valuedness test is a real type probe
    * on the PARSED value, not a regex over the raw text — a raw-text regex
    * misfires on a nested object's own `"message":"x"` key when the outer
    * `message` is non-string, and misses unicode-escaped keys
    * (`message`), both of which JSON.parse resolves correctly.
    */
  private def branchOf(msg: Column, v: Column, parsed: Column): Column =
    when(isPlatformMessage(msg), 0)
      .when(parsed.isNotNull && messageType(v) === "STRING", 1)
      .when(msg.rlike(structuredLogPattern), 2)
      .otherwise(3)

  // ---------------------------------------------------------------------------
  // Whole pipeline: Kinesis-shaped records -> parsed docs
  // ---------------------------------------------------------------------------

  /** S2-S4: the CloudWatch payload of one base64'd gzip record. */
  private def payloadOf(data: Column): Column =
    from_json(gunzip(unbase64(data)).cast(StringType), payloadSchema)

  /** S5: the payload is not a control message. */
  private def isData(payload: Column): Column =
    payload("messageType") =!= "CONTROL_MESSAGE"

  /** Decode Kinesis records (S2 base64 -> S3 gunzip -> S4 from_json) and
    * drop control messages (S5). Input columns: `data` (base64 string),
    * `region`. Output: `payload` struct + `region`, control records removed.
    * Each record is decoded once: the drop is an explode of a one-element
    * array, because a Filter would be pushed below the decode projection
    * and decode every record again.
    */
  def decodeRecords(df: DataFrame, dataCol: String = "data",
                    regionCol: String = "region"): DataFrame =
    df.select(payloadOf(col(dataCol)).as("payload"), col(regionCol).as("region"))
      .select(explode(when(isData(col("payload")), array(col("payload"))))
        .as("payload"), col("region"))

  /** S2-S8: one row per log event of the data records — `function_name`,
    * `function_version` (S6, S7), `region` and the `logEvent` struct.
    */
  def logEvents(records: DataFrame, dataCol: String = "data",
                regionCol: String = "region"): DataFrame =
    decodeRecords(records, dataCol, regionCol)
      .withColumn("function_name", lambdaName(col("payload.logGroup")))
      .withColumn("function_version", lambdaVersion(col("payload.logStream")))
      .select(col("function_name"), col("function_version"), col("region"),
        explode(col("payload.logEvents")).as("logEvent"))

  /** S9-S12 over [[logEvents]] rows: drop platform messages, parse +
    * classify. One output row per shipped doc: `keep`, then [[docColumns]].
    */
  def parsedDocs(events: DataFrame, keep: Column*): DataFrame =
    parseStaged(events, col("function_name"), col("function_version"),
        col("logEvent.message"), col("region"))
      .filter(col("doc").isNotNull)
      .select(keep :+ col("doc.*"): _*)

  /** Full data plane: raw Kinesis-shaped records to shipped docs. */
  def pipeline(records: DataFrame, dataCol: String = "data",
               regionCol: String = "region"): DataFrame =
    parsedDocs(logEvents(records, dataCol, regionCol))

  /** Reproduce the exact wire document of the reference sink (dotted keys,
    * user fields spread at top level, pipeline literals winning over user
    * fields of the same name — shipper.js:75-83 spread order).
    *
    * Note on `error.type`: the reference emits a nested `"error":{"type":x}`
    * object (shipper.js:34-36); we emit the flat dotted key, which is the
    * same field path under Elasticsearch mapping rules (the sink the
    * reference ships to treats dots as object-path separators) — declared
    * equivalent-at-the-sink deviation.
    */
  def wireJson(doc: DataFrame): Column = {
    val fields = Seq(
      "function.name" -> "function_name", "function.version" -> "function_version",
      "@timestamp" -> "timestamp", "function.request.id" -> "request_id",
      "message" -> "message", "region" -> "region", "type" -> "type",
      "severity" -> "severity", "error.type" -> "error_type")
    def keysWhere(p: Column => Column): Column =
      array(fields.map { case (k, c) => when(p(col(c)), lit(k)) }: _*)
    // the non-null closed fields, in this order
    val closed = map_without(
      map(fields.flatMap { case (k, c) => Seq(lit(k), col(c)) }: _*),
      keysWhere(_.isNull))
    // user attrs first, closed fields second => closed keys win on conflict,
    // matching the spread order of shipper.js:80-83 for region/type/severity.
    to_json(map_concat(map_without(col("attrs"), keysWhere(_.isNotNull)), closed))
  }
}
