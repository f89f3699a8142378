package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.gcolumns.gunzip

/** The reference data plane (`/root/reference/shipper.js`) re-expressed as a
  * narrow, shuffle-free Spark column pipeline.
  *
  * Every operator below is a pure `Column` transform, so the whole
  * decode -> parse -> classify -> enrich path fuses into a single
  * whole-stage-codegen stage with no Exchange — the property that lets it
  * scale linearly across executors at 100 TB (parallelism = input splits,
  * exactly like the reference's parallelism = Kinesis shards).
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

  /** S11: first-match-wins severity classifier (shipper.js:31-49).
    *
    * Returns `error.type` or null. The patterns are literal substrings
    * compiled with the `i` flag in the reference (shipper.js:23-25), so
    * case-insensitive `contains` (codegen'd, no regex engine) is equivalent
    * and faster. Branch order is load-bearing: "module initialization error"
    * contains "error", so it classifies as *runtime*, never configuration —
    * the configuration branch is only reachable via "unable to import module".
    */
  def errorType(msg: Column): Column = {
    val m = lower(msg)
    when(m.contains("error"), "runtime")
      .when(m.contains("module initialization error") ||
        m.contains("unable to import module"), "configuration")
      .when(m.contains("task timed out") ||
        m.contains("process exited before completing"), "timeout")
  }

  /** S11: severity = 'error' iff any classifier branch hit, else the 'debug'
    * default installed by enrichment (shipper.js:83,33,38,44). Null-safe:
    * null message stays debug (declared deviation — see class doc).
    */
  def severity(msg: Column): Column =
    when(errorType(msg).isNotNull, "error").otherwise("debug")

  // ---------------------------------------------------------------------------
  // S10: 3-way parse dispatch (JSON -> structured -> raw), shipper.js:62-112
  // ---------------------------------------------------------------------------

  private val userJsonType = MapType(StringType, StringType)

  /** The message parsed as a variant (null for invalid JSON) — the ONE JSON
    * parse in the pipeline: the user map is a cast of this variant (same
    * stringify-nested-values semantics as `from_json` to map<string,string>;
    * only map key order differs, sorted vs insertion — irrelevant to the
    * open-schema attrs semantics) and the type probe reads its `$.message`
    * subtree. Round 1 parsed every message twice (from_json + the guard).
    */
  private def variantOf(msg: Column): Column =
    call_function("try_parse_json", msg)

  /** Variant type of the parsed `$.message` value: 'STRING' for a JSON
    * object with a string message, other type names / VOID / null otherwise.
    */
  private def messageType(v: Column): Column =
    call_function("schema_of_variant",
      call_function("variant_get", v, lit("$.message")))

  /** Staged parse over a frame: adds the variant + parsed-map projections,
    * then the doc column built from them. Extra input columns pass through
    * untouched.
    */
  def parseStaged(df: DataFrame, functionName: Column, functionVersion: Column,
                  msg: Column, region: Column): DataFrame =
    df.withColumn("__v", variantOf(msg))
      .withColumn("__jmap", col("__v").try_cast(userJsonType))
      .withColumn("__branch", branchOf(msg, col("__v"), col("__jmap")))
      .withColumn("doc", docFromParsed(functionName, functionVersion, msg,
        col("__jmap"), col("__branch"), region))
      .drop("__v", "__jmap", "__branch")

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

  /** Doc construction as per-FIELD branch selects over the staged
    * discriminant — the branch predicates (regex, variant probe) run once
    * per row in [[branchOf]], the classifier runs once on the
    * branch-selected message (round 1 built three whole doc structs with a
    * classifier chain per struct; the generated code was the dominant
    * Janino compile + eval cost of the pipeline).
    */
  private def docFromParsed(functionName: Column, functionVersion: Column,
                            msg: Column, parsed: Column, b: Column,
                            region: Column): Column = {
    val emptyAttrs = map().cast(userJsonType)
    // shipper.js:50-57: JS split('\t', 3) TRUNCATES — "a\tb\tc\td" gives
    // [a,b,c], dropping everything after the third field. Spark's limit-3
    // split instead keeps the tail inside element 3 ("c\td"), so we take
    // element 3 of the UNLIMITED split, which is exactly the JS third field
    // (cut at the next tab). try_element_at: a regex hit with <3 tab parts
    // (e.g. space-separated columns) yields null fields — the declared
    // row-level-containment deviation (the reference would throw out of
    // checkLogError and poison the whole batch, shipper.js:91).
    val parts = split(msg, "\t")
    // shipper.js:74: requestId/timestamp are destructured OUT of the spread;
    // message stays in parsedMessage and becomes doc.message.
    val ts = when(b === 1, element_at(parsed, "timestamp"))
      .when(b === 2, try_element_at(parts, lit(1)))
    val rid = when(b === 1, element_at(parsed, "requestId"))
      .when(b === 2, try_element_at(parts, lit(2)))
    val m = when(b === 1, element_at(parsed, "message"))
      .when(b === 2, try_element_at(parts, lit(3)))
      .otherwise(msg)
    val attrs = when(b === 1, map_filter(parsed, (k, _) =>
      !k.isin("timestamp", "requestId", "message"))).otherwise(emptyAttrs)
    val doc = struct(
      functionName.as("function_name"),
      functionVersion.as("function_version"),
      ts.cast(StringType).as("timestamp"),
      rid.cast(StringType).as("request_id"),
      m.as("message"),
      attrs.as("attrs"),
      region.as("region"), lit("lambda").as("type"),
      severity(m).as("severity"),
      errorType(m).as("error_type"))
    when(b === 0, lit(null)).otherwise(doc)
  }

  // ---------------------------------------------------------------------------
  // Whole pipeline: Kinesis-shaped records -> parsed docs
  // ---------------------------------------------------------------------------

  /** Decode one Kinesis record (S2 base64 -> S3 gunzip -> S4 from_json), drop
    * control messages (S5). Input columns: `data` (base64 string), `region`.
    * Output: `payload` struct + `region`, control records removed.
    */
  def decodeRecords(df: DataFrame, dataCol: String = "data",
                    regionCol: String = "region"): DataFrame =
    df.withColumn("payload",
        from_json(gunzip(unbase64(col(dataCol))).cast(StringType), payloadSchema))
      .filter(col("payload.messageType") =!= "CONTROL_MESSAGE")
      .select(col("payload"), col(regionCol).as("region"))

  /** S6-S12 over decoded payloads: derive enrichment, explode logEvents (S8),
    * drop platform messages, parse + classify. One output row per shipped doc,
    * flattened to [[docColumns]].
    */
  def parsedDocs(decoded: DataFrame): DataFrame = {
    val exploded = decoded
      .withColumn("function_name", lambdaName(col("payload.logGroup")))
      .withColumn("function_version", lambdaVersion(col("payload.logStream")))
      .select(col("function_name"), col("function_version"), col("region"),
        explode(col("payload.logEvents")).as("logEvent"))
    parseStaged(exploded, col("function_name"), col("function_version"),
        col("logEvent.message"), col("region"))
      .filter(col("doc").isNotNull)
      .select(col("doc.*"))
  }

  /** Full data plane: raw Kinesis-shaped records to shipped docs. */
  def pipeline(records: DataFrame, dataCol: String = "data",
               regionCol: String = "region"): DataFrame =
    parsedDocs(decodeRecords(records, dataCol, regionCol))

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
    val closed = map_filter(
      map(
        lit("function.name"), col("function_name"),
        lit("function.version"), col("function_version"),
        lit("@timestamp"), col("timestamp"),
        lit("function.request.id"), col("request_id"),
        lit("message"), col("message"),
        lit("region"), col("region"),
        lit("type"), col("type"),
        lit("severity"), col("severity"),
        lit("error.type"), col("error_type")),
      (_, v) => v.isNotNull)
    // user attrs first, closed fields second => closed keys win on conflict,
    // matching the spread order of shipper.js:80-83 for region/type/severity.
    to_json(map_concat(map_filter(col("attrs"), (k, _) => !map_contains_key(closed, k)), closed))
  }
}
