package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}

import graft.functions.GzipCodec
import graft.operators.LogPipeline

/** Golden-fixture tests for every parser/classifier branch of the reference
  * (FIXTURES.md §A; semantics from /root/reference/shipper.js).
  */
class LogPipelineSpec extends SparkSpec {
  import java.util.Base64

  private def payload(messages: Seq[String],
                      messageType: String = "DATA_MESSAGE",
                      logGroup: String = "/aws/lambda/my-fn",
                      logStream: String = "2019/03/08/[$LATEST]abcd"): String = {
    val events = messages.zipWithIndex.map { case (m, i) =>
      s"""{"id":"$i","timestamp":155,"message":${ujson(m)}}"""
    }.mkString("[", ",", "]")
    s"""{"messageType":"$messageType","logGroup":"$logGroup","logStream":"$logStream","logEvents":$events}"""
  }

  private def ujson(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\t", "\\t").replace("\n", "\\n") + "\""

  private def encode(payloadJson: String): String =
    Base64.getEncoder.encodeToString(GzipCodec.gzip(payloadJson.getBytes("UTF-8")))

  private def ship(messages: String*): Seq[Row] = shipPayload(payload(messages))

  private def shipPayload(payloads: String*): Seq[Row] = {
    import spark.implicits._
    val records = payloads.map(p => (encode(p), "eu-west-1")).toDF("data", "region")
    LogPipeline.pipeline(records).orderBy("message").collect().toSeq
  }

  private def doc(r: Row): Map[String, Any] =
    r.schema.fieldNames.zip(r.toSeq).toMap

  test("json-plain: fields promoted, rest into attrs (shipper.js:71-84)") {
    val rows = ship("""{"timestamp":"2019-03-08T15:58:45.736Z","requestId":"53499d7f-60f1-476a-adc8-1e6c6125a67c","message":"hi","k":"1"}""")
    assert(rows.size == 1)
    val d = doc(rows.head)
    assert(d("function_name") == "my-fn")
    assert(d("function_version") == "$LATEST")
    assert(d("timestamp") == "2019-03-08T15:58:45.736Z")
    assert(d("request_id") == "53499d7f-60f1-476a-adc8-1e6c6125a67c")
    assert(d("message") == "hi")
    assert(d("attrs").asInstanceOf[Map[String, String]] == Map("k" -> "1"))
    assert(d("region") == "eu-west-1")
    assert(d("type") == "lambda")
    assert(d("severity") == "debug")
    assert(d("error_type") == null)
  }

  test("json-no-message falls through to raw branch (shipper.js:32,85,101-110)") {
    val msg = """{"timestamp":"2019-03-08T15:58:45.736Z","requestId":"x","level":"info"}"""
    val rows = ship(msg)
    val d = doc(rows.head)
    assert(d("message") == msg)        // whole original JSON string
    assert(d("timestamp") == null)     // raw branch: no @timestamp
    assert(d("request_id") == null)
    assert(d("severity") == "debug")
  }

  test("json-error: severity=error/runtime from JSON message (shipper.js:31-36)") {
    val rows = ship("""{"message":"DB error: connection lost","requestId":"r"}""")
    val d = doc(rows.head)
    assert(d("severity") == "error")
    assert(d("error_type") == "runtime")
  }

  test("structured log: ISO8601 \\t UUID \\t text (shipper.js:22,50-57,89-100)") {
    val rows = ship("2019-03-08T15:58:45.736Z\t53499d7f-60f1-476a-adc8-1e6c6125a67c\tHello World!")
    val d = doc(rows.head)
    assert(d("timestamp") == "2019-03-08T15:58:45.736Z")
    assert(d("request_id") == "53499d7f-60f1-476a-adc8-1e6c6125a67c")
    assert(d("message") == "Hello World!")
    assert(d("severity") == "debug")
  }

  test("structured log with tabs in tail TRUNCATES after field 3 (JS split('\\t',3))") {
    // JS "...".split('\t', 3) drops everything past the third field — the
    // engine takes element 3 of the unlimited split to match (an 'error' in
    // the dropped tail must NOT flip severity)
    val rows = ship("2019-03-08T15:58:45.736Z\t53499d7f-60f1-476a-adc8-1e6c6125a67c\ta\terror b\tc")
    val d = doc(rows.head)
    assert(d("message") == "a")
    assert(d("severity") == "debug")
  }

  test("non-string message with nested decoy \"message\":\"x\" goes RAW (checkLogError throws in JS)") {
    val msg = """{"message":5,"inner":{"message":"x"}}"""
    val rows = ship(msg)
    val d = doc(rows.head)
    assert(d("message") == msg)    // raw branch: whole original JSON text
    assert(d("timestamp") == null)
    assert(d("severity") == "debug")
  }

  test("unicode-escaped key \\u006dessage parses as JSON branch (JSON.parse normalizes)") {
    // message text contains the raw escape sequences \u006d ('m') and
    // \u0065 ('e'); the JSON parser must normalize both, routing this down
    // the JSON branch with a decoded message value
    val rows = ship("{\"\\u006dessage\":\"hi \\u0065rror\"}")
    val d = doc(rows.head)
    assert(d("message") == "hi error")
    assert(d("severity") == "error")
    assert(d("error_type") == "runtime")
  }

  test("nested object value lands re-serialized in attrs (declared deviation)") {
    val rows = ship("""{"message":"m","ctx":{"a":1}}""")
    val d = doc(rows.head)
    assert(d("message") == "m")
    assert(d("attrs").asInstanceOf[Map[String, String]] == Map("ctx" -> """{"a":1}"""))
  }

  test("raw fallback + classifier groups (shipper.js:4-14,101-110)") {
    val rows = ship(
      "plain text line",
      "unable to import module 'index'",
      "Task timed out after 3.00 seconds",
      "Process exited before completing request")
    val bySev = rows.map(doc).map(d => d("message") -> (d("severity"), d("error_type"))).toMap
    assert(bySev("plain text line") == ("debug", null))
    assert(bySev("unable to import module 'index'") == ("error", "configuration"))
    assert(bySev("Task timed out after 3.00 seconds") == ("error", "timeout"))
    assert(bySev("Process exited before completing request") == ("error", "timeout"))
  }

  test("first-match order quirk: 'module initialization error' is RUNTIME (shipper.js:31-47)") {
    val rows = ship("module initialization error: boom")
    assert(doc(rows.head)("error_type") == "runtime")
  }

  test("platform messages dropped (shipper.js:63-69)") {
    val rows = ship(
      "START RequestId: 1 Version: $LATEST",
      "END RequestId: 1",
      "REPORT RequestId: 1 Duration: 3 ms",
      "survivor")
    assert(rows.map(doc(_)("message")) == Seq("survivor"))
  }

  test("CONTROL_MESSAGE records dropped (shipper.js:125)") {
    val rows = shipPayload(
      payload(Seq("a"), messageType = "CONTROL_MESSAGE"),
      payload(Seq("b")))
    assert(rows.map(doc(_)("message")) == Seq("b"))
  }

  test("empty batch produces no docs (shipper.js:144)") {
    assert(shipPayload(payload(Seq.empty)).isEmpty)
  }

  test("lambdaName/lambdaVersion derivations (shipper.js:27-28)") {
    val rows = shipPayload(payload(Seq("x"),
      logGroup = "/aws/lambda/deep/nested-fn", logStream = "2019/[12]s"))
    val d = doc(rows.head)
    assert(d("function_name") == "nested-fn")
    assert(d("function_version") == "12")
  }

  test("wire JSON restores dotted keys and spread-order overwrites (shipper.js:75-83)") {
    val rows = ship("""{"message":"m","requestId":"r","region":"user-region","custom":"c"}""")
    import spark.implicits._
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows.toList),
      LogPipeline.pipeline(Seq(("", "")).toDF("data", "region").limit(0)).schema)
    val json = df.select(LogPipeline.wireJson(df).as("j")).as[String].collect().head
    // pipeline literals win over user fields of the same name (spread order)
    assert(json.contains("\"region\":\"eu-west-1\""))
    assert(json.contains("\"custom\":\"c\""))
    assert(json.contains("\"function.name\":\"my-fn\""))
    assert(!json.contains("@timestamp"))  // absent fields omitted from wire doc
  }

  /** The former classifier and parse, kept as oracles: `lower()` +
    * `contains`, and an unguarded `try_parse_json` on every message.
    */
  private object Unguarded {
    private val userJsonType = MapType(StringType, StringType)

    def errorType(msg: Column): Column = {
      val m = lower(msg)
      when(m.contains("error"), "runtime")
        .when(m.contains("module initialization error") ||
          m.contains("unable to import module"), "configuration")
        .when(m.contains("task timed out") ||
          m.contains("process exited before completing"), "timeout")
    }

    /** The doc `LogPipeline.parseStaged` builds with fn "fn", version "v"
      * and region "r". */
    def doc(msg: Column): Column = {
      val v = call_function("try_parse_json", msg)
      val parsed = v.try_cast(userJsonType)
      val b = when(LogPipeline.isPlatformMessage(msg), 0)
        .when(parsed.isNotNull && call_function("schema_of_variant",
          call_function("variant_get", v, lit("$.message"))) === "STRING", 1)
        .when(msg.rlike(LogPipeline.structuredLogPattern), 2)
        .otherwise(3)
      val parts = split(msg, "\t")
      def field(key: String, part: Int): Column =
        when(b === 1, element_at(parsed, key))
          .when(b === 2, try_element_at(parts, lit(part)))
      val m = field("message", 3).otherwise(msg)
      when(b === 0, lit(null)).otherwise(struct(
        lit("fn").as("function_name"), lit("v").as("function_version"),
        field("timestamp", 1).cast(StringType).as("timestamp"),
        field("requestId", 2).cast(StringType).as("request_id"),
        m.as("message"),
        when(b === 1, map_filter(parsed, (k, _) =>
          !k.isin("timestamp", "requestId", "message")))
          .otherwise(map().cast(userJsonType)).as("attrs"),
        lit("r").as("region"), lit("lambda").as("type"),
        when(errorType(m).isNotNull, "error").otherwise("debug").as("severity"),
        errorType(m).as("error_type")))
    }
  }

  /** (message, doc, the [[Unguarded]] doc) for each message. */
  private def againstUnguarded(msgs: Seq[String]): Seq[(String, Row, Row)] = {
    import spark.implicits._
    LogPipeline.parseStaged(msgs.toDF("msg"), lit("fn"), lit("v"), col("msg"),
        lit("r"))
      .select(col("msg"), col("doc"), Unguarded.doc(col("msg")))
      .collect().toSeq.map(r => (r.getString(0), r.getStruct(1), r.getStruct(2)))
  }

  test("KELVIN SIGN 'TASK TIMED OUT' is not a timeout: the fold is ASCII-only (JS /i without u)") {
    val kelvin = "TAS\u212A TIMED OUT after 3.00 seconds"
    val d = doc(ship(kelvin).head)
    assert(d("error_type") == null)
    assert(d("severity") == "debug")
    // the Unicode lower() folds U+212A to 'k'; ASCII spellings
    // still classify as both formulas do
    val Seq((_, got, oracle), (_, ascii, asciiOracle)) =
      againstUnguarded(Seq(kelvin, "TASK TIMED OUT after 3.00 seconds"))
    assert(oracle.getAs[String]("error_type") == "timeout")
    assert(got == Row.fromSeq(oracle.toSeq.dropRight(2) ++ Seq("debug", null)))
    assert(ascii.getAs[String]("error_type") == "timeout" && ascii == asciiOracle)
  }

  test("a non-ASCII message containing 'Error' is runtime") {
    val msg = "Überprüfung fehlgeschlagen: Error — 失败 ✗"
    val d = doc(ship(msg).head)
    assert(d("error_type") == "runtime")
    assert(d("severity") == "error")
    val Seq((_, got, oracle)) = againstUnguarded(Seq(msg))
    assert(got == oracle)
  }

  test("leading JSON whitespace before '{' still takes the JSON branch") {
    val obj = """{"message":"hi error","requestId":"r","k":"1"}"""
    val msgs = Seq(" ", "\t", "\n", "\r", " \t\n\r ").map(_ + obj)
    againstUnguarded(msgs).foreach { case (m, got, oracle) =>
      assert(got.getAs[String]("message") == "hi error", s"not JSON: $m")
      assert(got.getAs[String]("request_id") == "r")
      assert(got.getAs[Map[String, String]]("attrs") == Map("k" -> "1"))
      assert(got == oracle, s"differs from the unguarded parse: $m")
    }
  }

  test("a leading BOM, JSON scalars and a JSON array take the unguarded parse's branch") {
    val msgs = Seq("\uFEFF{\"message\":\"x\"}", "\f{\"message\":\"x\"}",
      "\"message\"", "5", "true", "null", "[{\"message\":\"x\"}]",
      " [1, 2]", "")
    againstUnguarded(msgs).foreach { case (m, got, oracle) =>
      assert(got.getAs[String]("message") == m, s"not raw: $m")
      assert(got == oracle, s"differs from the unguarded parse: $m")
    }
  }

  test("over the parser property generator the guarded parse equals the unguarded one") {
    val msgs = ParserPropertySpec.sample(500)
    val out = againstUnguarded(msgs)
    assert(out.size == msgs.size)
    out.foreach { case (m, got, oracle) =>
      assert(got == oracle, s"differs from the unguarded parse: $m")
    }
  }
}
