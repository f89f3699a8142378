package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.rng.Seed

import graft.operators.LogPipeline

/** Property-based tests (SURVEY.md §5.3): the parser is a total function —
  * any message yields exactly 0 or 1 doc, never an exception — and the
  * classifier is first-match-wins.
  */
class ParserPropertySpec extends SparkSpec {
  import ParserPropertySpec.sample

  test("parser total-function property: <=1 doc per message, no throw") {
    import spark.implicits._
    val msgs = sample(500)
    val df = LogPipeline.parseStaged(msgs.toDF("msg"), lit("fn"), lit("v"),
        col("msg"), lit("r"))
    val out = df.select(col("msg"), col("doc")).collect() // must not throw
    assert(out.length == msgs.size)
    // dropped iff platform prefix
    out.foreach { r =>
      val dropped = r.isNullAt(1)
      val isPlatform = Seq("START RequestId", "END RequestId", "REPORT RequestId")
        .exists(r.getString(0).startsWith)
      assert(dropped == isPlatform, s"drop mismatch for: ${r.getString(0)}")
    }
  }

  test("classifier first-match-wins property vs reference order") {
    import spark.implicits._
    val msgs = sample(300) ++ Seq("module initialization error",
      "unable to import module x", "Task timed out", "ERROR", "eRrOr inside")
    def referenceClassify(m: String): (String, Any) = {
      val l = m.toLowerCase
      if (l.contains("error")) ("error", "runtime")
      else if (l.contains("module initialization error") ||
        l.contains("unable to import module")) ("error", "configuration")
      else if (l.contains("task timed out") ||
        l.contains("process exited before completing")) ("error", "timeout")
      else ("debug", null)
    }
    val got = msgs.toDF("msg")
      .select(col("msg"), LogPipeline.severity(col("msg")).as("sev"),
        LogPipeline.errorType(col("msg")).as("et"))
      .collect()
    got.foreach { r =>
      val (sev, et) = referenceClassify(r.getString(0))
      assert(r.getString(1) == sev && r.get(2) == et,
        s"classify mismatch for '${r.getString(0)}'")
    }
  }

  test("property: JSON object with string-valued message => JSON branch") {
    import spark.implicits._
    val params = Gen.Parameters.default
    val gen = for {
      k <- Gen.alphaLowerStr.suchThat(s =>
        s.nonEmpty && s != "message" && s != "timestamp" && s != "requestId")
      v <- Gen.alphaNumStr
      mv <- Gen.alphaNumStr
    } yield (s"""{"$k":"$v","message":"$mv"}""", mv)
    val cases = (0 until 200).flatMap(i => gen.apply(params, Seed(1000L + i)))
    assert(cases.nonEmpty)
    val got = LogPipeline.parseStaged(cases.toDF("msg", "mv"), lit("fn"),
        lit("v"), col("msg"), lit("r"))
      .collect()
    got.foreach { r =>
      assert(!r.isNullAt(2), s"dropped: ${r.getString(0)}")
      val d = r.getStruct(2)
      assert(d.getAs[String]("message") == r.getString(1),
        s"JSON branch missed for ${r.getString(0)}")
    }
  }

  test("custom expressions are SQL-registered via GraftFunctions") {
    graft.functions.GraftFunctions.register(spark)
    val row = spark.sql(
      """SELECT rolling_hash('hello') AS rh,
        |  simhash64(split('a b c', ' ')) AS sh,
        |  cast(gunzip(gzip(encode('roundtrip', 'UTF-8'))) AS STRING) AS rt
        |""".stripMargin).head()
    assert(row.getLong(0) != 0L)
    assert(row.getString(2) == "roundtrip")
  }
}

object ParserPropertySpec {
  private val messageGen: Gen[String] = Gen.oneOf(
    Gen.asciiPrintableStr,
    Gen.alphaNumStr,
    // JSON-ish objects, valid and broken
    for (k <- Gen.alphaLowerStr; v <- Gen.alphaNumStr)
      yield s"""{"$k":"$v","message":"$v"}""",
    for (v <- Gen.alphaNumStr) yield s"""{"message":$v""", // broken json
    Gen.const("{}"), Gen.const("[1,2,3]"), Gen.const("null"), Gen.const("5"),
    // non-string message + nested decoy, unicode-escaped key
    Gen.const("""{"message":5,"inner":{"message":"x"}}"""),
    Gen.const("{\"\\u006dessage\":\"hi\"}"),
    Gen.const("""{"message":["a"],"x":1}"""),
    Gen.const("""{"message":null}"""),
    Gen.const("START RequestId: x"),
    Gen.const("2019-03-08T15:58:45.736Z\taaaaaaaa-bbbb-cccc-dddd-eeeeeeeeeeee\tok"),
    // structured-looking but malformed tails
    Gen.const("2019-03-08T15:58:45.736Z aaaaaaaa-bbbb-cccc-dddd-eeeeeeeeeeee spaces"),
    Gen.asciiStr.map(s => s"error $s"),
    Gen.const(""))

  /** `n` seeded messages of [[messageGen]] (ASCII only). */
  def sample(n: Int): Seq[String] = {
    val params = Gen.Parameters.default
    (0 until n).flatMap(i =>
      messageGen.apply(params, Seed(i.toLong)))
  }
}
