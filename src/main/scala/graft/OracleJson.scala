package graft

import java.nio.file.{Files, Paths}

/** The oracle_sql.json writer of [[Verify]] — one escape implementation
  * (the bug this guards against: one unescaped control char in the
  * oracle SQL makes a JSON reader fail and silently drops the whole
  * correctness check). `tools/check_oracle.py` checks a subset of a
  * Verify dump by query name.
  */
object OracleJson {

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20). */
  def escape(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Dump SparkEntry.oracleSql as outDir/oracle_sql.json. */
  def write(outDir: String): Unit = {
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${escape(k)}: ${escape(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
