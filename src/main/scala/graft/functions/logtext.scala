package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, MapType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** JVM kernels of the log data plane (`LogPipeline`); static so
  * whole-stage codegen calls them directly.
  */
object LogText {

  private def ascii(s: String): Array[Byte] = s.getBytes("US-ASCII")

  // shipper.js:23-25 and 31-49: the reference's classifier patterns in
  // its first-match order, lower case
  private val runtimePat = ascii("error")
  private val configPat1 = ascii("module initialization error")
  private val configPat2 = ascii("unable to import module")
  private val timeoutPat1 = ascii("task timed out")
  private val timeoutPat2 = ascii("process exited before completing")
  private val Runtime = UTF8String.fromString("runtime")
  private val Configuration = UTF8String.fromString("configuration")
  private val Timeout = UTF8String.fromString("timeout")

  /** Whether `s` contains the lower-case ASCII `pat`, ASCII letters
    * compared case-insensitively and every other byte exactly. This is
    * JS `/pat/i` without the `u` flag: its case fold never maps a
    * non-ASCII character onto an ASCII one (KELVIN SIGN is not `k`), and
    * every byte of a UTF-8 multi-byte character is >= 0x80, so a byte
    * scan cannot match inside one.
    */
  private def containsAsciiCi(s: UTF8String, pat: Array[Byte]): Boolean = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val last = s.numBytes - pat.length
    var i = 0
    while (i <= last) {
      var j = 0
      while (j < pat.length && {
        val b = Platform.getByte(base, off + i + j)
        (if (b >= 'A' && b <= 'Z') b + 32 else b) == pat(j)
      }) j += 1
      if (j == pat.length) return true
      i += 1
    }
    false
  }

  /** The reference's `error.type` of a message (shipper.js:31-49), or
    * null: first match wins, so "module initialization error" is
    * `runtime` (it contains "error").
    */
  def errorType(s: UTF8String): UTF8String =
    if (containsAsciiCi(s, runtimePat)) Runtime
    else if (containsAsciiCi(s, configPat1) || containsAsciiCi(s, configPat2))
      Configuration
    else if (containsAsciiCi(s, timeoutPat1) || containsAsciiCi(s, timeoutPat2))
      Timeout
    else null

  /** Whether the first byte after JSON whitespace (space, tab, LF, CR) is
    * `{` — the only texts that can parse as a JSON object.
    */
  def objectLead(s: UTF8String): Boolean = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    var i = 0
    while (i < s.numBytes) {
      val b = Platform.getByte(base, off + i)
      if (b != ' ' && b != '\t' && b != '\n' && b != '\r') return b == '{'
      i += 1
    }
    false
  }

  /** The entries of a string map whose key is not in `drop` (null
    * elements of `drop` match nothing), in map order. Returns `m` itself
    * when nothing is dropped.
    */
  def mapWithout(m: MapData, drop: ArrayData): MapData = {
    val n = m.numElements()
    val keys = m.keyArray()
    val vals = m.valueArray()
    val keep = new Array[Boolean](n)
    var kept = 0
    var i = 0
    while (i < n) {
      val k = keys.getUTF8String(i)
      var hit = false
      var j = 0
      while (!hit && j < drop.numElements()) {
        hit = !drop.isNullAt(j) && drop.getUTF8String(j) == k
        j += 1
      }
      keep(i) = !hit
      if (!hit) kept += 1
      i += 1
    }
    if (kept == n) return m
    val ks = new Array[Any](kept)
    val vs = new Array[Any](kept)
    var x = 0
    i = 0
    while (i < n) {
      if (keep(i)) {
        ks(x) = keys.getUTF8String(i)
        vs(x) = if (vals.isNullAt(i)) null else vals.getUTF8String(i)
        x += 1
      }
      i += 1
    }
    new ArrayBasedMapData(new GenericArrayData(ks), new GenericArrayData(vs))
  }
}

/** The reference's log classifier as one codegen'd expression:
  * `string -> string`, the `error.type` or null ([[LogText.errorType]]).
  */
case class ErrorType(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "error_type"

  override def nullSafeEval(s: Any): Any =
    LogText.errorType(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.LogText.errorType($c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): ErrorType =
    copy(child = newChild)
}

/** `string -> boolean`: the text can only be a JSON object
  * ([[LogText.objectLead]]) — the cheap guard before a JSON parse.
  */
case class JsonObjectLead(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "json_object_lead"

  override def nullSafeEval(s: Any): Any =
    LogText.objectLead(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.LogText.objectLead($c)")

  override protected def withNewChildInternal(newChild: Expression): JsonObjectLead =
    copy(child = newChild)
}

/** `(map<string,string>, array<string>) -> map<string,string>`: the map
  * without the listed keys ([[LogText.mapWithout]]) — a codegen'd
  * replacement for a key-testing `map_filter`, which evaluates its lambda
  * interpreted and keeps its whole projection out of whole-stage codegen.
  */
case class MapWithout(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(MapType(StringType, StringType), ArrayType(StringType))
  override def dataType: DataType = left.dataType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "map_without"

  override def nullSafeEval(m: Any, drop: Any): Any =
    LogText.mapWithout(m.asInstanceOf[MapData], drop.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (m, d) => s"graft.functions.LogText.mapWithout($m, $d)")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): MapWithout =
    copy(left = newLeft, right = newRight)
}
