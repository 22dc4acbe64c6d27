package graft.functions

import java.nio.charset.StandardCharsets
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The reference's cast/normalize layer (C3) composed with its sink's
  * falsy→NULL coercion (K2), as Catalyst expressions — no UDFs, fully
  * codegen'd, ANSI-safe (no bare casts of dirty strings).
  *
  * Net observable semantics being reproduced (reference:
  * transformHfpItem.ts:54-107 × upsert.ts:36 — see SURVEY.md §1.2/§2):
  *   - string:  empty → NULL, else identity (values arrive trimmed; C1)
  *   - int:     JS `parseInt` (leading [+-]?digits, else NaN); NaN→0;
  *              then sink nets 0→NULL. So: no leading int → NULL,
  *              parsed value 0 → NULL.
  *   - float:   JS `parseFloat` (leading decimal/exponent literal);
  *              same NaN→0→NULL netting.
  *   - boolean: JS truthiness — any non-empty string (even "false",
  *              "0") → true; empty/NULL → false; sink nets false→NULL.
  *              So only `true` or NULL is ever observable.
  *   - isodate: empty → NULL; contains '-' → ISO-8601 parse; else →
  *              epoch-milliseconds integer; unparseable → NULL
  *              (transformHfpItem.ts:90-103). Kept as TimestampType in
  *              UTC (the reference reformats to a local-TZ ISO string —
  *              we pin UTC, documented divergence per SURVEY.md §7).
  *   - date:    same dual-format parse, truncated to DateType
  *              (reference formats `yyyy-MM-dd`).
  *
  * The int, float and epoch-ms prefixes are read by one scan over the
  * value's UTF-8 bytes ([[JsPrefixCast]], [[JsPrefix]]). Their grammar
  * is the regexes below, which `CastPropertySpec` keeps as the model
  * the scanner must agree with:
  *   - int:      `^[+-]?[0-9]+`, at most 18 digits (more would overflow
  *               a Long and lose precision in a JS double anyway)
  *   - float:    `^[+-]?(?:[0-9]+\.?[0-9]*|\.[0-9]+)(?:[eE][+-]?[0-9]+)?`
  *   - epoch-ms: `^[0-9]+`, at most 15 digits (JS `Date` rejects
  *               |ms| > 8.64e15)
  * Only ASCII '0'..'9' is a digit, as in the regexes.
  */
object HfpCasts {

  /** string cast: empty → NULL (transformHfpItem.ts:58-64). */
  def castString(c: Column): Column =
    when(c.isNull || c === "", lit(null).cast(StringType)).otherwise(c)

  /** int cast, K2-netted: parseInt; no-parse → NULL; 0 → NULL;
    * more than 18 digits → NULL.
    */
  def castInt(c: Column): Column = jsPrefix(c, "int")

  /** float cast, K2-netted: parseFloat; no-parse → NULL; 0.0 → NULL. */
  def castFloat(c: Column): Column = jsPrefix(c, "float")

  /** boolean cast, K2-netted: non-empty → true, else NULL. */
  def castBool(c: Column): Column =
    when(c.isNotNull && c =!= "", lit(true)).otherwise(lit(null).cast(BooleanType))

  /** isodate cast: dual ISO / epoch-ms parse → TimestampType (UTC).
    * Strings containing '-' take the ISO path (reference checks
    * `includes('-')`); everything else is `parseInt`ed as epoch-ms
    * (empty, no digits or more than 15 digits → NULL).
    */
  def castTimestamp(c: Column): Column =
    when(c.contains("-"), try_to_timestamp(c)).otherwise(jsPrefix(c, "epochms"))

  /** date cast: same dual parse, truncated to DateType. */
  def castDate(c: Column): Column = castTimestamp(c).cast(DateType)

  private def jsPrefix(c: Column, kind: String): Column =
    Bridge.column(JsPrefixCast(Bridge.expression(c), kind))
}

/** One JS-prefix cast of a string: `kind` is "int" (LongType), "float"
  * (DoubleType) or "epochms" (TimestampType). A value with no prefix,
  * and an int or float prefix that parses to 0, is NULL (the K2
  * netting).
  */
case class JsPrefixCast(child: Expression, kind: String) extends UnaryExpression {
  require(JsPrefix.kinds.contains(kind), s"unknown JS-prefix kind '$kind'")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"$prettyName expects string, got $other")
  }
  override def dataType: DataType = JsPrefix.kinds(kind)._1
  override def nullable: Boolean = true
  override def prettyName: String = s"graft_js_$kind"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    kind match {
      case "int" => val v = JsPrefix.parseInt(s); if (v == 0L) null else v
      case "float" => val v = JsPrefix.parseFloat(s); if (v == 0.0) null else v
      case _ => val v = JsPrefix.epochMicros(s); if (v < 0L) null else v
    }
  }

  // Static call into the TOP-LEVEL JsPrefix object: a nested object has
  // no Java-visible static method, so Janino fails and the whole
  // projection silently runs interpreted (see Hash64Prefix).
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (_, scan, nullTest) = JsPrefix.kinds(kind)
    nullSafeCodeGen(ctx, ev, s =>
      s"""${ev.value} = graft.functions.JsPrefix.$scan($s);
         |${ev.isNull} = ${ev.value} $nullTest;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The byte scanners behind [[JsPrefixCast]], shared by its eval and its
  * generated code. Each returns a sentinel where the cast yields NULL.
  * Multi-byte UTF-8 sequences contain no ASCII bytes, so a byte scan
  * sees exactly the characters the regex grammar sees.
  */
object JsPrefix {

  /** kind → (result type, scanner, Java test of the NULL sentinel). */
  private[functions] val kinds: Map[String, (DataType, String, String)] = Map(
    "int" -> ((LongType, "parseInt", "== 0L")),
    "float" -> ((DoubleType, "parseFloat", "== 0.0")),
    "epochms" -> ((TimestampType, "epochMicros", "< 0L")))

  private def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'

  /** `parseInt` of the `[+-]?[0-9]+` prefix; 0 when there is none or it
    * has more than 18 digits.
    */
  def parseInt(s: UTF8String): Long = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var i = 0
    var neg = false
    if (n > 0) {
      val b = Platform.getByte(base, off)
      if (b == '+' || b == '-') { neg = b == '-'; i = 1 }
    }
    val start = i
    var v = 0L
    while (i < n && isDigit(Platform.getByte(base, off + i))) {
      if (i - start == 18) return 0L
      v = v * 10 + (Platform.getByte(base, off + i) - '0')
      i += 1
    }
    if (neg) -v else v
  }

  /** `parseFloat` of the decimal/exponent literal prefix; 0.0 when
    * there is none.
    */
  def parseFloat(s: UTF8String): Double = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    def digitAt(i: Int) = i < n && isDigit(Platform.getByte(base, off + i))
    def byteAt(i: Int) = if (i < n) Platform.getByte(base, off + i) else 0.toByte
    var i = 0
    if (byteAt(0) == '+' || byteAt(0) == '-') i = 1
    if (digitAt(i)) {
      while (digitAt(i)) i += 1
      if (byteAt(i) == '.') { i += 1; while (digitAt(i)) i += 1 }
    } else if (byteAt(i) == '.' && digitAt(i + 1)) {
      i += 2
      while (digitAt(i)) i += 1
    } else return 0.0
    if (byteAt(i) == 'e' || byteAt(i) == 'E') {
      var j = i + 1
      if (byteAt(j) == '+' || byteAt(j) == '-') j += 1
      if (digitAt(j)) { while (digitAt(j)) j += 1; i = j }
    }
    val literal = new Array[Byte](i)
    Platform.copyMemory(base, off, literal, Platform.BYTE_ARRAY_OFFSET, i)
    java.lang.Double.parseDouble(new String(literal, StandardCharsets.ISO_8859_1))
  }

  /** Epoch microseconds of the `[0-9]+` epoch-ms prefix; -1 when there
    * is none or it has more than 15 digits.
    */
  def epochMicros(s: UTF8String): Long = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var i = 0
    var ms = 0L
    while (i < n && isDigit(Platform.getByte(base, off + i))) {
      if (i == 15) return -1L
      ms = ms * 10 + (Platform.getByte(base, off + i) - '0')
      i += 1
    }
    if (i == 0) -1L else ms * 1000L
  }
}
