package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BoundReference, Expression,
  GenericInternalRow, JsonToStructs, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codec of the wire message `{text, receiver}` (Message.java:3,
  * serialized by one Jackson serde in MessageSerdes.java, SURVEY F1/F2):
  * [[Decode]] parses a Kafka value, [[Encode]] writes one. Both
  * implement `doGenCode` and call one kernel, so the decode projection
  * and the blocked-pair probe filter stay in whole-stage codegen.
  *
  * The results are Spark's `from_json`/`to_json` results, by
  * construction:
  *  - the decoder scans the UTF-8 bytes once and accepts only inputs
  *    whose `from_json` result is unambiguous: optional JSON whitespace
  *    around one object and nothing after its `}`; keys `"text"` and
  *    `"receiver"` only, each at most once, spelled without escapes;
  *    values `null` or strings of valid UTF-8 with the standard escapes
  *    and no surrogate `\u` escape; at most [[MaxFastBytes]] bytes.
  *    Every other input goes to Spark's own `JsonToStructs` (PERMISSIVE,
  *    or FAILFAST for the strict form), so malformed-row nulls and
  *    strict-mode errors are Spark's;
  *  - the encoder writes `{"text":…,"receiver":…}` with Jackson's
  *    default escaping (`\"`, `\\`, `\b \t \n \f \r`, other control
  *    characters as upper-case `\u00XX`, everything else verbatim) and
  *    omits null fields, as `to_json(struct(text, receiver))` does under
  *    the default `spark.sql.jsonGenerator.ignoreNullFields`. Invalid
  *    UTF-8 takes `to_json`'s route through `UTF8String.toString`.
  *
  * MessageJsonProps checks both against `from_json`/`to_json`.
  */
object MessageJson {

  /** Message.java:3 — {text, receiver}. */
  val schema: StructType = StructType(Seq(
    StructField("text", StringType, nullable = true),
    StructField("receiver", StringType, nullable = true)))

  /** Inputs longer than this go to the fallback. Kafka's default
    * message limit is about 1 MB, and the bound keeps every fast-path
    * string far below Jackson's read limit (Spark's default
    * `maxStringLen`, 20 000 000 chars).
    */
  val MaxFastBytes: Int = 1 << 20

  /** Column-API entry point: the message struct of a Kafka `value`
    * (string or binary, cast to string). `failFast` makes input that
    * is not a JSON object of the schema throw, as `from_json`'s
    * FAILFAST mode does.
    */
  def decode(value: Column, failFast: Boolean = false): Column =
    GraftSqlBridge.column(Decode(GraftSqlBridge.expression(value.cast(StringType)), failFast))

  /** Column-API entry point: the JSON value of a message; both sides
    * are cast to string.
    */
  def encode(text: Column, receiver: Column): Column =
    GraftSqlBridge.column(Encode(
      GraftSqlBridge.expression(text.cast(StringType)),
      GraftSqlBridge.expression(receiver.cast(StringType))))

  /** JSON string -> `struct<text, receiver>`; null stays null. */
  case class Decode(child: Expression, failFast: Boolean) extends UnaryExpression {

    override def dataType: DataType = schema
    // the fallback returns null for an empty or blank value
    override def nullable: Boolean = true
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "decode_message"

    @transient private lazy val decoder = new Decoder(failFast)

    override protected def nullSafeEval(input: Any): Any =
      decoder(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("messageDecoder", decoder, classOf[Decoder].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"""${ev.value} = $ref.apply($c);
           |${ev.isNull} = ${ev.value} == null;""".stripMargin)
    }

    override protected def withNewChildInternal(newChild: Expression): Decode =
      copy(child = newChild)
  }

  /** (text, receiver) -> JSON string; never null (`{}` when both are). */
  case class Encode(text: Expression, receiver: Expression) extends BinaryExpression {

    override def left: Expression = text
    override def right: Expression = receiver
    override def dataType: DataType = StringType
    override def nullable: Boolean = false
    override def prettyName: String = "encode_message"

    override def eval(input: InternalRow): Any =
      write(text.eval(input).asInstanceOf[UTF8String],
        receiver.eval(input).asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val t = text.genCode(ctx)
      val r = receiver.genCode(ctx)
      ev.copy(code = code"""
        |${t.code}
        |${r.code}
        |UTF8String ${ev.value} = graft.functions.MessageJson.write(
        |  ${t.isNull} ? null : ${t.value}, ${r.isNull} ? null : ${r.value});
        """.stripMargin, isNull = FalseLiteral)
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Encode =
      copy(text = newLeft, receiver = newRight)
  }

  /** The decode kernel; called from both interpreted eval and generated
    * code. The fallback is Spark's `from_json` expression over the same
    * schema and mode.
    */
  final class Decoder(failFast: Boolean) extends Serializable {
    @transient private lazy val fallback = JsonToStructs(schema,
      if (failFast) Map("mode" -> "FAILFAST") else Map.empty[String, String],
      BoundReference(0, StringType, nullable = true), Some("UTC"))

    def apply(value: UTF8String): InternalRow = {
      val row = scan(value)
      if (row != null) row
      else fallback.eval(new GenericInternalRow(Array[Any](value))).asInstanceOf[InternalRow]
    }
  }

  /** The fast path alone: the decoded row, or null when `value` is
    * outside the accepted subset.
    */
  def scan(value: UTF8String): InternalRow =
    if (value.numBytes > MaxFastBytes) null else new Scanner(value).message()

  /** One pass over the bytes of one value; `pos` is the next byte. */
  private final class Scanner(v: UTF8String) {
    private val n = v.numBytes
    private var pos = 0

    def message(): InternalRow = {
      skipSpace()
      if (!eat('{')) return null
      skipSpace()
      var text: UTF8String = null
      var receiver: UTF8String = null
      var seen = 0 // bit 1: text, bit 2: receiver
      if (!eat('}')) {
        var more = true
        while (more) {
          val field = key()
          if (field == 0 || (seen & field) != 0) return null
          seen |= field
          skipSpace()
          if (!eat(':')) return null
          skipSpace()
          val value =
            if (eat('"')) { val s = string(); if (s == null) return null; s }
            else if (word("null")) null
            else return null
          if (field == 1) text = value else receiver = value
          skipSpace()
          if (eat('}')) more = false
          else if (!eat(',')) return null
          else skipSpace()
        }
      }
      skipSpace()
      if (pos != n) return null
      new GenericInternalRow(Array[Any](text, receiver))
    }

    private def at(i: Int): Int = v.getByte(i) & 0xff

    private def skipSpace(): Unit =
      while (pos < n && isSpace(at(pos))) pos += 1

    private def eat(c: Char): Boolean =
      if (pos < n && at(pos) == c) { pos += 1; true } else false

    private def word(w: String): Boolean = {
      if (n - pos < w.length) return false
      var i = 0
      while (i < w.length) {
        if (at(pos + i) != w.charAt(i)) return false
        i += 1
      }
      pos += w.length
      true
    }

    /** 1 for `"text"`, 2 for `"receiver"`, 0 for any other key. */
    private def key(): Int =
      if (!eat('"')) 0
      else if (word("text\"")) 1
      else if (word("receiver\"")) 2
      else 0

    /** The string after its opening quote, or null when it is outside
      * the subset. Unescaped strings are one copy of their bytes; at the
      * first escape the bytes so far move to a buffer that escapes only
      * shrink.
      */
    private def string(): UTF8String = {
      val start = pos
      var out: Array[Byte] = null
      var len = 0
      while (pos < n) {
        val b = at(pos)
        if (b == '"') {
          pos += 1
          return if (out == null) v.copyUTF8String(start, pos - 2)
            else UTF8String.fromBytes(out, 0, len)
        } else if (b == '\\') {
          if (out == null) {
            out = new Array[Byte](n - start)
            while (len < pos - start) { out(len) = v.getByte(start + len); len += 1 }
          }
          if (pos + 1 >= n) return null
          val e = at(pos + 1)
          if (e == 'u') {
            val cp = hex4(pos + 2)
            if (cp < 0 || (cp >= 0xd800 && cp <= 0xdfff)) return null
            len = putUtf8(out, len, cp)
            pos += 6
          } else if (e < 0x80 && Unescape(e) != 0) {
            out(len) = Unescape(e)
            len += 1
            pos += 2
          } else return null
        } else if (b < 0x20) return null
        else {
          val w = utf8Width(v, pos)
          if (w == 0) return null
          if (out != null) {
            var k = 0
            while (k < w) { out(len) = v.getByte(pos + k); len += 1; k += 1 }
          }
          pos += w
        }
      }
      null
    }

    /** The four hex digits at `i` as a code unit, or -1. */
    private def hex4(i: Int): Int = {
      if (n - i < 4) return -1
      var cp = 0
      var k = 0
      while (k < 4) {
        val c = at(i + k)
        val d =
          if (c >= '0' && c <= '9') c - '0'
          else if (c >= 'a' && c <= 'f') c - 'a' + 10
          else if (c >= 'A' && c <= 'F') c - 'A' + 10
          else return -1
        cp = cp * 16 + d
        k += 1
      }
      cp
    }
  }

  /** UTF-8 bytes of a BMP, non-surrogate code point; the new length. */
  private def putUtf8(out: Array[Byte], at: Int, cp: Int): Int =
    if (cp < 0x80) { out(at) = cp.toByte; at + 1 }
    else if (cp < 0x800) {
      out(at) = (0xc0 | cp >> 6).toByte
      out(at + 1) = (0x80 | cp & 0x3f).toByte
      at + 2
    } else {
      out(at) = (0xe0 | cp >> 12).toByte
      out(at + 1) = (0x80 | cp >> 6 & 0x3f).toByte
      out(at + 2) = (0x80 | cp & 0x3f).toByte
      at + 3
    }

  /** Length of the well-formed UTF-8 sequence at byte `i` of `s`, or 0
    * when there is none (Unicode Table 3-7: no overlong forms, no
    * surrogates, nothing above U+10FFFF). Java's UTF-8 decoder accepts
    * exactly these sequences.
    */
  private def utf8Width(s: UTF8String, i: Int): Int = {
    val b0 = s.getByte(i) & 0xff
    if (b0 < 0x80) return 1
    val w =
      if (b0 >= 0xc2 && b0 <= 0xdf) 2
      else if (b0 >= 0xe0 && b0 <= 0xef) 3
      else if (b0 >= 0xf0 && b0 <= 0xf4) 4
      else return 0
    if (s.numBytes - i < w) return 0
    val lo = if (b0 == 0xe0) 0xa0 else if (b0 == 0xf0) 0x90 else 0x80
    val hi = if (b0 == 0xed) 0x9f else if (b0 == 0xf4) 0x8f else 0xbf
    val b1 = s.getByte(i + 1) & 0xff
    if (b1 < lo || b1 > hi) return 0
    var k = 2
    while (k < w) {
      if ((s.getByte(i + k) & 0xc0) != 0x80) return 0
      k += 1
    }
    w
  }

  private val TextKey = "\"text\":".getBytes(UTF_8)
  private val ReceiverKey = "\"receiver\":".getBytes(UTF_8)
  private val Hex = "0123456789ABCDEF".getBytes(UTF_8)

  /** Jackson's short escapes for control characters; 0 means `\u00XX`. */
  private val ShortEscape: Array[Byte] = table(0x20, "\bb\tt\nn\ff\rr")

  /** The character of each one-letter JSON escape; 0 for none. */
  private val Unescape: Array[Byte] = table(0x80, "\"\"\\\\//b\bf\fn\nr\rt\t")

  /** An array of `size` with `a(pairs(2k)) = pairs(2k + 1)`. */
  private def table(size: Int, pairs: String): Array[Byte] = {
    val a = new Array[Byte](size)
    pairs.grouped(2).foreach(p => a(p(0)) = p(1).toByte)
    a
  }

  private def isSpace(b: Int): Boolean = b == ' ' || b == '\t' || b == '\n' || b == '\r'

  /** The encode kernel: `to_json(struct(text, receiver))`'s bytes. */
  def write(text: UTF8String, receiver: UTF8String): UTF8String = {
    val t = wellFormed(text)
    val r = wellFormed(receiver)
    var size = 2
    if (t != null) size += TextKey.length + quotedLength(t)
    if (r != null) size += ReceiverKey.length + quotedLength(r)
    if (t != null && r != null) size += 1
    val out = new Array[Byte](size)
    out(0) = '{'.toByte
    var p = 1
    if (t != null) p = quote(out, put(out, p, TextKey), t)
    if (t != null && r != null) { out(p) = ','.toByte; p += 1 }
    if (r != null) p = quote(out, put(out, p, ReceiverKey), r)
    out(p) = '}'.toByte
    UTF8String.fromBytes(out)
  }

  /** `s`, or its `toString` re-encoded (malformed bytes become U+FFFD)
    * when `s` is not valid UTF-8, as Spark's JSON generator sees it.
    */
  private def wellFormed(s: UTF8String): UTF8String = {
    if (s == null) return s
    var i = 0
    while (i < s.numBytes) {
      val w = utf8Width(s, i)
      if (w == 0) return UTF8String.fromString(s.toString)
      i += w
    }
    s
  }

  private def quotedLength(s: UTF8String): Int = {
    var size = 2
    var i = 0
    while (i < s.numBytes) {
      val b = s.getByte(i) & 0xff
      size +=
        (if (b == '"' || b == '\\') 2
        else if (b < 0x20) (if (ShortEscape(b) != 0) 2 else 6)
        else 1)
      i += 1
    }
    size
  }

  private def put(out: Array[Byte], at: Int, bytes: Array[Byte]): Int = {
    System.arraycopy(bytes, 0, out, at, bytes.length)
    at + bytes.length
  }

  private def quote(out: Array[Byte], at: Int, s: UTF8String): Int = {
    var p = at
    out(p) = '"'.toByte
    p += 1
    var i = 0
    while (i < s.numBytes) {
      val b = s.getByte(i)
      val u = b & 0xff
      if (u == '"' || u == '\\') {
        out(p) = '\\'.toByte; out(p + 1) = b; p += 2
      } else if (u < 0x20) {
        out(p) = '\\'.toByte
        if (ShortEscape(u) != 0) { out(p + 1) = ShortEscape(u); p += 2 }
        else {
          out(p + 1) = 'u'.toByte; out(p + 2) = '0'.toByte; out(p + 3) = '0'.toByte
          out(p + 4) = Hex(u >> 4); out(p + 5) = Hex(u & 0xf)
          p += 6
        }
      } else { out(p) = b; p += 1 }
      i += 1
    }
    out(p) = '"'.toByte
    p + 1
  }
}
