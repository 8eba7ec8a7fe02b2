package graft

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.Try

import org.apache.spark.sql.{Column, GraftSqlBridge, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, BindReferences,
  Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.functions.{col, from_json, struct, to_json}
import org.apache.spark.sql.types.{BinaryType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAllNoShrink, propBoolean}

import graft.functions.MessageJson
import graft.streaming.ModerationStream

/** Property-based checks (ScalaCheck) of the native wire codec
  * [[MessageJson]] against Spark's own `from_json`/`to_json`.
  *
  * The oracles are the expressions Spark's analyzer builds for
  * `from_json(value, schema[, FAILFAST])` and
  * `to_json(struct(text, receiver))`; the codec is evaluated both
  * interpreted (`eval`) and through its generated code (an
  * `UnsafeProjection` compiled from `doGenCode`), with the value column
  * typed string and binary (as `fromKafka` delivers it). Decode inputs
  * mix the fast path's subset with inputs just outside it, so both the
  * scan and the fallback are compared. One property also runs
  * `decodeKafka` as a whole-stage-codegen'd Spark job.
  */
object MessageJsonProps extends Properties("message_json") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(50)

  private lazy val spark = SparkSpec.spark

  private def attr(name: String, t: DataType) = AttributeReference(name, t)()

  /** `cols` over the columns `attrs`, as Spark's analyzer resolves them,
    * with runtime-replaceable expressions replaced and bound to the
    * input row.
    */
  private def resolve(attrs: Seq[AttributeReference], cols: Column*): Seq[Expression] = {
    val df = GraftSqlBridge.ofRows(spark, LocalRelation(attrs)).select(cols: _*)
    ReplaceExpressions(df.queryExecution.analyzed).asInstanceOf[Project].projectList.map {
      case a: Alias => BindReferences.bindReference(a.child, attrs)
      case e => BindReferences.bindReference(e: Expression, attrs)
    }
  }

  /** An expression's value two ways: interpreted and generated. */
  private final class Both(e: Expression) {
    private val projection = GenerateUnsafeProjection.generate(Seq(e))
    def eval(in: InternalRow): Any = e.eval(in)
    def generated(in: InternalRow): Any = {
      val out = projection(in)
      if (out.isNullAt(0)) null
      else e.dataType match {
        case s: StructType => out.getStruct(0, s.size)
        case _ => out.getUTF8String(0)
      }
    }
  }

  private val strict = Map("mode" -> "FAILFAST")

  /** Decode forms over a value column of type `t`: the oracle and the
    * codec, lenient then strict.
    */
  private final class DecodeForms(t: DataType) {
    val Seq(reference, referenceStrict, lenient, failFast) = resolve(Seq(attr("value", t)),
      from_json(col("value").cast(StringType), MessageJson.schema),
      from_json(col("value").cast(StringType), MessageJson.schema, strict),
      MessageJson.decode(col("value")),
      MessageJson.decode(col("value"), failFast = true))
    val codec = new Both(lenient)
    val codecStrict = new Both(failFast)
    def row(bytes: Array[Byte]): InternalRow = new GenericInternalRow(Array[Any](
      if (bytes == null) null
      else if (t == BinaryType) bytes
      else UTF8String.fromBytes(bytes)))
  }

  private lazy val decodeForms = Seq(new DecodeForms(StringType), new DecodeForms(BinaryType))

  private def sameMessage(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: InternalRow, y: InternalRow) => (0 until 2).forall(i =>
      x.isNullAt(i) == y.isNullAt(i) &&
        (x.isNullAt(i) || x.getUTF8String(i) == y.getUTF8String(i)))
    case _ => false
  }

  private def show(bytes: Array[Byte]): String =
    if (bytes == null) "null"
    else bytes.map(b => if (b >= 0x20 && b < 0x7f) b.toChar.toString else f"\\x$b%02x").mkString

  // --- decode inputs ------------------------------------------------

  /** Code points a message string holds: quotes, backslashes, every
    * control character, non-ASCII, 4-byte characters, noncharacters.
    */
  private val genCodePoint: Gen[Int] = Gen.frequency(
    8 -> Gen.alphaNumChar.map(_.toInt),
    2 -> Gen.oneOf[Int](' ', '"', '\\', '/', '\'', '{', '}', ',', ':', 0x7f),
    2 -> Gen.choose(0, 0x1f),
    2 -> Gen.oneOf(0xe9, 0x85, 0x2028, 0xfeff, 0xfffd, 0xffff, 0x65e5),
    1 -> Gen.oneOf(0x1f642, 0x1d11e, 0x10ffff))

  private def hex(cp: Int, upper: Boolean): String =
    if (upper) f"\\u$cp%04X" else f"\\u$cp%04x"

  /** One code point as JSON may spell it inside a string; an escaped
    * surrogate pair is outside the fast subset.
    */
  private def spell(cp: Int): Gen[String] = {
    val escaped = Gen.oneOf(hex(cp, upper = false), hex(cp, upper = true))
    val short = Map('"'.toInt -> "\\\"", '\\'.toInt -> "\\\\", '\b'.toInt -> "\\b",
      '\f'.toInt -> "\\f", '\n'.toInt -> "\\n", '\r'.toInt -> "\\r", '\t'.toInt -> "\\t")
    if (short.contains(cp)) Gen.oneOf(Gen.const(short(cp)), escaped)
    else if (cp < 0x20) escaped
    else if (cp == '/') Gen.oneOf("/", "\\/")
    else if (cp > 0xffff) Gen.frequency(9 -> Gen.const(new String(Character.toChars(cp))),
      1 -> Gen.const(new String(Character.toChars(cp)).map(c => hex(c.toInt, upper = false)).mkString))
    else Gen.frequency(3 -> Gen.const(new String(Character.toChars(cp))), 1 -> escaped)
  }

  private val genString: Gen[String] =
    Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, genCodePoint.flatMap(spell)))
      .map(_.mkString("\"", "", "\""))

  private val genValue: Gen[String] = Gen.frequency(1 -> Gen.const("null"), 5 -> genString)

  private val genSpace: Gen[String] = Gen.frequency(
    6 -> Gen.const(""),
    1 -> Gen.choose(1, 3).flatMap(Gen.listOfN(_, Gen.oneOf(" ", "\t", "\n", "\r")).map(_.mkString)))

  /** An object of the fast subset: each key at most once, any order,
    * JSON whitespace anywhere it may go.
    */
  private val genObject: Gen[String] = for {
    keys <- Gen.oneOf(Seq(Nil, Seq("text"), Seq("receiver"), Seq("text", "receiver"),
      Seq("receiver", "text")))
    values <- Gen.listOfN(keys.size, genValue)
    sp <- Gen.listOfN(4 * keys.size + 3, genSpace)
  } yield {
    val fields = keys.zip(values).zipWithIndex.map { case ((k, v), i) =>
      s"""${sp(4 * i)}"$k"${sp(4 * i + 1)}:${sp(4 * i + 2)}$v${sp(4 * i + 3)}"""
    }
    val n = 4 * keys.size
    s"${sp(n)}{${fields.mkString(",")}${sp(n + 1)}}${sp(n + 2)}"
  }

  private val invalidUtf8: Seq[Array[Byte]] = Seq(
    Array(0xff), Array(0x80), Array(0xc0, 0xaf), Array(0xc1, 0xbf), Array(0xe0, 0x80, 0xaf),
    Array(0xed, 0xa0, 0x80), Array(0xe2, 0x82), Array(0xf0, 0x9f, 0x99),
    Array(0xf4, 0x90, 0x80, 0x80), Array(0xf5, 0x80, 0x80, 0x80)).map(_.map(_.toByte))

  private def splice(b: Array[Byte], at: Int, ins: Array[Byte]): Array[Byte] =
    b.take(at) ++ ins ++ b.drop(at)

  private def bytes(s: String): Array[Byte] = s.getBytes(UTF_8)

  /** Inputs just outside the fast subset, most of them derived from one
    * of its objects.
    */
  private val genNearMiss: Gen[Array[Byte]] = genObject.flatMap { o =>
    val b = bytes(o)
    val at = Gen.choose(0, b.length)
    def field(k: String, v: String) = Gen.oneOf(
      s"""{"$k":$v,"receiver":"r"}""", s"""{"text":"t","$k":$v}""", s"""{"$k":$v}""").map(bytes)
    Gen.oneOf(
      Gen.const(bytes(o.replace('"', '\''))),
      Gen.zip(Gen.oneOf("text", "receiver"), Gen.oneOf("123", "-0.5e3", "true", "false", "{}",
        "{\"a\":\"b\"}", "[]", "[\"x\"]", "nul", "NaN", "\"a\" \"b\"", "'x'"))
        .flatMap { case (k, v) => field(k, v) },
      Gen.oneOf("extra", "Text", "RECEIVER", "text ", "te\\u0078t", "", "receiverx", "tex")
        .flatMap(k => field(k, "\"v\"")),
      Gen.oneOf("text", "receiver").flatMap(k => Gen.oneOf(
        s"""{"$k":"a","$k":"b"}""", s"""{"$k":null,"$k":"b"}""", s"""{"$k":"a","$k":null}""",
        s"""{"text":"t","receiver":"r","$k":"again"}""")).map(bytes),
      Gen.oneOf("\\ud83d\\ude00", "\\ud83d", "\\ude00", "\\ud83dx", "\\uD800\\uDC00",
        "\\ud83d\\u0041", "\\u0000", "\\x", "\\'", "\\U0041", "\\u00g1", "\\u12", "\\")
        .map(e => bytes(s"""{"text":"a${e}b","receiver":"r"}""")),
      Gen.zip(at, Gen.choose(0, 0x1f)).map { case (i, c) => splice(b, i, Array(c.toByte)) },
      Gen.zip(Gen.const(bytes("""{"text":"a""")), Gen.choose(0, 0x1f))
        .map { case (p, c) => p ++ Array(c.toByte) ++ bytes("\"}") },
      Gen.zip(at, Gen.oneOf(invalidUtf8)).map { case (i, x) => splice(b, i, x) },
      Gen.oneOf(invalidUtf8).map(x => bytes("""{"text":"a""") ++ x ++ bytes("\"}")),
      Gen.const(Array(0xef, 0xbb, 0xbf).map(_.toByte) ++ b),
      Gen.oneOf("x", "}", "{}", ",", " 1", "\u0000", "\n{}", "\u000b").map(g => bytes(o + g)),
      Gen.oneOf("", " ", "\n\t \r", "\u000b", "null", "\"text\"", "[]", "[{\"text\":\"a\"}]", "{",
        "}", "{}}", "{,}", "{\"text\":\"a\",}", "{\"text\" \"a\"}", "{\"text\":\"a\" \"receiver\":\"b\"}",
        "{\"text\":\"a\",,\"receiver\":\"b\"}", "{\"text\":{\"a\":\"b\"}}").map(bytes),
      at.map(b.take),
      Gen.zip(Gen.choose(0, math.max(0, b.length - 1)), Gen.choose(0, 255))
        .map { case (i, x) => if (b.isEmpty) b else b.updated(i, x.toByte) })
  }

  /** A Kafka value: a fast-subset object, a near miss, or null. */
  private val genInput: Gen[Array[Byte]] = Gen.frequency(
    5 -> genObject.map(bytes), 5 -> genNearMiss, 1 -> Gen.const(null: Array[Byte]))

  private val genInputs: Gen[List[Array[Byte]]] = Gen.listOfN(40, genInput)

  // --- decode properties --------------------------------------------

  property("generated inputs cover the fast path and the fallback") =
    forAllNoShrink(genInputs) { xs =>
      val fast = xs.count(x => x != null && MessageJson.scan(UTF8String.fromBytes(x)) != null)
      (fast >= 8 && fast <= 32) :| s"$fast of ${xs.size} on the fast path"
    }

  property("decode == from_json PERMISSIVE, field by field") =
    forAllNoShrink(genInputs) { xs =>
      Prop.all(xs.flatMap(x => decodeForms.map { f =>
        val in = f.row(x)
        val want = f.reference.eval(in)
        (sameMessage(f.codec.eval(in), want) && sameMessage(f.codec.generated(in), want)) :|
          s"${show(x)}: want $want, got ${f.codec.eval(in)} / ${f.codec.generated(in)}"
      }): _*)
    }

  property("strict decode == from_json FAILFAST: the same row, or both throw") =
    forAllNoShrink(genInputs) { xs =>
      Prop.all(xs.flatMap(x => decodeForms.map { f =>
        val in = f.row(x)
        val want = Try(f.referenceStrict.eval(in))
        val got = Seq(Try(f.codecStrict.eval(in)), Try(f.codecStrict.generated(in)))
        got.forall(g => g.isFailure == want.isFailure &&
          (want.isFailure || sameMessage(g.get, want.get))) :| s"${show(x)}: want $want, got $got"
      }): _*)
    }

  property("values past the fast path's length bound decode as from_json") = {
    val long = bytes("{\"text\":\"" + "é" * MessageJson.MaxFastBytes + "\",\"receiver\":\"r\"}")
    val f = decodeForms.head
    (MessageJson.scan(UTF8String.fromBytes(long)) == null &&
      sameMessage(f.codec.eval(f.row(long)), f.reference.eval(f.row(long)))) :| "over-long value"
  }

  property("decodeKafka over binary Kafka records == from_json, codegen'd") =
    forAllNoShrink(Gen.listOfN(200, genInput)) { xs =>
      val rows = xs.zipWithIndex.map { case (x, i) => Row(bytes(s"k$i"), x) }
      val raw = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), StructType(Seq(
        StructField("key", BinaryType), StructField("value", BinaryType))))
      def bySender(df: org.apache.spark.sql.DataFrame) =
        df.select(col("sender"), col("text").cast(BinaryType), col("receiver").cast(BinaryType))
          .collect().map(r => r.getString(0) ->
            Seq(r.getAs[Array[Byte]](1), r.getAs[Array[Byte]](2)).map(Option(_).map(_.toSeq)))
          .toMap
      val got = bySender(ModerationStream.decodeKafka(raw))
      val want = bySender(raw.select(col("key").cast(StringType).as("sender"),
          from_json(col("value").cast(StringType), MessageJson.schema).as("m"))
        .select(col("sender"), col("m.text").as("text"), col("m.receiver").as("receiver")))
      (got.size == xs.size && got == want) :| want.find(w => got.get(w._1) != Some(w._2)).toString
    }

  // --- encode -------------------------------------------------------

  private lazy val encodeForms = {
    val attrs = Seq(attr("text", StringType), attr("receiver", StringType))
    val Seq(ref, codec) = resolve(attrs,
      to_json(struct(col("text"), col("receiver"))), MessageJson.encode(col("text"), col("receiver")))
    (ref, new Both(codec))
  }

  /** Pieces of a string's bytes: every ASCII character (all control
    * characters, quote, backslash, DEL), non-ASCII, 4-byte characters
    * and malformed UTF-8.
    */
  private val genPiece: Gen[Array[Byte]] = Gen.frequency(
    4 -> Gen.alphaNumChar.map(c => Array(c.toByte)),
    3 -> Gen.choose(0, 0x7f).map(c => Array(c.toByte)),
    2 -> Gen.oneOf("é", "日本", "\u2028", "\ufeff", "\u0085", "\uffff", "🙂", "𝄞").map(bytes),
    1 -> Gen.oneOf(invalidUtf8))

  private val genField: Gen[Array[Byte]] = Gen.frequency(
    1 -> Gen.const(null: Array[Byte]),
    6 -> Gen.choose(0, 12).flatMap(Gen.listOfN(_, genPiece)).map(_.toArray.flatten))

  private def encodeAgrees(t: Array[Byte], r: Array[Byte]): Prop = {
    val (ref, codec) = encodeForms
    val in = new GenericInternalRow(Array[Any](
      Option(t).map(UTF8String.fromBytes).orNull, Option(r).map(UTF8String.fromBytes).orNull))
    val want = ref.eval(in)
    (codec.eval(in) == want && codec.generated(in) == want) :|
      s"(${show(t)}, ${show(r)}): want $want, got ${codec.eval(in)} / ${codec.generated(in)}"
  }

  property("encode == to_json(struct(text, receiver))") =
    forAllNoShrink(Gen.listOfN(40, Gen.zip(genField, genField))) { ps =>
      Prop.all(ps.map { case (t, r) => encodeAgrees(t, r) }: _*)
    }

  property("encode escapes every ASCII character as to_json") = {
    val all = (0 until 0x80).map(_.toByte).toArray
    Prop.all(encodeAgrees(all, null), encodeAgrees(null, all), encodeAgrees(all, all),
      encodeAgrees(null, null), encodeAgrees(Array.empty, Array.empty))
  }

  property("decode(encode(m)) == m for valid UTF-8") =
    forAllNoShrink(Gen.listOfN(40, Gen.zip(genField, genField))) { ps =>
      Prop.all(ps.map { case (t, r) =>
        val (vt, vr) = (Option(t).map(UTF8String.fromBytes).orNull, Option(r).map(UTF8String.fromBytes).orNull)
        val wire = MessageJson.write(vt, vr)
        val valid = Seq(vt, vr).forall(s => s == null || s.isValid)
        val back = MessageJson.scan(wire)
        (!valid || sameMessage(back, new GenericInternalRow(Array[Any](vt, vr)))) :|
          s"${wire}: $back"
      }: _*)
    }
}
