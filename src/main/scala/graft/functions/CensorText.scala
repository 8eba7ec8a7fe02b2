package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.{Column, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the reference's censor fold.
  *
  * The reference censors by running, for each forbidden word in order,
  * `replaceAll("(?i)" + Pattern.quote(word), "*" * word.length)` over
  * the already-rewritten string (MessageFilterProcessor.java:38-41).
  * This expression computes exactly that fold, in the word order it is
  * given — the order matters when words overlap (["b", "ab"] on "ab"
  * gives "a*"). Each word's pattern and mask are compiled once per
  * expression and shipped to generated code as one reference object.
  *
  * A word is skipped when the ASCII-lowered current text does not
  * contain the ASCII-lowered word. The skip is exact: `(?i)` without
  * UNICODE_CASE folds ASCII letters only, so a word can match only
  * where that substring test succeeds. Most words miss most texts, so
  * the regex runs only on real hits.
  *
  * One expression whatever the vocabulary size: a fold of one built-in
  * `regexp_replace` per word outgrows the 64 KB JVM method limit at a
  * few hundred words and drops the whole stage to interpreted mode.
  * Null-intolerant (null text stays null) and whole-stage-codegen
  * friendly (implements `doGenCode`, no CodegenFallback).
  */
case class CensorText(child: Expression, words: Seq[String])
    extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "censor_text"

  @transient private lazy val censor = new CensorText.Fold(words)

  override protected def nullSafeEval(input: Any): Any =
    censor.apply(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("censor", censor, classOf[CensorText.Fold].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.apply($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): CensorText =
    copy(child = newChild)
}

object CensorText {

  /** Column-API entry point: `censor_text(col, words)`. */
  def apply(text: Column, words: Seq[String]): Column =
    GraftSqlBridge.column(CensorText(GraftSqlBridge.expression(text), words))

  /** The compiled fold; called from both interpreted eval and generated
    * code.
    */
  final class Fold(words: Seq[String]) extends Serializable {
    private val patterns = words.map(w => Pattern.compile("(?i)" + Pattern.quote(w))).toArray
    private val masks = words.map("*" * _.length).toArray
    private val lowered = words.map(asciiLower).toArray

    def apply(s: String): String = {
      var cur = s
      var low = asciiLower(s)
      var i = 0
      while (i < patterns.length) {
        if (low.contains(lowered(i))) {
          cur = patterns(i).matcher(cur).replaceAll(masks(i))
          low = asciiLower(cur)
        }
        i += 1
      }
      cur
    }

    /** Returns the input itself when no word matches (no re-encoding). */
    def apply(s: UTF8String): UTF8String = {
      val in = s.toString
      val out = apply(in)
      if (out eq in) s else UTF8String.fromString(out)
    }
  }

  /** ASCII-only lower-casing, the case folding of `(?i)` without
    * UNICODE_CASE; returns `s` itself when it has no upper-case ASCII.
    */
  def asciiLower(s: String): String = {
    var i = 0
    while (i < s.length && !(s.charAt(i) >= 'A' && s.charAt(i) <= 'Z')) i += 1
    if (i == s.length) s
    else {
      val cs = s.toCharArray
      while (i < cs.length) {
        val c = cs(i)
        if (c >= 'A' && c <= 'Z') cs(i) = (c + 32).toChar
        i += 1
      }
      new String(cs)
    }
  }

  /** Register as SQL function `censor_text(text, word1, word2, ...)`:
    * folds the words in argument order (word args must be string
    * literals).
    */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "censor_text",
      (exprs: Seq[Expression]) => CensorText(
        exprs.head,
        exprs.tail.map(_.eval(null).asInstanceOf[UTF8String].toString)),
      "built-in")
}
