package graft

import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._

import graft.functions.CensorText
import graft.plans.RewriteNullProbeAsAntiJoin

/** Catalyst extension surface: the null-probe -> anti-join optimizer
  * rule and the censor_text SQL function registration.
  */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("RewriteNullProbeAsAntiJoin turns left_outer + IS NULL into LeftAnti") {
    val s = spark.newSession()
    s.experimental.extraOptimizations = Seq(RewriteNullProbeAsAntiJoin)
    import s.implicits._
    val msgs = Seq(("a", "x"), ("b", "y"), ("c", "x")).toDF("id", "k")
    val dim = Seq("x").toDF("bk")
    val probed = msgs.join(dim, msgs("k") === dim("bk"), "left_outer")
      .filter(col("bk").isNull)
      .select("id", "k")
    val joins = probed.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.nonEmpty)
    assert(joins.head.joinType.sql === "LEFT ANTI",
      s"expected LeftAnti, got ${joins.head.joinType}\n${probed.queryExecution.optimizedPlan}")
    // semantics preserved
    assert(probed.as[(String, String)].collect().sorted === Array(("b", "y")))
  }

  test("rule does NOT fire when the projection uses right-side columns") {
    val s = spark.newSession()
    s.experimental.extraOptimizations = Seq(RewriteNullProbeAsAntiJoin)
    import s.implicits._
    val msgs = Seq(("a", "x"), ("b", "y")).toDF("id", "k")
    val dim = Seq(("x", 1)).toDF("bk", "v")
    val probed = msgs.join(dim, msgs("k") === dim("bk"), "left_outer")
      .filter(col("bk").isNull)
      .select(col("id"), col("v")) // right-side column survives the filter
    val joins = probed.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.forall(_.joinType.sql != "LEFT ANTI"))
    assert(probed.collect().map(r => (r.getString(0), r.isNullAt(1))).toSeq
      === Seq(("b", true)))
  }

  test("rule does NOT fire when IS NULL targets a non-key right column") {
    val s = spark.newSession()
    s.experimental.extraOptimizations = Seq(RewriteNullProbeAsAntiJoin)
    import s.implicits._
    val msgs = Seq(("a", "x"), ("b", "y")).toDF("id", "k")
    val dim = Seq(("x", null.asInstanceOf[String])).toDF("bk", "note")
    // matched row CAN have note NULL -> not an anti join
    val probed = msgs.join(dim, msgs("k") === dim("bk"), "left_outer")
      .filter(col("note").isNull)
      .select("id")
    val joins = probed.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.forall(_.joinType.sql != "LEFT ANTI"))
    // both rows survive: 'a' matches a null note, 'b' is unmatched
    assert(probed.as[String].collect().sorted === Array("a", "b"))
  }

  test("censor_text is callable from SQL after registration") {
    CensorText.register(spark)
    Seq(("I like spark and Spark", 1)).toDF("text", "i")
      .createOrReplaceTempView("ct_in")
    val out = spark.sql(
      "SELECT censor_text(text, 'spark', 'java') AS t FROM ct_in")
      .as[String].head()
    assert(out === "I like ***** and *****")
    // words fold in argument order: "b" masks first, leaving no "ab"
    assert(spark.sql("SELECT censor_text('ab', 'b', 'ab') AS t").as[String].head() === "a*")
  }
}
