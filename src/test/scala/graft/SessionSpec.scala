package graft

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The test session runs the shipped settings: every key/value that
  * [[Session.configure]] puts on a builder is what [[SparkSpec.spark]]
  * reports, so a test cannot pass on a plan that Bench or Verify would
  * not build.
  */
class SessionSpec extends SparkSpec {

  /** The key/values a builder holds (its `options`, protected in the
    * Scala API but a public method in bytecode); no session is built.
    */
  private def settings(b: SparkSession.Builder): Map[String, String] =
    b.getClass.getMethod("options").invoke(b)
      .asInstanceOf[mutable.Map[String, String]].toMap

  test("the test session reports every setting configure makes") {
    val set = settings(Session.configure(SparkSession.builder()))
    assert(set.nonEmpty)
    set.foreach { case (k, v) => assert(spark.conf.get(k) === v, k) }
  }

  test("configure twice sets what configure once does") {
    val once = settings(Session.configure(SparkSession.builder()))
    assert(settings(Session.configure(Session.configure(SparkSession.builder()))) === once)
  }
}
