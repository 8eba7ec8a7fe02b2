package graft

import org.apache.spark.sql.Observation
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.ops.Moderation
import graft.ops.Moderation.Message

/** P1 (peek -> observe), streaming dedup, and codegen coverage. */
class ObserveSpec extends SparkSpec {
  import spark.implicits._

  test("pipelineObserved reports in/out/censored counts (P1 peek parity)") {
    val in = Observation("mod_in")
    val out = Observation("mod_out")
    val blocked = Seq("login1:login2", "login1:login3", "login2:login4").toDF("bk")
    val df = Moderation.pipelineObserved(
      Seq(
        Message("login4", "Java", "login1"),
        Message("login2", "Spring", "login1"),
        Message("login3", "1С", "login1"),
        Message("login5", "Политика React", "login1")).toDF(),
      blocked, Seq("Политика", "1C", "Алкоголь"), in, out)
    df.write.format("noop").mode("overwrite").save()
    assert(in.get("n_in") === 4L)
    assert(out.get("n_out") === 2L)
    assert(out.get("n_censored") === 1L) // only login5's text got masked
  }

  test("streaming dropDuplicates with watermark dedups across batches") {
    implicit val ctx = spark.sqlContext
    case class E(event_id: Long, ts: java.sql.Timestamp)
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val deduped = mem.toDF().toDF("event_id", "ts")
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      val t = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
      mem.addData((1L, t), (2L, t), (1L, t)) // dup within batch
      q.processAllAvailable()
      mem.addData((2L, t), (3L, t)) // dup across batches
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").select("event_id")
        .as[Long].collect().sorted
      assert(ids === Array(1L, 2L, 3L))
    } finally q.stop()
  }

  test("CensorText participates in whole-stage codegen") {
    // must read a non-local source: projections over LocalRelation are
    // evaluated at optimization time (ConvertToLocalRelation)
    val df = Tables.load(spark, sf0001, "documents")
      .select(Moderation.censorFold(col("text"), Seq("spark")).as("t"))
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" is the WholeStageCodegen marker in stringified plans —
    // the censor Project must carry it (no CodegenFallback inserted)
    assert(plan.linesIterator.exists(l =>
      l.contains("censor_text") && l.trim.startsWith("*(")),
      s"censor project not codegen'd:\n$plan")
    assert(df.filter(col("t").contains("*****")).count() > 0)
  }
}
