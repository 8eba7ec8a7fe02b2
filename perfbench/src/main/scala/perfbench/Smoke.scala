package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, struct, to_json}

import graft.ops.Moderation
import graft.streaming.ModerationStream

/** The reference's golden 4-message fixture, through the same wire
  * path the workloads use (JSON encode -> decodeKafka -> pipeline ->
  * encodeKafka), checked against both the reference moderator and the
  * README's expected output. Runs before any workload timing; a
  * mismatch fails the run.
  */
object Smoke {
  def golden(spark: SparkSession, res: Result): Unit = {
    import spark.implicits._
    val src = spark.read.format("graft.sources.MessagesSource").load()
    val raw = src.select(col("sender").as("key"),
      to_json(struct(col("text"), col("receiver"))).as("value"))
    val words = Moderation.activeBanWords(
      ReferenceModerator.goldenWords.toDF("word", "value"), "word", "value")
    val blocked = ReferenceModerator.goldenBlocked.toSeq.toDF("bk")
    val got = ModerationStream.encodeKafka(
        Moderation.pipeline(ModerationStream.decodeKafka(raw), blocked, words))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    val ref = new ReferenceModerator(ReferenceModerator.goldenWords)
    val byReference = graft.sources.MessagesSource.golden.zipWithIndex.flatMap {
      case ((s, t, r), i) => ref.moderate(Gen.Msg(i, s, t, r), ReferenceModerator.goldenBlocked)
    }.sorted
    val readme = ReferenceModerator.goldenExpected
      .map { case (s, t, r) => (s, Gen.valueJson(t, r)) }.sorted
    require(byReference == readme, s"reference moderator golden mismatch: $byReference")
    require(got == readme, s"golden smoke check failed: got $got, expected $readme")
    res.say(s"golden smoke check passed (${got.size} of 4 messages emitted)")
  }
}
