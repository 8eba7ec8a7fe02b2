package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Moderation
import graft.streaming.ModerationStream

/** The reference moderator and the program agree on generated inputs of
  * both moderation workloads, through the wire path the benchmark
  * drives (decode -> pipeline -> encode).
  */
class PipelineParitySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def parity(pop: Gen.Population, table: Seq[(String, String)], blocked: Array[String],
                     n: Int): Unit = {
    import spark.implicits._
    val ref = new ReferenceModerator(table)
    val msgs = (0L until n.toLong).map(pop.message)
    val input = msgs.map(m => (m.sender, Gen.inputJson(m))).toDF("key", "value")
    val words = Moderation.activeBanWords(table.toDF("word", "value"), "word", "value")
    assert(words == ref.banWords.toSeq)
    val got = ModerationStream.encodeKafka(Moderation.pipeline(
        ModerationStream.decodeKafka(input), blocked.toSeq.toDF("bk"), words, singlePass = true))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    val set = blocked.toSet
    val expected = msgs.flatMap(ref.moderate(_, set)).sorted
    assert(got.size == expected.size)
    assert(got == expected)
    assert(expected.size < n, "some messages are dropped")
    assert(expected.exists(_._2.contains("*")), "some messages are censored")
  }

  test("stream workload inputs: the program matches the reference moderator") {
    val pop = StreamWorkload.population(11L)
    parity(pop, Gen.smallWordTable(11L, pop.vocab), pop.blockedPairs(StreamWorkload.BlockedPairs), 3000)
  }

  test("batch workload inputs (overlapping word table): the program matches the reference") {
    val pop = BatchWorkload.population(12L)
    parity(pop, Gen.largeWordTable(12L, pop.vocab, 120), pop.blockedPairs(20000), 300)
  }
}
