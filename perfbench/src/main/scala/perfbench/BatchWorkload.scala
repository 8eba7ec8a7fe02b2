package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.Moderation

/** `batch_moderation`: a closed loop of one job at a time over a
  * generated corpus: decode -> Moderation.pipeline(singlePass = true)
  * -> encode -> noop sink. Zipf senders, chat-length Zipf texts, a
  * large blocked-pair dimension and a few hundred overlapping
  * forbidden words (so the single-pass censor is refused and the
  * reference fold runs).
  */
object BatchWorkload {

  val Messages = 2500
  val Users = 50000
  val VocabSize = 20000
  val BlockedPairs = 200000
  val Words = 300
  val MinJobs = 3
  val WarmupJobs = 2

  def population(seed: Long): Gen.Population =
    Gen.Population(seed, Users, 1.1, 0.9, Gen.vocabulary(seed, VocabSize), 1.0, 5, 25, 5)

  def inputFrame(spark: SparkSession, msgs: Array[Gen.Msg]): DataFrame = {
    import spark.implicits._
    val df = msgs.toSeq.map(m => (m.sender, Gen.inputJson(m))).toDF("key", "value")
      .repartition(Common.EngineCores).cache()
    df.count()
    df
  }

  def run(a: RunArgs): Result = {
    val res = new Result("batch_moderation")
    val pop = population(a.seed)
    val table = Gen.largeWordTable(a.seed, pop.vocab, Words)
    val ref = new ReferenceModerator(table)
    val initialBlocked = pop.blockedPairs(BlockedPairs)
    val blockedSet = initialBlocked.toSet
    val blockedDir = s"${a.workDir}/blocked"
    val wordsDir = s"${a.workDir}/words"
    Common.writeDimFile(blockedDir, "part-00000.parquet", initialBlocked)
    Common.writeWordTable(wordsDir, table)
    val msgs = Array.tabulate(Messages)(i => pop.message(i.toLong))

    var blocked: DataFrame = null
    var words: Seq[String] = Nil
    var dimKeys = 0L
    var first = true
    val (spark, setups, loads) = Common.timedSetups(a.workDir) { s =>
      blocked = s.read.parquet(blockedDir)
      words = Moderation.activeBanWords(s.read.parquet(wordsDir), "word", "value")
      dimKeys = blocked.count()
      if (first) { Smoke.golden(s, res); first = false }
    }
    require(words == ref.banWords.toSeq, "active ban words differ from the reference's")
    val singlePass = Moderation.singlePassEquivalent(words)
    res.e2e("setup_s") = (Stats.median(setups), "s")

    val input = inputFrame(spark, msgs)
    // warm-up (codegen, and the JIT of the code generator itself): the
    // first job's output is the one checked
    val got = mutable.HashMap.empty[(String, String), Long]
    Metrics.moderationJob(input, blocked, words).collect().foreach { r =>
      val kv = (r.getString(0), r.getString(1))
      got(kv) = got.getOrElse(kv, 0L) + 1
    }
    (2 to WarmupJobs).foreach(_ => Metrics.timeNoop(Metrics.moderationJob(input, blocked, words)))
    val jobs = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    while (jobs.size < MinJobs || System.nanoTime() < deadline)
      jobs += Metrics.timeNoop(Metrics.moderationJob(input, blocked, words))

    // ---- correctness: the multiset of emitted records ----
    val expected = mutable.HashMap.empty[(String, String), Long]
    var censored, charsMasked, nullRows, bytesIn, bytesOut = 0L
    msgs.foreach { m =>
      val in = Gen.inputJson(m)
      bytesIn += m.sender.getBytes("UTF-8").length + in.getBytes("UTF-8").length
      if (m.text == null) nullRows += 1
      ref.moderate(m, blockedSet).foreach { kv =>
        expected(kv) = expected.getOrElse(kv, 0L) + 1
        bytesOut += kv._1.getBytes("UTF-8").length + kv._2.getBytes("UTF-8").length
        val c = ref.censor(m.text)
        if (c != m.text) {
          censored += 1
          charsMasked += c.count(_ == '*') - m.text.count(_ == '*')
        }
      }
    }
    var missing, extra = 0L
    (got.keySet ++ expected.keySet).foreach { kv =>
      val d = got.getOrElse(kv, 0L) - expected.getOrElse(kv, 0L)
      if (d < 0) missing -= d else extra += d
    }
    res.attempted = Messages
    res.failed = missing + extra
    val rowsOut = expected.values.sum
    res.say(s"checked $Messages messages against the reference moderator: $missing missing or " +
      s"wrongly moderated, $extra unexpected; error_rate=${(missing + extra).toDouble / Messages}")

    val medJob = Stats.median(jobs.toSeq)
    res.e2e("throughput_per_s") = (Messages / medJob, "1/s")
    res.say(f"throughput_msgs_per_s=${Messages / medJob}%.1f msgs/s (median of ${jobs.size} jobs over " +
      s"$Messages messages, ${words.size} active words, ${dimKeys} blocked pairs, single_pass=$singlePass)")
    // every message's result is complete when its job completes
    val perMsg = Common.sorted(jobs.flatMap(j => Iterator.fill(Messages)(j * 1000)))
    Common.latencyMetrics(res, Seq(perMsg), s"message results over ${jobs.size} jobs")
    res.say(s"setup_s=${"%.4f".format(Stats.median(setups))} s (median of ${setups.size} session starts + dimension loads)")

    if (a.trace) {
      val l = res.layer
      val chars = msgs.iterator.filter(m => m.text != null && !blockedSet(m.receiver + ":" + m.sender))
        .map(_.text.length.toLong).sum
      Metrics.prefixTimes(l, input, blocked, words, chars)
      Metrics.dimReload(l, spark, blockedDir)
      val v = Verify.Verdict(missing, 0, extra, 0, Messages, rowsOut, censored, charsMasked,
        bytesIn, bytesOut, nullRows, Nil)
      Metrics.moderationCounts(l, v, dimKeys, words.size, singlePass)
      l("dim.load_s") = (Stats.median(loads), "s")
      l("dim.keys") = (dimKeys.toDouble, "count")
      l("dim.files") = (1.0, "count")
      // one traced job: listener-bus spans, and tracing overhead
      val spans = new Trace.SparkSpans
      spark.sparkContext.addSparkListener(spans)
      val (c0, m0) = Trace.codegen()
      val traced = Metrics.timeNoop(Metrics.moderationJob(input, blocked, words))
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      val (c1, m1) = Trace.codegen()
      spark.sparkContext.removeSparkListener(spans)
      Metrics.spark(l, spans, c1 - c0, m1 - m0, traced)
      l("trace.overhead_frac") = (traced / medJob - 1, "ratio")
      // single-core baseline of the same job on a quarter of the corpus
      input.unpersist()
      spark.stop()
      val one = Common.session(a.workDir, cores = 1)
      val slice = msgs.take(Messages / 4)
      val oneInput = inputFrame(one, slice)
      val oneBlocked = one.read.parquet(blockedDir)
      Metrics.timeNoop(Metrics.moderationJob(oneInput, oneBlocked, words))
      val oneJob = Metrics.timeNoop(Metrics.moderationJob(oneInput, oneBlocked, words))
      l("baseline.single_core_msgs_per_s") = (slice.length / oneJob, "1/s")
      res.say(f"single-core baseline: ${slice.length / oneJob}%.1f msgs/s on ${slice.length} messages")
      oneInput.unpersist()
      res.e2e("live_heap_mb") = (Common.liveHeapMb(), "MB")
      one.stop()
    } else {
      input.unpersist()
      res.e2e("live_heap_mb") = (Common.liveHeapMb(), "MB")
      spark.stop()
    }
    res
  }
}
