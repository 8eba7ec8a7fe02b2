package perfbench

import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.Moderation
import graft.streaming.{KafkaEos, ModerationStream}

/** The two open-loop stream workloads.
  *
  * `stream_static`: JSON (key, value) records flow MemoryStream ->
  * decodeKafka -> ModerationStream.pipeline (static dimension) ->
  * encodeKafka -> KafkaEos.toKafkaTransactional into the in-memory
  * broker.
  *
  * `stream_live_dim`: the same generator and rate, plus block events
  * (about one per [[BlockEvery]] messages) appended as new parquet
  * files under the blocked-pairs directory, through
  * ModerationStream.withLiveDimension with
  * KafkaEos.writeBatchTransactional as the sink.
  *
  * One run: the JIT warm-up of [[jitWarmup]], then the query under test
  * at [[RateFixed]] until it has run [[WarmupBatches]] micro-batches and
  * one untimed drain, then measured cycles until the run's seconds are
  * used (at least [[MinCycles]]). A cycle is a lead-in and a latency
  * window at [[RateFixed]], then a drain of a [[DrainBacklog]]-message
  * backlog offered at once to the idle engine. Latency percentiles are taken
  * per window and the median over windows is reported; the throughput
  * is the highest ladder rung not above the median drain rate. Spread
  * over the whole run, the median rejects a burst of host noise that a
  * single contiguous phase would absorb whole.
  */
object StreamWorkload {

  val RateFixed = 1000.0
  /** Offered-rate ladder: adjacent rungs 5% apart. */
  val Ladder: Array[Double] = Iterator.iterate(1000.0)(_ * 1.05).takeWhile(_ <= 5.0e6).toArray
  val Users = 5000
  val VocabSize = 3000
  val BlockedPairs = 3000
  val BlockEvery = 100
  val TickNs = 10000000L
  val DrainBacklog = 40000
  val MinCycles = 3
  val LeadInSeconds = 0.3
  val WindowSeconds = 1.5
  val PrefixSample = 20000
  val WarmupQueries = 3
  val WarmupQueryBatches = 30
  val WarmupBatches = 10
  val WarmupCapSeconds = 40
  val Topic = "filtered-messages"
  val LedgerTopic = "filtered-messages-ledger"
  val SinkId = "moderation-sink"

  def population(seed: Long): Gen.Population =
    Gen.Population(seed, Users, 1.1, 0.8, Gen.vocabulary(seed, VocabSize), 1.0, 3, 12, 10)

  /** A block event: the pair, and the times (ns) just before and just
    * after its file became visible.
    */
  final case class Block(key: String, beforeNs: Long, afterNs: Long)

  /** One fixed-rate phase of the offered schedule. */
  final case class Phase(firstId: Long, startNs: Long, rate: Double) {
    def dueNs(id: Long): Long = startNs + ((id - firstId) * 1e9 / rate).toLong
  }

  /** A latency window: the messages [phase.firstId, endId), offered at
    * the fixed rate, and the backlog sampled (seconds since the
    * cycle's lead-in began, messages) over lead-in and window.
    */
  final case class Window(phase: Phase, endId: Long, startNs: Long, endNs: Long,
                          backlog: Array[(Double, Double)]) {
    def backlogTs: Array[Double] = backlog.map(_._1)
    def backlogYs: Array[Double] = backlog.map(_._2)
  }

  /** The single load-generator thread: offers messages on schedule and
    * appends block events. Within a fixed-rate phase it never waits for
    * the engine; between phases it waits for the backlog to drain.
    */
  final class Generator(pop: Gen.Population, mem: MemoryStream[(String, String)],
                        broker: MemBroker.Broker, blockDir: Option[String],
                        seed: Long, seconds: Int) extends Thread("perfbench-generator") {
    setDaemon(true)
    @volatile var error: Throwable = null
    var nextId = 0L
    /** addData call k holds ids [chunkFirst(k), chunkFirst(k+1)) */
    val chunkFirst = mutable.ArrayBuffer.empty[Long]
    val chunkAddNs = mutable.ArrayBuffer.empty[Long]
    val lagMs = mutable.ArrayBuffer.empty[Double]
    val blocks = mutable.ArrayBuffer.empty[Block]
    private val pendingBlocks = mutable.ArrayBuffer.empty[String]
    private var lastFlushNs = 0L
    private var blockFiles = 0
    /** Called around each latency window with its index. */
    var onWindowStart: Int => Unit = _ => ()
    var onWindowEnd: Int => Unit = _ => ()
    val windows = mutable.ArrayBuffer.empty[Window]
    val drainRates = mutable.ArrayBuffer.empty[Double]
    var capacity = 0.0
    var rung = 0.0

    /** Set before start: the MemoryStream offset (addData index) the
      * query has processed through, or -1.
      */
    var processedOffset: () => Long = () => -1L
    /** Set before start: micro-batches completed so far. */
    var batchesDone: () => Long = () => 0L

    /** Messages offered but not yet through a completed micro-batch. */
    private def backlog: Long = {
      val k = processedOffset() + 1
      nextId - (if (k <= 0) 0L else if (k < chunkFirst.size) chunkFirst(k.toInt) else nextId)
    }

    private def add(upTo: Long, phase: Phase): Unit = {
      val n = (upTo - nextId).toInt
      val batch = new Array[(String, String)](n)
      var i = 0
      while (i < n) {
        val m = pop.message(nextId + i)
        if (blockDir.isDefined && (nextId + i) % BlockEvery == BlockEvery - 1) {
          // block the pair of a recent message: heavy pairs recur
          val r = Gen.rng(seed, 7, nextId + i)
          val victim = pop.message(math.max(0L, nextId + i - r.nextInt(BlockEvery)))
          pendingBlocks += victim.receiver + ":" + victim.sender
        }
        batch(i) = m.sender -> Gen.inputJson(m)
        i += 1
      }
      val now = System.nanoTime()
      chunkFirst += nextId
      chunkAddNs += now
      if (phase != null) lagMs += (now - phase.dueNs(nextId)) / 1e6
      mem.addData(batch.toSeq)
      nextId = upTo
      flushBlocks(force = false)
    }

    /** New blocks become one new file at most every 50 ms. */
    private def flushBlocks(force: Boolean): Unit = blockDir.foreach { dir =>
      val now = System.nanoTime()
      if (pendingBlocks.nonEmpty && (force || now - lastFlushNs > 50000000L)) {
        val before = System.nanoTime()
        Common.writeDimFile(dir, f"block-$blockFiles%06d.parquet", pendingBlocks)
        val after = System.nanoTime()
        pendingBlocks.foreach(k => blocks += Block(k, before, after))
        pendingBlocks.clear()
        blockFiles += 1
        lastFlushNs = after
      }
    }

    /** Offers messages at `rate` for `seconds`; samples the backlog
      * every 25 ms into `backlogLog` (seconds since `originNs`) unless
      * it is null.
      */
    private def fixedRate(rate: Double, seconds: Double,
                          backlogLog: mutable.ArrayBuffer[(Double, Double)],
                          originNs: Long): Phase = {
      val start = System.nanoTime()
      val phase = Phase(nextId, start, rate)
      val end = start + (seconds * 1e9).toLong
      var nextSample = start
      var now = start
      var tick = start
      while (now < end) {
        val due = phase.firstId + ((now - start) * rate / 1e9).toLong
        if (due > nextId) add(due, phase)
        else flushBlocks(force = false)
        // one addData per tick, like a producer's linger: MemoryStream
        // plans one input block per call, a topic does not
        tick += TickNs
        now = System.nanoTime()
        if (tick > now) LockSupport.parkNanos(tick - now)
        now = System.nanoTime()
        if (backlogLog != null && now >= nextSample) {
          backlogLog += (((now - originNs) / 1e9, backlog.toDouble))
          nextSample = now + 25000000L
        }
      }
      phase
    }

    private def drain(timeoutNs: Long): Long = {
      val deadline = System.nanoTime() + timeoutNs
      while (backlog > 0 && System.nanoTime() < deadline) {
        flushBlocks(force = false)
        LockSupport.parkNanos(200000L)
      }
      System.nanoTime()
    }

    /** One measured cycle: a lead-in and a latency window at the fixed
      * rate, then a drain of a [[DrainBacklog]]-message backlog offered
      * in one call to the idle engine.
      */
    private def cycle(): Unit = {
      // the lead-in brings the engine from idle to its steady cadence
      val log = mutable.ArrayBuffer.empty[(Double, Double)]
      val origin = System.nanoTime()
      fixedRate(RateFixed, LeadInSeconds, log, origin)
      val i = windows.size
      onWindowStart(i)
      val w0 = System.nanoTime()
      val phase = fixedRate(RateFixed, WindowSeconds, log, origin)
      windows += Window(phase, nextId, w0, System.nanoTime(), log.toArray)
      onWindowEnd(i)
      drain(5000000000L)
      val t0 = System.nanoTime()
      add(nextId + DrainBacklog, null)
      val t1 = drain(60000000000L)
      drainRates += DrainBacklog * 1e9 / (t1 - t0)
    }

    override def run(): Unit = try {
      // warm-up: the fixed rate until WarmupBatches micro-batches have
      // run (the per-batch code - planning, scheduling, commit - speeds
      // up for tens of batches as the JIT compiles it), then one
      // untimed drain
      val warmCap = System.nanoTime() + WarmupCapSeconds * 1000000000L
      while (batchesDone() < WarmupBatches && System.nanoTime() < warmCap)
        fixedRate(RateFixed, 1.0, null, 0L)
      add(nextId + DrainBacklog, null)
      drain(60000000000L)
      val start = System.nanoTime()
      val deadline = start + seconds * 1000000000L
      def cycleNs = (System.nanoTime() - start) / math.max(1, windows.size)
      while (windows.size < MinCycles || System.nanoTime() + cycleNs <= deadline) cycle()
      capacity = Stats.median(drainRates.toSeq)
      // any rung above the drain rate grows the backlog by construction
      rung = Ladder(math.max(0, Ladder.lastIndexWhere(_ <= capacity)))
      flushBlocks(force = true)
    } catch { case t: Throwable => error = t }
  }

  /** JIT warm-up: the JIT keeps compiling Spark's per-batch code
    * (planning, scheduling, commit) for hundreds of micro-batches, and
    * one query runs only two or three a second. So [[WarmupQueries]]
    * copies of the query, each on its own source, broker and checkpoint,
    * run side by side at a trickle until each has run
    * [[WarmupQueryBatches]] micro-batches (or [[WarmupCapSeconds]]
    * pass), then drain one [[DrainBacklog]]-message backlog each; their
    * output is discarded. The query under test then warms
    * its own state in [[WarmupBatches]] micro-batches. Returns the
    * copies' broker names, to drop when the run ends (a stopped query's
    * cancelled tasks may still look their broker up).
    */
  def jitWarmup(spark: SparkSession, pop: Gen.Population, workDir: String,
                start: (MemoryStream[(String, String)], KafkaEos.TxProducerFactory, String) => StreamingQuery): Seq[String] = {
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val copies = (0 until WarmupQueries).map { k =>
      val name = s"warmup-$k"
      MemBroker.create(name, Topic)
      val mem = MemoryStream[(String, String)]
      (name, mem, start(mem, MemBroker.Factory(name), s"$workDir/warmup-$k"))
    }
    try {
      val cap = System.nanoTime() + WarmupCapSeconds * 1000000000L
      var id = 0L
      def done(q: StreamingQuery) = Option(q.lastProgress).exists(_.batchId + 1 >= WarmupQueryBatches)
      while (!copies.forall(c => done(c._3)) && System.nanoTime() < cap) {
        copies.foreach { case (_, mem, _) =>
          mem.addData((id until id + 10).map { i => val m = pop.message(i); m.sender -> Gen.inputJson(m) })
        }
        id += 10
        Thread.sleep(10)
      }
      // then one large backlog each, side by side, for the per-row code
      copies.foreach { case (_, mem, _) =>
        mem.addData((id until id + DrainBacklog).map { i => val m = pop.message(i); m.sender -> Gen.inputJson(m) })
      }
      copies.foreach(_._3.processAllAvailable())
      copies.foreach(_._3.exception.foreach(e => throw e))
    } finally {
      copies.foreach(_._3.stop())
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      spark.streams.resetTerminated()
    }
    copies.map(_._1)
  }

  def run(a: RunArgs, live: Boolean): Result = {
    val res = new Result(if (live) "stream_live_dim" else "stream_static")
    val pop = population(a.seed)
    val table = Gen.smallWordTable(a.seed, pop.vocab)
    val ref = new ReferenceModerator(table)
    val initialBlocked = pop.blockedPairs(BlockedPairs)
    val blockedDir = s"${a.workDir}/blocked"
    val wordsDir = s"${a.workDir}/words"
    Common.writeDimFile(blockedDir, "part-00000.parquet", initialBlocked)
    Common.writeWordTable(wordsDir, table)

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
    require(words == ref.banWords.toSeq,
      s"active ban words ${words.mkString(",")} != reference ${ref.banWords.mkString(",")}")
    res.e2e("setup_s") = (Stats.median(setups), "s")

    val sparkSpans = new Trace.SparkSpans
    // a traced run traces every other latency window (odd indices) and
    // accumulates over them; the untraced ones give its overhead
    def traced(i: Int): Boolean = a.trace && i % 2 == 1
    var codegenClasses = 0L
    var codegenMs = 0.0
    var codegenAt = (0L, 0.0)

    val brokerName = s"bench-${a.seed}"
    val broker = MemBroker.create(brokerName, Topic)
    val factory: KafkaEos.TxProducerFactory =
      if (a.trace) Trace.TimedFactory(MemBroker.Factory(brokerName)) else MemBroker.Factory(brokerName)
    Trace.Sink.reset()

    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    /** The query under test, reading `mem` and writing through `f`. */
    def startQuery(mem: MemoryStream[(String, String)], f: KafkaEos.TxProducerFactory,
                   ckpt: String): StreamingQuery = {
      // MemoryStream makes one input partition per addData call; a topic
      // has a fixed partition count, so the wire is coalesced to one
      // partition per engine core
      val wire = mem.toDF().toDF("key", "value").coalesce(Common.EngineCores)
      val decoded = ModerationStream.decodeKafka(wire)
      if (!live)
        KafkaEos.toKafkaTransactional(ModerationStream.pipeline(decoded, blocked, words),
          Topic, LedgerTopic, SinkId, f, ckpt).start()
      else
        ModerationStream.withLiveDimension(decoded, blockedDir, words, ckpt) { (b, id) =>
          KafkaEos.writeBatchTransactional(ModerationStream.encodeKafka(b), id,
            Topic, LedgerTopic, SinkId, f)
        }.start()
    }
    val warmupBrokers = jitWarmup(spark, pop, a.workDir, startQuery)
    val streamSpans = new Trace.StreamSpans
    spark.streams.addListener(streamSpans)
    val mem = MemoryStream[(String, String)]
    val query = startQuery(mem, factory, s"${a.workDir}/checkpoint")

    val gen = new Generator(pop, mem, broker, if (live) Some(blockedDir) else None, a.seed, a.seconds)
    gen.processedOffset = () => Option(query.lastProgress)
      .flatMap(_.sources.headOption).map(_.endOffset)
      .filter(o => o != null && o != "null").map(_.trim.toLong).getOrElse(-1L)
    gen.batchesDone = () => Option(query.lastProgress).map(_.batchId + 1).getOrElse(0L)
    gen.onWindowStart = i => if (traced(i)) {
      spark.sparkContext.addSparkListener(sparkSpans)
      codegenAt = Trace.codegen()
      Trace.Sink.on = true
    }
    gen.onWindowEnd = i => if (traced(i)) {
      Trace.Sink.on = false
      val (c, ms) = Trace.codegen()
      codegenClasses += c - codegenAt._1
      codegenMs += ms - codegenAt._2
      spark.sparkContext.removeSparkListener(sparkSpans)
    }
    gen.start()
    gen.join()
    try {
      if (gen.error != null) throw gen.error
      query.processAllAvailable()
    } finally query.stop()
    if (query.exception.isDefined) throw query.exception.get
    spark.streams.resetTerminated()

    // ---- correctness: every offered message at read_committed ----
    val batches = streamSpans.snapshot.sortBy(_.id)
    val verdict = Verify.stream(pop, ref, initialBlocked.toSet, gen, broker, batches, live)
    res.attempted = gen.nextId
    res.failed = verdict.failed
    res.say(s"checked ${gen.nextId} messages at read_committed: ${verdict.missing} missing, " +
      s"${verdict.duplicated} duplicated, ${verdict.wrong} wrongly moderated, " +
      s"error_rate=${verdict.failed.toDouble / gen.nextId}" +
      (if (live) s"; ${verdict.either} with a block landing between creation and emission" else ""))

    // ---- end-to-end metrics ----
    // due time at the generator -> read_committed commit, per window
    val windows = gen.windows.toSeq
    val lat = windows.map { w =>
      Common.sorted((w.phase.firstId until w.endId).iterator
        .map(id => id -> broker.committedAt(id)).filter(_._2 > 0)
        .map { case (id, c) => (c - w.phase.dueNs(id)) / 1e6 }.toSeq)
    }
    res.e2e("throughput_per_s") = (gen.rung, "1/s")
    val slopes = windows.map(w => Stats.settledSlope(w.backlogTs, w.backlogYs))
    val growingWindows = windows.count(w => Stats.growing(w.backlogTs, w.backlogYs, RateFixed))
    // a window holds only a few batches, so one slow batch can make its
    // sawtooth look like growth: the verdict needs most windows growing
    // and the median slope past the detector's tolerance
    val growing = 2 * growingWindows > windows.size && Stats.median(slopes) > 0.05 * RateFixed
    res.say(f"throughput_msgs_per_s=${gen.rung}%.1f msgs/s (highest ladder rung, 5%% spacing, " +
      f"not above the median drain rate ${gen.capacity}%.1f msgs/s of ${gen.drainRates.size} " +
      f"drains of a $DrainBacklog-message backlog)")
    res.say(f"backlog at the fixed rate ${RateFixed}%.0f msgs/s: median slope ${Stats.median(slopes)}%.1f msgs/s, " +
      s"growing in $growingWindows of ${windows.size} windows" +
      (if (growing) ": the fixed rate is not sustainable" else ""))
    Common.latencyMetrics(res, lat, s"messages at ${RateFixed.toInt} msgs/s")
    res.say("per cycle: p50 ms " + lat.map(w => "%.1f".format(Stats.percentile(w, 5000))).mkString(" ") +
      "; drain msgs/s " + gen.drainRates.map(r => "%.0f".format(r)).mkString(" "))
    res.say(s"setup_s=${"%.4f".format(Stats.median(setups))} s (median of ${setups.size} session starts + dimension loads)")

    if (a.trace) {
      def p(xs: Seq[Double], bp: Int): Double = if (xs.isEmpty) 0.0 else Stats.percentile(Common.sorted(xs), bp)
      val (on, off) = windows.indices.partition(traced)
      def medianP50(is: Seq[Int]): Double = Stats.median(is.map(i => p(lat(i).toSeq, 5000)))
      val tracedWindows = on.map(windows)
      val tracedMs = tracedWindows.map(w => (w.endNs - w.startNs) / 1e6).sum
      val inTraced = batches.filter(b => tracedWindows.exists(w => b.startNs >= w.startNs && b.startNs < w.endNs))
      def d(k: String) = inTraced.map(_.durations.getOrElse(k, 0L).toDouble)
      val l = res.layer
      l("streaming.batches") = (inTraced.size.toDouble, "count")
      l("streaming.batch_ms_p50") = (p(d("triggerExecution"), 5000), "ms")
      l("streaming.batch_ms_p99") = (p(d("triggerExecution"), 9900), "ms")
      l("streaming.planning_ms_p50") = (p(d("queryPlanning"), 5000), "ms")
      l("streaming.wal_ms_p50") = (p(d("walCommit"), 5000), "ms")
      l("streaming.add_batch_ms_p50") = (p(d("addBatch"), 5000), "ms")
      l("streaming.rows_per_batch_p50") = (p(inTraced.map(_.rows.toDouble), 5000), "count")
      l("streaming.backlog_max_msgs") = (windows.flatMap(_.backlogYs).max, "count")
      l("streaming.backlog_slope_msgs_per_s") = (Stats.median(slopes), "1/s")
      l("streaming.idle_frac") = (math.max(0.0, 1 - d("triggerExecution").sum / tracedMs), "ratio")
      Trace.Sink.synchronized {
        val s = Trace.Sink
        l("sink.txns") = (broker.txns.toDouble, "count")
        l("sink.records") = (broker.records.toDouble, "count")
        l("sink.bytes") = (broker.bytes.toDouble, "bytes")
        l("sink.commit_ms_p50") = (p(s.commitMs.toSeq, 5000), "ms")
        l("sink.commit_ms_p99") = (p(s.commitMs.toSeq, 9900), "ms")
        l("sink.ledger_read_ms_p50") = (p(s.ledgerReadMs.toSeq, 5000), "ms")
        l("sink.aborts") = (broker.aborts.toDouble, "count")
        l("sink.replay_skips") = (s.replaySkips.toDouble, "count")
        // committed transactions per transaction begun, over the run
        l("sink.useful_ratio") = (Common.ratio(broker.txns, broker.txns + broker.aborts), "ratio")
      }
      val listing = java.nio.file.Files.list(java.nio.file.Paths.get(blockedDir))
      val nFiles = try listing.filter(f => !f.getFileName.toString.startsWith(".")).count() finally listing.close()
      l("dim.files") = (nFiles.toDouble, "count")
      l("dim.keys") = ((initialBlocked.toSet ++ gen.blocks.map(_.key)).size.toDouble, "count")
      l("dim.load_s") = (Stats.median(loads), "s")
      Metrics.dimReload(l, spark, blockedDir)
      // join, censor and serde times over a static sample of the offered
      // messages (the stream interleaves them with batch overhead)
      val sample = Array.tabulate(PrefixSample)(i => pop.message(i.toLong))
      val sampleInput = BatchWorkload.inputFrame(spark, sample)
      val sampleBlocked = initialBlocked.toSet
      Metrics.prefixTimes(l, sampleInput, spark.read.parquet(blockedDir), words,
        sample.iterator.filter(m => m.text != null && !sampleBlocked(m.receiver + ":" + m.sender))
          .map(_.text.length.toLong).sum)
      sampleInput.unpersist()
      if (live) l("dim.block_lag_ms_p99") = (p(verdict.blockLagMs, 9900), "ms")
      Metrics.moderationCounts(l, verdict, dimKeys, words.size, singlePass = false)
      Metrics.spark(l, sparkSpans, codegenClasses, codegenMs, tracedMs / 1e3)
      l("gen.lag_p99_ms") = (p(gen.lagMs.toSeq, 9900), "ms")
      l("gen.offered_msgs") = (gen.nextId.toDouble, "count")
      l("trace.overhead_frac") = (Common.ratio(medianP50(on), medianP50(off)) - 1, "ratio")
    }
    (brokerName +: warmupBrokers).foreach(MemBroker.drop)
    res.e2e("live_heap_mb") = (Common.liveHeapMb(), "MB")
    spark.stop()
    res
  }
}
