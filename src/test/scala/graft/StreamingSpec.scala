package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.ops.Moderation.Message
import graft.streaming.{ModerationStream, WindowedAggs}
import graft.streaming.WindowedAggs.UserEvent

/** Structured Streaming parity (SURVEY §2 M3/T1-T6): the golden
  * moderation pipeline as a stream, Kafka wire-format round-trip,
  * watermarked windows with late-data drop, session windows, custom
  * keyed state across micro-batches, and checkpointed exactly-once
  * file output.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
                event_type: String, value: Double)

  import StreamingSpec.Doc

  test("golden moderation pipeline under streaming (MemoryStream -> memory sink)") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Message]
    mem.addData(
      Message("login4", "Java", "login1"),
      Message("login2", "Spring", "login1"),
      Message("login3", "1С", "login1"),
      Message("login5", "Политика React", "login1"))
    val blocked = Seq("login1:login2", "login1:login3", "login2:login4").toDF("bk")
    val words = Seq("Политика", "1C", "Алкоголь")
    val out = ModerationStream.pipeline(mem.toDF(), blocked, words)
    val q = out.writeStream.format("memory").queryName("mod_golden")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("mod_golden")
        .select("sender", "text", "receiver")
        .as[(String, String, String)].collect().sortBy(_._1)
      assert(rows === Array(
        ("login4", "Java", "login1"),
        ("login5", "******** React", "login1")))
    } finally q.stop()
  }

  test("stream-static moderation reads the parquet dimension once, when the query is defined") {
    implicit val ctx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_static_dim").resolve("bk").toString
    Seq("login1:login2", "login1:login3").toDF("bk").write.parquet(dir)
    val mem = MemoryStream[Message]
    val out = ModerationStream.pipeline(mem.toDF(), spark.read.parquet(dir), Seq("Политика"))
    // every SQL execution from here on (the micro-batches) and each
    // batch's physical plan: none may scan the dimension's files
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          plans.add(s.physicalPlanDescription)
        case _ =>
      }
    }
    org.apache.spark.TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val q = out.writeStream.format("memory").queryName("mod_static_dim")
      .outputMode("append").start()
    try {
      for (i <- 0 until 3) {
        mem.addData(Message("login2", s"b$i", "login1"), Message("login4", s"Политика $i", "login1"))
        q.processAllAvailable()
        val batch = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
          .streamingQuery.lastExecution.executedPlan
        val scans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
          .collectWithSubqueries(batch) {
            case s: org.apache.spark.sql.execution.FileSourceScanExec => s.relation.location.rootPaths
          }.flatten
        assert(!scans.exists(_.toUri.getPath == dir), s"batch $i scans the dimension:\n$batch")
      }
      org.apache.spark.TestBus.drain(spark.sparkContext)
      assert(plans.size >= 3, s"only ${plans.size} SQL executions seen over three micro-batches")
      plans.forEach(p => assert(!p.contains(dir), s"an execution scans the dimension:\n$p"))
      val rows = spark.table("mod_static_dim").select("sender", "text").as[(String, String)].collect()
      assert(rows.sortBy(_._2).toSeq === (0 until 3).map(i => ("login4", s"******** $i")))
    } finally {
      q.stop()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("kafka wire format round-trip (F1/F2) incl. tombstones") {
    val raw = Seq(
      ("login4", """{"text":"Java","receiver":"login1"}"""),
      ("login9", null: String), // tombstone: empty value -> null message
      ("login8", """{"text":"T","receiver":"r","extra":1}""") // extra field ignored
    ).toDF("key", "value")
      .select(col("key").cast("binary").as("key"), col("value").cast("binary").as("value"))
    val decoded = ModerationStream.decodeKafka(raw)
      .as[(String, String, String)].collect().sortBy(_._1)
    assert(decoded === Array(
      ("login4", "Java", "login1"),
      ("login8", "T", "r"),
      ("login9", null, null)))

    val encoded = ModerationStream.encodeKafka(
        Seq(Message("login4", "Java", "login1")).toDF())
      .as[(String, String)].collect()
    assert(encoded === Array(("login4", """{"text":"Java","receiver":"login1"}""")))
  }

  test("malformed JSON: permissive decodes to nulls, strict crashes (F2 parity)") {
    val malformed = Seq(("k1", "{not json"))
      .toDF("key", "value")
      .select(col("key").cast("binary").as("key"),
        col("value").cast("binary").as("value"))
    // production default: null fields, pipeline continues
    val lenient = ModerationStream.decodeKafka(malformed)
      .as[(String, String, String)].collect()
    assert(lenient === Array(("k1", null, null)))
    // reference contract (MessageSerdes RuntimeException -> crash):
    // FAILFAST surfaces the parse error as a task failure
    val e = intercept[org.apache.spark.SparkException] {
      ModerationStream.decodeKafkaStrict(malformed).collect()
    }
    val messages = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString("\n")
    assert(messages.contains("MALFORMED_RECORD_IN_PARSING")
      || messages.contains("FAILFAST"),
      s"expected a malformed-record parse failure, got:\n$messages")
    // tombstones are NOT errors on either path
    val tomb = Seq(("k2", null: String)).toDF("key", "value")
      .select(col("key").cast("binary").as("key"),
        col("value").cast("binary").as("value"))
    assert(ModerationStream.decodeKafkaStrict(tomb)
      .as[(String, String, String)].collect() === Array(("k2", null, null)))
  }

  test("Trigger.AvailableNow drains available input then self-terminates (backfill)") {
    // the production backfill/catch-up pattern: process everything
    // available at start, then stop on its own — unlike
    // processAllAvailable, termination is the trigger's contract, not
    // a test helper
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Message]
    mem.addData(
      Message("login4", "Java", "login1"),
      Message("login2", "Spring", "login1"),
      Message("login5", "Политика React", "login1"))
    val blocked = Seq("login1:login2").toDF("bk")
    val out = ModerationStream.pipeline(mem.toDF(), blocked, Seq("Политика"))
    val q = out.writeStream.format("memory").queryName("mod_availnow")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      assert(q.awaitTermination(60000), "query did not self-terminate")
      assert(!q.isActive)
      val rows = spark.table("mod_availnow")
        .select("sender", "text").as[(String, String)].collect().sortBy(_._1)
      assert(rows === Array(
        ("login4", "Java"),
        ("login5", "******** React")))
    } finally q.stop()
  }

  test("tumbling window with watermark drops late data (append mode)") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val agg = WindowedAggs.tumblingCounts(mem.toDF(), "1 hour", "10 minutes")
    val q = agg.writeStream.format("memory").queryName("tumble_wm")
      .outputMode("append").start()
    try {
      // batch 1: two events in the 10:00 window + one advancing event time
      mem.addData(
        Ev(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
        Ev(2, ts("2024-01-01 10:20:00"), 1, "click", 1.0),
        Ev(3, ts("2024-01-01 12:10:00"), 1, "click", 1.0))
      q.processAllAvailable()
      // batch 2: a LATE event for the already-finalized 10:00 window
      // (watermark is now 12:00) -> must be dropped
      mem.addData(Ev(4, ts("2024-01-01 10:30:00"), 1, "click", 1.0))
      q.processAllAvailable()
      // batch 3: advance watermark beyond 13:00 so the 12:00 window emits
      mem.addData(Ev(5, ts("2024-01-01 14:00:00"), 1, "click", 1.0))
      q.processAllAvailable()
      val counts = spark.table("tumble_wm")
        .select(col("w_start").cast("string"), col("n"))
        .as[(String, Long)].collect().toMap
      assert(counts("2024-01-01 10:00:00") === 2L) // late event NOT counted
      assert(counts("2024-01-01 12:00:00") === 1L)
    } finally q.stop()
  }

  test("session_window merges events within gap (streaming append mode)") {
    // session-window streaming aggs only support append (sessions emit
    // once the watermark passes their end) — update mode is rejected
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val agg = WindowedAggs.sessionCounts(mem.toDF(), "30 minutes", "10 minutes")
    val q = agg.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      mem.addData(
        Ev(1, ts("2024-01-01 10:00:00"), 7, "click", 1.0),
        Ev(2, ts("2024-01-01 10:10:00"), 7, "click", 1.0), // same session
        Ev(3, ts("2024-01-01 11:30:00"), 7, "click", 1.0)) // new session (gap > 30m)
      q.processAllAvailable()
      // advance the watermark past both session ends so they emit
      mem.addData(Ev(4, ts("2024-01-01 13:00:00"), 8, "click", 1.0))
      q.processAllAvailable()
      mem.addData(Ev(5, ts("2024-01-01 15:00:00"), 8, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("sessions")
        .filter(col("user_id") === 7)
        .select(col("session_start").cast("string"), col("n_events"))
        .as[(String, Long)].collect().sortBy(_._1)
      assert(rows === Array(
        ("2024-01-01 10:00:00", 2L), // events 1+2 merged (gap <= 30m)
        ("2024-01-01 11:30:00", 1L)))
    } finally q.stop()
  }

  test("mapGroupsWithState accumulates per-key state across micro-batches") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[UserEvent]
    val out = WindowedAggs.runningUserStats(mem.toDS())
    val q = out.writeStream.format("memory").queryName("user_stats")
      .outputMode("update").start()
    try {
      mem.addData(UserEvent(1, "click", 2.0), UserEvent(1, "error", 3.0))
      q.processAllAvailable()
      mem.addData(UserEvent(1, "click", 5.0), UserEvent(2, "click", 1.0))
      q.processAllAvailable()
      // update-mode memory sink appends every update; latest row per user wins
      val last = spark.table("user_stats")
        .groupBy("user_id")
        .agg(max(struct(col("n_events"), col("total_value"), col("n_errors"))).as("s"))
        .select(col("user_id"), col("s.n_events"), col("s.total_value"), col("s.n_errors"))
        .as[(Long, Long, Double, Long)].collect().sortBy(_._1)
      assert(last === Array((1L, 3L, 10.0, 1L), (2L, 1L, 1.0, 0L)))
    } finally q.stop()
  }

  test("flatMapGroupsWithState event-time sessions match batch gaps-and-islands") {
    import graft.streaming.EventTimeSessions
    import graft.streaming.EventTimeSessions.SessionEvent
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[SessionEvent]
    val q = EventTimeSessions.sessions(mem.toDS(), 30, "1 hour")
      .writeStream.format("memory").queryName("fmgws_sessions")
      .outputMode("append").start()
    try {
      // user 1: two events 10 min apart (one session), then one at 11:00
      // (> 30 min gap -> new session); user 2: a single event
      mem.addData(
        SessionEvent(1, ts("2024-01-01 10:00:00")),
        SessionEvent(1, ts("2024-01-01 10:10:00")),
        SessionEvent(2, ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      // a later batch: user 1 opens a second island (> 30 min gap)
      mem.addData(SessionEvent(1, ts("2024-01-01 11:00:00")))
      q.processAllAvailable()
      // two watermark-advancing batches: after the first, the watermark
      // (13:00 - 1h = 12:00) passes every last+gap; the second triggers
      // the timeout pass that emits the quiescent sessions
      mem.addData(SessionEvent(3, ts("2024-01-01 13:00:00")))
      q.processAllAvailable()
      mem.addData(SessionEvent(3, ts("2024-01-01 13:05:00")))
      q.processAllAvailable()
      val rows = spark.table("fmgws_sessions")
        .select(col("user_id"), col("session_start").cast("string"),
          col("session_end").cast("string"), col("n_events"))
        .as[(Long, String, String, Long)].collect().sorted
      assert(rows === Array(
        (1L, "2024-01-01 10:00:00", "2024-01-01 10:10:00", 2L),
        (1L, "2024-01-01 11:00:00", "2024-01-01 11:00:00", 1L),
        (2L, "2024-01-01 10:05:00", "2024-01-01 10:05:00", 1L)))
      // parity: the batch sessionize on the same user-1/2 events gives
      // the same (start, end, count) islands
      val batch = Seq((1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 10:10:00")),
          (2L, ts("2024-01-01 10:05:00")), (1L, ts("2024-01-01 11:00:00")))
        .toDF("user_id", "ts")
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts")
      val islands = batch
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .withColumn("is_new", when(col("prev").isNull
          || col("ts").cast("long") - col("prev").cast("long") > 1800, 1).otherwise(0))
        .withColumn("sid", sum(col("is_new")).over(w))
        .groupBy("user_id", "sid")
        .agg(min(col("ts")).cast("string").as("s"),
          max(col("ts")).cast("string").as("e"), count(lit(1)).as("n"))
        .select(col("user_id"), col("s"), col("e"), col("n"))
        .as[(Long, String, String, Long)].collect().sorted
      def norm(x: (Long, String, String, Long)) =
        (x._1, x._2.stripSuffix(".0"), x._3.stripSuffix(".0"), x._4)
      assert(islands.map(norm) === rows.map(norm))
    } finally q.stop()
  }

  test("event-time sessions: cross-batch out-of-order events split and bridge islands") {
    import graft.streaming.EventTimeSessions
    import graft.streaming.EventTimeSessions.SessionEvent
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[SessionEvent]
    val q = EventTimeSessions.sessions(mem.toDS(), 30, "1 hour")
      .writeStream.format("memory").queryName("fmgws_ooo")
      .outputMode("append").start()
    try {
      // user 1 arrives OUT OF ORDER across batches: 10:40 first...
      mem.addData(SessionEvent(1, ts("2024-01-01 10:40:00")))
      q.processAllAvailable()
      // ...then an in-watermark event 40 min EARLIER: must become its
      // own island (gap exceeded), not merge into [10:40]
      mem.addData(SessionEvent(1, ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      // user 2: two islands 40 min apart, then a bridging event that
      // fuses them into ONE session
      mem.addData(
        SessionEvent(2, ts("2024-01-01 10:00:00")),
        SessionEvent(2, ts("2024-01-01 10:40:00")))
      q.processAllAvailable()
      mem.addData(SessionEvent(2, ts("2024-01-01 10:20:00")))
      q.processAllAvailable()
      // advance the watermark far past everything, then trigger timeouts
      mem.addData(SessionEvent(9, ts("2024-01-01 14:00:00")))
      q.processAllAvailable()
      mem.addData(SessionEvent(9, ts("2024-01-01 14:05:00")))
      q.processAllAvailable()
      val rows = spark.table("fmgws_ooo")
        .select(col("user_id"), col("session_start").cast("string"),
          col("session_end").cast("string"), col("n_events"))
        .as[(Long, String, String, Long)].collect().sorted
      assert(rows === Array(
        (1L, "2024-01-01 10:00:00", "2024-01-01 10:00:00", 1L),
        (1L, "2024-01-01 10:40:00", "2024-01-01 10:40:00", 1L),
        (2L, "2024-01-01 10:00:00", "2024-01-01 10:40:00", 3L)))
    } finally q.stop()
  }

  test("event-time sessions equal batch islands on randomized arrival orders") {
    import graft.streaming.EventTimeSessions
    import graft.streaming.EventTimeSessions.SessionEvent
    implicit val ctx = spark.sqlContext
    val gapMs = 30 * 60000L
    for (seed <- Seq(11, 42)) {
      val rnd = new scala.util.Random(seed)
      val base = ts("2024-01-01 08:00:00").getTime
      // 24 events, 3 users, minute-granularity over 3 hours — then
      // SHUFFLED arrival order split over 3 micro-batches (watermark
      // delay 10h, so every permutation is in-watermark)
      val events = Seq.fill(24)(SessionEvent(
        1 + rnd.nextInt(3), new Timestamp(base + rnd.nextInt(180) * 60000L)))
      val arrival = rnd.shuffle(events)
      val mem = MemoryStream[SessionEvent]
      val q = EventTimeSessions.sessions(mem.toDS(), 30, "10 hours")
        .writeStream.format("memory").queryName(s"fmgws_rand_$seed")
        .outputMode("append").start()
      try {
        arrival.grouped(8).foreach { b =>
          mem.addData(b: _*); q.processAllAvailable()
        }
        // push the watermark far past every last+gap, then fire timeouts
        val flush = base + 24 * 3600000L
        mem.addData(SessionEvent(99, new Timestamp(flush)))
        q.processAllAvailable()
        mem.addData(SessionEvent(99, new Timestamp(flush + 60000L)))
        q.processAllAvailable()
        val got = spark.table(s"fmgws_rand_$seed")
          .filter(col("user_id") < 99)
          .select(col("user_id"), col("session_start").cast("long"),
            col("session_end").cast("long"), col("n_events"))
          .as[(Long, Long, Long, Long)].collect().sorted
        // reference: in-memory gaps-and-islands over the sorted events
        val expected = events.groupBy(_.user_id).toSeq.flatMap { case (u, evs) =>
          val sorted = evs.map(_.ts.getTime).sorted
          val islands = sorted.tail.foldLeft(List(List(sorted.head))) {
            (acc, t) =>
              if (t - acc.head.head > gapMs) List(t) :: acc
              else (t :: acc.head) :: acc.tail
          }
          islands.map(i => (u, i.last / 1000, i.head / 1000, i.size.toLong))
        }.sorted
        assert(got.toSeq === expected, s"seed=$seed")
      } finally q.stop()
    }
  }

  test("stream-stream interval join correlates errors to preceding clicks") {
    import graft.streaming.StreamJoins
    implicit val ctx = spark.sqlContext
    val errMem = MemoryStream[Ev]
    val clickMem = MemoryStream[Ev]
    val errors = errMem.toDF().select(col("event_id").as("err_id"),
      col("ts").as("err_ts"), col("user_id"))
    val clicks = clickMem.toDF().select(col("event_id").as("click_id"),
      col("ts").as("click_ts"), col("user_id"))
    val joined = StreamJoins.intervalJoin(
      errors, clicks, "user_id", "err_ts", "click_ts", 30, "1 hour")
    val q = joined.writeStream.format("memory").queryName("ss_interval")
      .outputMode("append").start()
    try {
      clickMem.addData(
        Ev(100, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Ev(101, ts("2024-01-01 10:00:00"), 2, "click", 1.0))
      errMem.addData(
        Ev(1, ts("2024-01-01 10:20:00"), 1, "error", 0.0), // click 20m before: match
        Ev(2, ts("2024-01-01 11:00:00"), 1, "error", 0.0), // click 60m before: no match
        Ev(3, ts("2024-01-01 10:25:00"), 2, "error", 0.0)) // match
      q.processAllAvailable()
      val rows = spark.table("ss_interval")
        .select(col("err_id"), col("click_id"))
        .as[(Long, Long)].collect().sorted
      assert(rows === Array((1L, 100L), (3L, 101L)))
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join emits null rows only after the watermark seals them") {
    import graft.streaming.StreamJoins
    implicit val ctx = spark.sqlContext
    val errMem = MemoryStream[Ev]
    val clickMem = MemoryStream[Ev]
    val errors = errMem.toDF().select(col("event_id").as("err_id"),
      col("ts").as("err_ts"), col("user_id"))
    val clicks = clickMem.toDF().select(col("event_id").as("click_id"),
      col("ts").as("click_ts"), col("user_id"))
    val joined = StreamJoins.leftOuterIntervalJoin(
      errors, clicks, "user_id", "err_ts", "click_ts", 30, "10 minutes")
    val q = joined.writeStream.format("memory").queryName("ss_louter")
      .outputMode("append").start()
    try {
      clickMem.addData(Ev(100, ts("2024-01-01 10:00:00"), 1, "click", 1.0))
      errMem.addData(
        Ev(1, ts("2024-01-01 10:20:00"), 1, "error", 0.0), // match
        Ev(2, ts("2024-01-01 10:20:00"), 2, "error", 0.0)) // no click ever
      q.processAllAvailable()
      // the matched row may emit now; the UNMATCHED row must NOT —
      // a qualifying click could still arrive inside the watermark
      val early = spark.table("ss_louter")
        .filter(col("click_id").isNull).count()
      assert(early === 0L, "null-padded row emitted before the watermark sealed it")
      // advance both watermarks far past err_ts + delay: the no-match
      // row is now provably matchless and must appear null-padded
      clickMem.addData(Ev(999, ts("2024-01-01 13:00:00"), 9, "click", 1.0))
      errMem.addData(Ev(998, ts("2024-01-01 13:00:00"), 9, "error", 0.0))
      q.processAllAvailable()
      // one more batch so the outer-join state eviction runs
      clickMem.addData(Ev(997, ts("2024-01-01 13:30:00"), 9, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("ss_louter")
        .select(col("err_id"),
          when(col("click_id").isNull, -1L).otherwise(col("click_id"))
            .as("cid"))
        .as[(Long, Long)].collect().toSet
      assert(rows.contains((1L, 100L)), "matched pair missing")
      assert(rows.contains((2L, -1L)),
        "sealed unmatched error never emitted null-padded")
    } finally q.stop()
  }

  test("stream-stream forward self-join matches batch range_join_pairs under random arrival") {
    import graft.streaming.StreamJoins
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Ev]
    // the watermark delay exceeds the fixture's 30-day span so the
    // RANDOMIZED arrival below can never lose a row to late-data drop;
    // the bounded-state production configuration (short delay, state
    // expiring at watermark - interval) is exercised by the
    // errors-to-clicks test above
    val joined = StreamJoins.forwardPairJoin(
      mem.toDF(), "user_id", "ts", "event_id", 5, "35 days")
    val q = joined.writeStream.format("memory").queryName("ss_fwd_pairs")
      .outputMode("append").start()
    try {
      val evs = Tables.load(spark, sf0001, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .collect()
        .map(r => Ev(r.getLong(0), r.getTimestamp(1), r.getLong(2),
          r.getString(3), r.getDouble(4)))
      val rnd = new scala.util.Random(42)
      rnd.shuffle(evs.toVector).grouped(137).foreach { chunk =>
        mem.addData(chunk: _*)
        q.processAllAvailable()
      }
      val got = spark.table("ss_fwd_pairs")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_pairs"))
        .as[(Long, Long)].collect().toMap
      val want = SparkEntry.allQueries.find(_.name == "range_join_pairs").get
        .run(spark, sf0001)
        .as[(Long, Long)].collect().toMap
      assert(want.nonEmpty)
      assert(got === want,
        s"extra: ${got.keySet -- want.keySet}, missing: ${want.keySet -- got.keySet}, " +
          s"diffs: ${want.collect { case (k, v) if got.getOrElse(k, -1L) != v => (k, v, got.get(k)) }}")
    } finally q.stop()
  }

  test("FreqItemsAgg aggregates across micro-batches (state-store serde round-trip)") {
    import graft.functions.FreqItemsAgg
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[String]
    val agg = mem.toDF().toDF("w")
      .groupBy()
      .agg(FreqItemsAgg(col("w"), 8).as("fi"))
      .select(explode(col("fi")).as("f"))
      .select(col("f.item"), col("f.est"))
    val q = agg.writeStream.format("memory").queryName("stream_freq")
      .outputMode("complete").start()
    try {
      mem.addData("a", "a", "b")
      q.processAllAvailable()
      mem.addData("a", "b", "c") // buffer must survive serialize/merge
      q.processAllAvailable()
      val got = spark.table("stream_freq")
        .as[(String, Long)].collect().sorted
      assert(got === Array(("a", 3L), ("b", 2L), ("c", 1L)))
    } finally q.stop()
  }

  test("windowed FreqItemsAgg emits per-window top items on window close (append)") {
    import graft.functions.FreqItemsAgg
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val agg = mem.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(FreqItemsAgg(col("event_type"), 8).as("fi"))
      .select(col("w.start").cast("string").as("ws"), explode(col("fi")).as("f"))
      .select(col("ws"), col("f.item"), col("f.est"))
    val q = agg.writeStream.format("memory").queryName("win_freq")
      .outputMode("append").start()
    try {
      mem.addData(
        Ev(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
        Ev(2, ts("2024-01-01 10:10:00"), 1, "click", 1.0),
        Ev(3, ts("2024-01-01 10:20:00"), 1, "view", 1.0))
      q.processAllAvailable()
      // advance the watermark past 11:10 so the 10:00 window seals
      mem.addData(Ev(4, ts("2024-01-01 11:30:00"), 1, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("win_freq")
        .as[(String, String, Long)].collect().sorted
      assert(rows === Array(
        ("2024-01-01 10:00:00", "click", 2L),
        ("2024-01-01 10:00:00", "view", 1L)))
    } finally q.stop()
  }

  test("windowed CMS heavy-hitter guard: streaming append == batch, sketch state merges across batches") {
    import graft.streaming.WindowedAggs
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val probes = Seq("click", "view")
    val stream = WindowedAggs.windowedCms(
      mem.toDF(), "event_type", probes, 4, 256)
    val q = stream.writeStream.format("memory").queryName("cms_win")
      .outputMode("append").start()
    val events = Seq(
      // window 10:00 — click is the heavy hitter
      Ev(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 10:10:00"), 2, "click", 1.0),
      Ev(3, ts("2024-01-01 10:20:00"), 1, "view", 1.0),
      Ev(4, ts("2024-01-01 10:40:00"), 3, "click", 1.0),
      // in-watermark late arrival for 10:00, delivered in batch 2
      Ev(5, ts("2024-01-01 10:55:00"), 2, "click", 1.0))
    try {
      mem.addData(events.take(3): _*)
      q.processAllAvailable()
      // batch 2: late-but-in-watermark rows MERGE into the open
      // window's sketch buffer (serialize/merge through the state store)
      mem.addData(events.drop(3): _*)
      q.processAllAvailable()
      // advance the watermark past 11:10 so the 10:00 window seals
      mem.addData(Ev(6, ts("2024-01-01 11:30:00"), 1, "signup", 1.0))
      q.processAllAvailable()
      val got = spark.table("cms_win")
        .select(col("w_start").cast("string"), col("est_click"), col("est_view"))
        .as[(String, Long, Long)].collect().sorted
      // batch twin over the SAME sealed-window rows (tuple-projected:
      // inner-class Ev has no batch encoder scope)
      val batch = WindowedAggs.windowedCms(
        events.map(e => (e.event_id, e.ts, e.user_id, e.event_type, e.value))
          .toDF("event_id", "ts", "user_id", "event_type", "value"),
        "event_type", probes, 4, 256)
        .select(col("w_start").cast("string"), col("est_click"), col("est_view"))
        .as[(String, Long, Long)].collect().sorted
      assert(got === batch, "streaming sketch diverged from batch twin")
      assert(got === Array(("2024-01-01 10:00:00", 4L, 1L)),
        "heavy-hitter estimate wrong (expect exact at this vocab/width)")
    } finally q.stop()
  }

  test("windowed KLL quantiles: streaming estimates equal the batch twin (exact sub-k regime)") {
    // the quantile sibling of the CMS window test: sketches merge
    // through the state store across micro-batches (including an
    // in-watermark late arrival); below k=256 items per window the
    // sketch stores every value, so the sealed-window estimates must
    // equal the batch twin BIT-EXACTLY, and equal the true lower
    // quantiles of the window
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val probs = Seq(0.25, 0.50, 0.75)
    val stream = WindowedAggs.windowedQuantiles(mem.toDF(), "value", 256, probs)
    val q = stream.writeStream.format("memory").queryName("kll_win")
      .outputMode("append").start()
    val events = (1 to 9).map(i =>
      Ev(i.toLong, ts(f"2024-01-01 10:${i * 5}%02d:00"), i.toLong, "click",
        ((i * 37) % 10).toDouble)) // distinct, deliberately unsorted values
    try {
      mem.addData(events.take(6): _*)
      q.processAllAvailable()
      mem.addData(events.drop(6): _*) // still inside the 10:00 window
      q.processAllAvailable()
      mem.addData(Ev(99, ts("2024-01-01 11:30:00"), 1, "click", 0.0))
      q.processAllAvailable()
      val got = spark.table("kll_win")
        .select(col("w_start").cast("string"), col("p25_est"), col("p50_est"),
          col("p75_est"))
        .as[(String, Double, Double, Double)].collect().sorted
      val batch = WindowedAggs.windowedQuantiles(
        events.map(e => (e.event_id, e.ts, e.user_id, e.event_type, e.value))
          .toDF("event_id", "ts", "user_id", "event_type", "value"),
        "value", 256, probs)
        .select(col("w_start").cast("string"), col("p25_est"), col("p50_est"),
          col("p75_est"))
        .as[(String, Double, Double, Double)].collect().sorted
      assert(got === batch, "streaming quantiles diverged from batch twin")
      // exact regime: lower quantile = sorted value at floor(p*(n-1))
      val vals = events.map(_.value).sorted
      def lq(p: Double) = vals((p * (vals.length - 1)).toInt)
      assert(got === Array(("2024-01-01 10:00:00", lq(0.25), lq(0.5), lq(0.75))))
    } finally q.stop()
  }

  test("windowed HLL distinct: arrival order cannot change the sealed estimate") {
    // register-wise MAX merge is commutative/associative/idempotent,
    // so however the micro-batches slice the window — including an
    // in-watermark late arrival and a duplicate user — the sealed
    // estimate must EQUAL the batch twin's, not just sit near it
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val stream = WindowedAggs.windowedDistinct(mem.toDF(), "user_id", 0.05)
    val q = stream.writeStream.format("memory").queryName("hll_win")
      .outputMode("append").start()
    val events = (1 to 12).map(i =>
      Ev(i.toLong, ts(f"2024-01-01 10:${(i * 4) % 60}%02d:00"), (i % 9).toLong,
        "click", 1.0)) // 9 distinct users, duplicates included
    try {
      mem.addData(events.take(7): _*)
      q.processAllAvailable()
      mem.addData(events.drop(7): _*)
      q.processAllAvailable()
      mem.addData(Ev(99, ts("2024-01-01 11:30:00"), 1, "click", 1.0))
      q.processAllAvailable()
      val got = spark.table("hll_win")
        .select(col("w_start").cast("string"), col("approx_keys"))
        .as[(String, Long)].collect().sorted
      val batch = WindowedAggs.windowedDistinct(
        events.map(e => (e.event_id, e.ts, e.user_id, e.event_type, e.value))
          .toDF("event_id", "ts", "user_id", "event_type", "value"),
        "user_id", 0.05)
        .select(col("w_start").cast("string"), col("approx_keys"))
        .as[(String, Long)].collect().sorted
      assert(got === batch, "streaming HLL diverged from batch twin")
      assert(got.length === 1 && math.abs(got(0)._2 - 9L) <= 4,
        s"estimate ${got.headOption} far from the true 9 distinct users")
    } finally q.stop()
  }

  test("streaming DSIR scorer: stateless per-row scores match batch bit-exactly across micro-batches") {
    // the production split of dsir_select: λ trains once in batch
    // (lamTable — B integer micro-units), then every ARRIVING document
    // scores row-locally against the λ map — no state, no watermark,
    // no shuffle, so streaming==batch parity must be exact integers
    import graft.queries.SelectionQueries
    import graft.streaming.StreamSelect
    implicit val ctx = spark.sqlContext
    val lam = SelectionQueries.lamTable(spark, sf001)
    assert(lam.size <= SelectionQueries.DsirBuckets)
    val docs = Tables.load(spark, sf001, "documents")
      .select("doc_id", "lang", "text").as[Doc].collect().take(40)
    val batch = StreamSelect.scored(
      docs.toSeq.toDF(), lam, SelectionQueries.DsirBuckets)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    // the row-local fold must agree with the explode+join batch query
    // on its own selected set (same integers, independent plans)
    val sel = SparkEntry.queries("dsir_select")(spark, sf001)
      .select("doc_id", "score_u").as[(Long, Long)].collect().toMap
    val byId = batch.map(r => r._1 -> r._3).toMap
    sel.foreach { case (id, su) =>
      byId.get(id).foreach(b => assert(b === su,
        s"fold scorer disagrees with dsir_select on doc $id"))
    }
    val mem = MemoryStream[Doc]
    val out = StreamSelect.scored(mem.toDF(), lam, SelectionQueries.DsirBuckets)
    val q = out.writeStream.format("memory").queryName("dsir_scores")
      .outputMode("append").start()
    try {
      val (b1, b2) = docs.splitAt(17)
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
      val got = spark.table("dsir_scores")
        .as[(Long, String, Long)].collect().sortBy(_._1)
      assert(got === batch, "streaming scores diverged from batch")
    } finally q.stop()
  }

  test("RocksDB state store: same dedup answers, provider actually engaged") {
    // the 100 TB state story: HDFSBackedStateStore holds state on the
    // executor HEAP (bounded by memory at large key cardinality);
    // RocksDBStateStoreProvider spills to local disk and is what a
    // production deployment runs. Same answers, and the progress
    // metrics must prove the provider was really in play.
    import graft.streaming.StreamDedup
    import scala.jdk.CollectionConverters._
    implicit val ctx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[Ev]
      val deduped = StreamDedup.firstPerKey(
        mem.toDF(), "ts", "30 minutes", Seq("event_id"))
      val q = deduped.writeStream.format("memory").queryName("rocksdb_dedup")
        .outputMode("append").start()
      try {
        mem.addData(
          Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
          Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0), // in-batch dup
          Ev(2, ts("2024-01-01 10:05:00"), 1, "view", 2.0))
        q.processAllAvailable()
        mem.addData(
          Ev(2, ts("2024-01-01 10:06:00"), 1, "view", 2.0), // cross-batch dup
          Ev(3, ts("2024-01-01 10:10:00"), 2, "click", 3.0))
        q.processAllAvailable()
        val got = spark.table("rocksdb_dedup")
          .select("event_id").as[Long].collect().sorted
        assert(got === Array(1L, 2L, 3L))
        val ops = q.lastProgress.stateOperators
        assert(ops.nonEmpty && ops.exists(
          _.customMetrics.keySet.asScala.exists(_.toLowerCase.contains("rocksdb"))),
          "RocksDB provider not engaged (no rocksdb custom metrics)")
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("incremental SemDeDup keep-list equals the batch query under id-ordered batches") {
    // the semdedup_keep twin of the signature-store loop below: the
    // store holds every SEEN vector (kept or dropped — the batch
    // greedy rule probes dropped ones too), survivors emit, and
    // id-ascending batching must reproduce the batch keep-list exactly
    import graft.queries.SelectionQueries
    import graft.streaming.StreamSelect
    import scala.collection.mutable
    implicit val ctx = spark.sqlContext
    val coefs = graft.ops.Similarity.centroidCoefs(
      SelectionQueries.SemK, SelectionQueries.SemDim)
    val all = Tables.load(spark, sf001, "embeddings")
      .select("vec_id", "embedding").as[StreamingSpec.Vec]
      .collect().sortBy(_.vec_id)
    var store = Seq.empty[(Long, Array[Float], Int)]
      .toDF("vec_id", "embedding", "cl")
    val keptIds = mutable.ArrayBuffer.empty[Long]
    val mem = MemoryStream[StreamingSpec.Vec]
    val q = mem.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val (assigned, kept) = StreamSelect.semdedupBatch(
          batch, store, coefs, SelectionQueries.SemTau)
        keptIds ++= kept.select("vec_id").as[Long].collect()
        store = store
          .union(assigned.select("vec_id", "embedding", "cl"))
          .localCheckpoint(true)
      }.start()
    try {
      val slices = all.grouped((all.length + 2) / 3).toSeq
      slices.foreach { s => mem.addData(s.toIndexedSeq); q.processAllAvailable() }
      val batchKept = SparkEntry.queries("semdedup_keep")(spark, sf001)
        .select("vec_id").as[Long].collect().toSet
      assert(keptIds.toSet === batchKept,
        "incremental keep-list diverged from the batch semdedup_keep")
      assert(keptIds.nonEmpty && keptIds.size < all.length,
        "fixture should both keep and drop")
    } finally q.stop()
  }

  test("incremental CDC chunk dedup equals the batch first-occurrence rule under id-ordered batches") {
    // the cdc_dedup twin of the signature-store loop: chunks append to
    // a store per batch, and an occurrence is dup iff a smaller
    // (doc_id, chunk_idx) occurrence exists in the store or batch —
    // id-ascending batching must reproduce the global rule exactly
    import graft.streaming.StreamDedup
    import scala.collection.mutable
    implicit val ctx = spark.sqlContext
    val all = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "lang", "text").as[Doc].collect().sortBy(_.doc_id)
    var store = Seq.empty[(Long, Long, Long, String)]
      .toDF("doc_id", "chunk_idx", "n_tokens", "chunk_md5")
    val got = mutable.Map.empty[Long, (Long, Long, Long)]
    val mem = MemoryStream[Doc]
    val q = mem.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val (chunks, stats) = StreamDedup.cdcBatch(
          batch.select("doc_id", "text"), store)
        stats.as[(Long, Long, Long, Long)].collect().foreach { r =>
          got(r._1) = (r._2, r._3, r._4)
        }
        store = store.union(chunks).localCheckpoint(true)
      }.start()
    try {
      val slices = all.grouped((all.length + 2) / 3).toSeq
      slices.foreach { s => mem.addData(s.toIndexedSeq); q.processAllAvailable() }
      // batch twin: the ORACLED cdc_novelty query (global
      // first-occurrence rule over the whole corpus)
      val expect = SparkEntry.queries("cdc_novelty")(spark, sf0001)
        .select("doc_id", "n_chunks", "n_dup_chunks", "dup_token_mass")
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
      assert(got.toMap === expect,
        "incremental chunk-dup stats diverged from the batch rule")
      // fixture sanity: dups exist and so do clean docs
      assert(got.values.exists(_._2 > 0) && got.values.exists(_._2 == 0))
    } finally q.stop()
  }

  test("incremental dedup store grows across micro-batches (foreachBatch append path)") {
    // the SCALE.md signature-store loop: each micro-batch probes the
    // store, novel docs are emitted AND their band keys appended, so a
    // later batch dedups against earlier batches' additions — not just
    // the original corpus.
    import graft.ops.Dedup
    import scala.collection.mutable
    implicit val ctx = spark.sqlContext
    val (k, b, r) = (12, 6, 2)
    def bands(df: org.apache.spark.sql.DataFrame) =
      Dedup.bandKeys(Dedup.minhashFromText(df, "doc_id", "text", k), "doc_id", b, r)
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val t2 = "one two three four five six seven eight nine ten"
    val t3 = "red orange yellow green blue indigo violet black white gray"
    var store = bands(Seq((0L, t1)).toDF("doc_id", "text"))
      .select("band").distinct().localCheckpoint(true)
    val novel = mutable.ArrayBuffer.empty[Long]
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDS().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val bb = bands(batch).localCheckpoint(true)
        val dup = bb.join(store, Seq("band")).select("doc_id").distinct()
        val nov = batch.select("doc_id").except(dup)
        novel ++= nov.as[Long].collect().sorted
        store = store.union(bb.join(nov, Seq("doc_id")).select("band"))
          .distinct().localCheckpoint(true)
      }.start()
    try {
      mem.addData((1L, t1), (2L, t2)) // 1 dups the corpus; 2 is novel
      q.processAllAvailable()
      assert(novel.toSeq === Seq(2L), s"batch 1 novel set wrong: $novel")
      // batch 2: doc 3 duplicates doc 2 — only caught if the store GREW
      mem.addData((3L, t2), (4L, t3))
      q.processAllAvailable()
      assert(novel.toSeq === Seq(2L, 4L),
        s"store did not grow across batches: $novel")
    } finally q.stop()
  }

  test("streaming dedup keeps first arrival per key, state bounded by watermark") {
    import graft.streaming.StreamDedup
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val deduped = StreamDedup.firstPerKey(
      mem.toDF(), "ts", "30 minutes", Seq("event_id"))
    val q = deduped.writeStream.format("memory").queryName("stream_dedup")
      .outputMode("append").start()
    try {
      // batch 1: two distinct keys + an in-batch duplicate of key 1
      mem.addData(
        Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Ev(1, ts("2024-01-01 10:01:00"), 1, "click", 2.0),
        Ev(2, ts("2024-01-01 10:02:00"), 2, "view", 1.0))
      q.processAllAvailable()
      // batch 2: cross-batch duplicate of key 2 (within watermark
      // horizon) -> dropped; new key 3 -> emitted
      mem.addData(
        Ev(2, ts("2024-01-01 10:10:00"), 2, "view", 9.0),
        Ev(3, ts("2024-01-01 10:12:00"), 3, "click", 1.0))
      q.processAllAvailable()
      val vals = spark.table("stream_dedup")
        .select(col("event_id"), col("value"))
        .as[(Long, Double)].collect().sorted
      // exactly one row per key, and it is the FIRST arrival's value
      assert(vals === Array((1L, 1.0), (2L, 1.0), (3L, 1.0)))
      // batch-parity: same keys as batch dropDuplicates over the union
      assert(vals.map(_._1).toSet === Set(1L, 2L, 3L))
    } finally q.stop()
  }

  test("foreachBatch idempotent sink: redelivered batch does not duplicate") {
    implicit val ctx = spark.sqlContext
    val outDir = Files.createTempDirectory("graft_eos").toString
    val ckpt = Files.createTempDirectory("graft_eos_ckpt").toString
    val mem = MemoryStream[Message]
    val q = ModerationStream.toExactlyOnceFiles(mem.toDF(), outDir, ckpt).start()
    try {
      mem.addData(Message("a", "1", "x"), Message("b", "2", "y"))
      q.processAllAvailable()
      mem.addData(Message("c", "3", "z"))
      q.processAllAvailable()
      val before = spark.read.parquet(s"$outDir/batch=*").count()
      assert(before === 3)
      // simulate checkpoint-recovery REDELIVERY of batch 1: the same
      // batch written again must overwrite, not append
      import spark.implicits._
      ModerationStream.writeBatchIdempotent(
        Seq(Message("c", "3", "z")).toDF(), 1L, outDir)
      val after = spark.read.parquet(s"$outDir/batch=*").count()
      assert(after === 3, "redelivered batch duplicated rows")
    } finally q.stop()
  }

  test("T4 liveness: dimension pair added between micro-batches blocks only later messages") {
    implicit val ctx = spark.sqlContext
    val dimDir = Files.createTempDirectory("graft_dim").toString
    val ckpt = Files.createTempDirectory("graft_dim_ckpt").toString
    // processing-time dimension state v1: only u2->r2 is blocked
    Seq("r2:u2").toDF("bk").write.mode("overwrite").parquet(dimDir)
    val out = collection.mutable.ArrayBuffer.empty[(Long, String)]
    val mem = MemoryStream[Message]
    val q = ModerationStream.withLiveDimension(
        mem.toDF(), dimDir, Seq("java"), ckpt) { (batch, id) =>
      out.synchronized {
        out ++= batch.select("sender").as[String].collect().map(id -> _)
      }
    }.start()
    try {
      mem.addData(Message("u1", "hi", "r1"), Message("u2", "hi", "r2"),
        Message("u3", "Java rocks", "r3"))
      q.processAllAvailable()
      // batch 0: u2 blocked, u3 passes (and is censored)
      assert(out.synchronized(out.toSet) === Set(0L -> "u1", 0L -> "u3"))
      // the dimension gains u3->r3 BETWEEN batches (GlobalKTable upsert)
      Seq("r2:u2", "r3:u3").toDF("bk").write.mode("overwrite").parquet(dimDir)
      mem.addData(Message("u1", "again", "r1"), Message("u3", "again", "r3"))
      q.processAllAvailable()
      val all = out.synchronized(out.toSeq)
      // batch 1: u3 now blocked — but batch 0's u3 output STANDS
      // (table state at processing time, not retroactive)
      assert(all.filter(_._1 == 1L).map(_._2) === Seq("u1"))
      assert(all.toSet === Set(0L -> "u1", 0L -> "u3", 1L -> "u1"))
    } finally q.stop()
  }

  test("checkpointed file sink writes each record exactly once") {
    implicit val ctx = spark.sqlContext
    val outDir = Files.createTempDirectory("graft_sink").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val mem = MemoryStream[Message]
    val q = mem.toDF().writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      mem.addData(Message("a", "1", "x"), Message("b", "2", "y"))
      q.processAllAvailable()
      mem.addData(Message("c", "3", "z"))
      q.processAllAvailable()
      val rows = spark.read.parquet(outDir).as[Message].collect()
      assert(rows.length === 3)
      assert(rows.map(_.sender).sorted === Array("a", "b", "c"))
    } finally q.stop()
  }

  test("streaming KS drift gate: identical batch scores 0, shifted batch is flagged") {
    import graft.streaming.StreamDrift
    implicit val ctx = spark.sqlContext
    val docs = Tables.load(spark, sf0001, "documents").select("doc_id", "text")
    val ref = StreamDrift.referenceEcdf(docs)
    // the reference tested against itself is exactly zero drift
    assert(StreamDrift.batchAudit(docs, 0L, ref, 0.15)._3 === 0.0)
    // a length-truncated batch (short docs only) must drift and flag
    val short = docs.filter(size(split($"text", " ")) < 25)
    val (_, n, ks, flagged) = StreamDrift.batchAudit(short, 1L, ref, 0.15)
    assert(n > 0 && ks > 0.15 && flagged, s"n=$n ks=$ks")
    // end-to-end streaming: batch 0 = in-distribution sample, batch 1
    // = shifted; audits arrive per micro-batch through the gate
    val ckpt = Files.createTempDirectory("graft_drift_ckpt").toString
    val audits = collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Boolean)]
    val mem = MemoryStream[(Long, String)]
    val q = StreamDrift.gate(
        mem.toDF().toDF("doc_id", "text"), ref, 0.15, ckpt) { a =>
      audits.synchronized { audits += a }
    }.start()
    try {
      val all = docs.as[(Long, String)].collect()
      mem.addData(all.toIndexedSeq: _*)
      q.processAllAvailable()
      val shortRows = short.as[(Long, String)].collect()
      mem.addData(shortRows.toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = audits.synchronized(audits.sortBy(_._1).toList)
    assert(got.length === 2)
    assert(got(0)._3 === 0.0 && !got(0)._4, s"full corpus drifted: ${got(0)}")
    assert(got(1)._3 === ks && got(1)._4, s"shifted batch not flagged: ${got(1)}")
  }

  test("streaming skew gate agrees with the batch Gini census and flags a hot key") {
    import graft.streaming.StreamSkew
    implicit val ctx = spark.sqlContext
    val ev = Tables.load(spark, sf0001, "events").select("event_id", "user_id")
    // the full fixture through the audit must reproduce the oracled
    // batch query's numbers exactly (same rank formulation)
    val (_, nKeys, total, top10, gini, _) =
      StreamSkew.batchAudit(ev, 0L, "user_id", 0.5)
    val b = SparkEntry.queries("key_skew_gini")(spark, sf0001).first()
    assert(nKeys === b.getAs[Long]("n_keys") && total === b.getAs[Long]("total"))
    assert(math.abs(gini - b.getAs[Double]("gini")) < 1e-6)
    // top10 vs the batch census (batch rounds to 6 dp)
    assert(math.abs(top10 - b.getAs[Double]("top10_share")) < 1e-6)
    // end-to-end: a balanced batch passes, a one-hot batch flags
    val ckpt = Files.createTempDirectory("graft_skew_ckpt").toString
    val audits = collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Double, Double, Boolean)]
    val mem = MemoryStream[(Long, Long)]
    val q = StreamSkew.gate(
        mem.toDF().toDF("event_id", "user_id"), "user_id", 0.5, ckpt) { a =>
      audits.synchronized { audits += a }
    }.start()
    try {
      mem.addData((1L to 40L).map(i => (i, i % 20)): _*) // balanced
      q.processAllAvailable()
      mem.addData(((41L to 140L).map(i => (i, 7L)) ++
        (141L to 150L).map(i => (i, i))): _*) // one hot key
      q.processAllAvailable()
    } finally q.stop()
    val got = audits.synchronized(audits.sortBy(_._1).toList)
    assert(got.length === 2)
    assert(!got(0)._6, s"balanced batch flagged: ${got(0)}")
    assert(got(1)._6 && got(1)._5 > 0.5, s"hot-key batch not flagged: ${got(1)}")
  }

  test("streaming funnel emits ordered-stage transitions; pre-signup views don't count") {
    import graft.streaming.StreamFunnel
    import graft.streaming.StreamFunnel.FunnelEvent
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[FunnelEvent]
    val q = StreamFunnel.transitions(mem.toDS(), "1 hour")
      .writeStream.format("memory").queryName("funnel_stream")
      .outputMode("append").start()
    try {
      mem.addData(
        // user 1 completes the funnel in order
        FunnelEvent(1, 10, ts("2024-01-01 10:00:00"), "signup"),
        FunnelEvent(1, 11, ts("2024-01-01 10:05:00"), "view"),
        FunnelEvent(1, 12, ts("2024-01-01 10:10:00"), "click"),
        FunnelEvent(1, 13, ts("2024-01-01 10:20:00"), "purchase"),
        // user 2: the 10:00 view precedes the signup -> must NOT count;
        // the 10:06 view (after signup) does; no click ever
        FunnelEvent(2, 20, ts("2024-01-01 10:00:00"), "view"),
        FunnelEvent(2, 21, ts("2024-01-01 10:05:00"), "signup"),
        FunnelEvent(2, 22, ts("2024-01-01 10:06:00"), "view"),
        FunnelEvent(2, 23, ts("2024-01-01 10:07:00"), "purchase"))
      q.processAllAvailable()
      // advance the watermark past every event (13:00 - 1h), then once
      // more so the timeout pass replays the sealed buffers
      mem.addData(FunnelEvent(99, 90, ts("2024-01-01 13:00:00"), "error"))
      q.processAllAvailable()
      mem.addData(FunnelEvent(99, 91, ts("2024-01-01 13:05:00"), "error"))
      q.processAllAvailable()
      // a late straggler (ts far below the watermark) must be dropped
      mem.addData(FunnelEvent(3, 30, ts("2024-01-01 09:00:00"), "signup"))
      q.processAllAvailable()
      // POST-COMPLETION arrivals for user 1 must not re-emit: the
      // completed funnel keeps a tombstone, so a second full pass
      // through the stages is ignored
      mem.addData(
        FunnelEvent(1, 40, ts("2024-01-01 14:00:00"), "signup"),
        FunnelEvent(1, 41, ts("2024-01-01 14:01:00"), "view"),
        FunnelEvent(1, 42, ts("2024-01-01 14:02:00"), "click"),
        FunnelEvent(1, 43, ts("2024-01-01 14:03:00"), "purchase"))
      q.processAllAvailable()
      mem.addData(FunnelEvent(99, 92, ts("2024-01-01 16:00:00"), "error"))
      q.processAllAvailable()
      mem.addData(FunnelEvent(99, 93, ts("2024-01-01 16:05:00"), "error"))
      q.processAllAvailable()
      val rows = spark.table("funnel_stream")
        .select(col("user_id"), col("stage"), col("ts").cast("string"))
        .as[(Long, Int, String)].collect().sorted
      assert(rows === Array(
        (1L, 1, "2024-01-01 10:00:00"), (1L, 2, "2024-01-01 10:05:00"),
        (1L, 3, "2024-01-01 10:10:00"), (1L, 4, "2024-01-01 10:20:00"),
        (2L, 1, "2024-01-01 10:05:00"), (2L, 2, "2024-01-01 10:06:00")))
      // state holds ONLY the two funnel entrants (user 1's tombstone,
      // user 2 at stage 2) — never the error-only user 99 or the
      // late-dropped user 3
      val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
      assert(stateRows === 2, s"state store holds $stateRows rows, want 2")
    } finally q.stop()
  }

  test("streaming cohort emits each (user, day-offset) exactly once, matching batch") {
    import graft.streaming.StreamCohort
    import graft.streaming.StreamCohort.CohortEvent
    implicit val ctx = spark.sqlContext
    val rnd = new scala.util.Random(424242L)
    val events = (1 to 150).map { i =>
      CohortEvent(1 + rnd.nextInt(10), i.toLong,
        new Timestamp(ts("2024-01-01 00:00:00").getTime
          + rnd.nextInt(10 * 86400) * 1000L))
    }
    val mem = MemoryStream[CohortEvent]
    // 240h delay >> the 10-day span: random arrival never looks late
    val q = StreamCohort.activities(mem.toDS(), 7, "240 hours")
      .writeStream.format("memory").queryName("cohort_stream")
      .outputMode("append").start()
    try {
      rnd.shuffle(events).grouped(50).foreach { chunk =>
        mem.addData(chunk: _*)
        q.processAllAvailable()
      }
      mem.addData(CohortEvent(999, 900, ts("2024-01-25 00:00:00")))
      q.processAllAvailable()
      mem.addData(CohortEvent(999, 901, ts("2024-01-25 00:05:00")))
      q.processAllAvailable()
      val got = spark.table("cohort_stream")
        .where(col("user_id") <= 10)
        .select(col("user_id"), col("cohort_day").cast("string"),
          col("day_offset"))
        .as[(Long, String, Int)].collect()
      assert(got.length == got.toSet.size, "duplicate activity emission")
      val expect = events.groupBy(_.user_id).flatMap { case (u, evs) =>
        val days = evs.map(e => Math.floorDiv(e.ts.getTime, 86400000L))
        val cohort = days.min
        days.map(d => (d - cohort).toInt).distinct.filter(_ <= 7)
          .map(off => (u, java.time.LocalDate.ofEpochDay(cohort).toString, off))
      }.toSet
      assert(got.toSet == expect)
    } finally q.stop()
  }

  test("streaming SCD2 changes equal the batch query's change rows on real events") {
    import graft.streaming.StreamScd2
    import graft.streaming.StreamScd2.ScdEvent
    implicit val ctx = spark.sqlContext
    val evs = Tables.load(spark, sf0001, "events")
      .select("user_id", "event_id", "ts", "event_type")
      .as[(Long, Long, Timestamp, String)].collect()
      .map(t => ScdEvent(t._1, t._2, t._3, t._4))
    val rnd = new scala.util.Random(7L)
    val mem = MemoryStream[ScdEvent]
    // 31-day delay > the fixture's 30-day span: nothing looks late
    val q = StreamScd2.changes(mem.toDS(), "744 hours")
      .writeStream.format("memory").queryName("scd2_stream")
      .outputMode("append").start()
    try {
      rnd.shuffle(evs.toSeq).grouped(400).foreach { chunk =>
        mem.addData(chunk: _*)
        q.processAllAvailable()
      }
      mem.addData(ScdEvent(999999, 1L << 40, ts("2024-03-15 00:00:00"), "x"))
      q.processAllAvailable()
      mem.addData(ScdEvent(999999, (1L << 40) + 1, ts("2024-03-15 00:05:00"), "x"))
      q.processAllAvailable()
      val got = spark.table("scd2_stream")
        .where(col("user_id") < 999999)
        .select(col("user_id"), col("event_type"), col("valid_from").cast("string"))
        .as[(Long, String, String)].collect()
      assert(got.length == got.toSet.size, "duplicate change emission")
      val expect = SparkEntry.allQueries.find(_.name == "scd2_intervals").get
        .run(spark, sf0001)
        .select(col("user_id"), col("event_type"), col("valid_from").cast("string"))
        .as[(Long, String, String)].collect().toSet
      assert(got.toSet == expect)
    } finally q.stop()
  }

  test("streaming funnel matches the batch cascaded-min windows under random arrival") {
    import graft.streaming.StreamFunnel
    import graft.streaming.StreamFunnel.FunnelEvent
    implicit val ctx = spark.sqlContext
    val types = Vector("signup", "view", "click", "purchase", "error")
    val rnd = new scala.util.Random(20260813L)
    val events = (1 to 120).map { i =>
      FunnelEvent(1 + rnd.nextInt(8), i.toLong,
        new Timestamp(ts("2024-01-01 10:00:00").getTime + rnd.nextInt(1800) * 1000L),
        types(rnd.nextInt(types.size)))
    }
    val mem = MemoryStream[FunnelEvent]
    // 2h delay >> the 30min event span: random arrival never looks late
    val q = StreamFunnel.transitions(mem.toDS(), "2 hours")
      .writeStream.format("memory").queryName("funnel_rand")
      .outputMode("append").start()
    try {
      rnd.shuffle(events).grouped(40).foreach { chunk =>
        mem.addData(chunk: _*)
        q.processAllAvailable()
      }
      mem.addData(FunnelEvent(99, 900, ts("2024-01-01 14:00:00"), "error"))
      q.processAllAvailable()
      mem.addData(FunnelEvent(99, 901, ts("2024-01-01 14:05:00"), "error"))
      q.processAllAvailable()
      val got = spark.table("funnel_rand")
        .select(col("user_id"), col("stage"), col("ts"))
        .as[(Long, Int, Timestamp)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      // batch truth: the funnel_steps cascaded running-mins on the
      // same events; min(r_k) per user = the final stage-k timestamp
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val expect = events.toDF()
        .withColumn("r1", min(when(col("event_type") === "signup", col("ts"))).over(w))
        .withColumn("r2", min(when(col("event_type") === "view" && col("r1").isNotNull, col("ts"))).over(w))
        .withColumn("r3", min(when(col("event_type") === "click" && col("r2").isNotNull, col("ts"))).over(w))
        .withColumn("r4", min(when(col("event_type") === "purchase" && col("r3").isNotNull, col("ts"))).over(w))
        .groupBy("user_id")
        .agg(min("r1").as("s1"), min("r2").as("s2"),
          min("r3").as("s3"), min("r4").as("s4"))
        .collect().flatMap { r =>
          (1 to 4).flatMap { k =>
            Option(r.getTimestamp(k)).map(t => (r.getLong(0), k) -> t)
          }
        }.toMap
      assert(got === expect)
    } finally q.stop()
  }

  test("streamed-in ANN index probes identically to the batch-built one") {
    import graft.sources.AnnIndex
    implicit val ctx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_annstream").toString
    val emb = Tables.load(spark, sf0001, "embeddings")
    // batch-built reference index (also trains the codebooks)
    val cb = AnnIndex.build(emb, s"$tmp/batch")
    // stream the same vectors in shuffled chunks into a fresh index
    val vecs = emb.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect()
    val rnd = new scala.util.Random(20260817L)
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = AnnIndex.appendStream(
      mem.toDF().toDF("vec_id", "embedding"), s"$tmp/streamed", s"$tmp/ckpt", cb)
    try {
      rnd.shuffle(vecs.toSeq).grouped(40).foreach { chunk =>
        mem.addData(chunk: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = AnnIndex.probe(spark, s"$tmp/streamed", emb, cb, maxQueryId = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val want = AnnIndex.probe(spark, s"$tmp/batch", emb, cb, maxQueryId = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got === want, "streamed index diverges from the batch-built index")
  }

  test("streaming ANN index: versioned refresh + per-batch deltas; final probe equals ann_ivf_pq; live deltas searchable; crash/restart safe") {
    import graft.streaming.StreamAnnIndex
    import graft.sources.AnnIndex
    import graft.functions.CentroidAssign
    import graft.queries.SimilarityQueries.{PqM, PqSub}
    implicit val ctx = spark.sqlContext
    val root = Files.createTempDirectory("graft_annx").toString
    val ckpt = Files.createTempDirectory("graft_annx_ckpt").toString
    val emb = Tables.load(spark, sf0001, "embeddings")
    val vecs = emb.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toVector
    // 9 batches (ids 0..8), refreshEvery = 4: refreshes at 0/4/8 with
    // deltas between — the LAST batch refreshes, so the final
    // codebooks train over ALL vectors (decimal-exact pqStep makes
    // them bit-identical to the inline query's own training)
    val nBatches = 9
    val sz = (vecs.length + nBatches - 1) / nBatches
    val chunks = new scala.util.Random(83).shuffle(vecs).grouped(sz).toVector
    assert(chunks.length === nBatches, s"fixture sizing: ${chunks.length}")
    val versions = collection.mutable.ArrayBuffer.empty[(Long, String)]
    val mem = MemoryStream[(Long, Seq[Float])]
    def start() = StreamAnnIndex.monitor(
        mem.toDF().toDF("vec_id", "embedding"), root, ckpt) { (id, v) =>
      versions.synchronized { versions += ((id, v)) }
    }.start()
    val q1 = start()
    try {
      chunks.take(6).foreach { c => mem.addData(c: _*); q1.processAllAvailable() }
    } finally q1.stop() // crash mid-version (v4 live, delta d5 landed)
    // LIVE-DELTA pin, across the restart boundary: vectors that
    // arrived AFTER the v4 rebuild are searchable NOW — the assembled
    // index covers every arrived vector, and the probe equals the
    // batch probe kernel over a one-shot encode of the same vectors
    // with the same frozen codebooks (plumbing-exact, no re-train)
    val arrived6 = chunks.take(6).flatten
    assert(StreamAnnIndex.indexFrame(spark, root, "v4").count()
      === arrived6.length.toLong, "live index must cover all arrived vectors")
    val cb4 = StreamAnnIndex.readCodebooks(spark, s"$root/v4")
    val oneShot = arrived6.toDF("vec_id", "embedding")
      .select(Seq(col("vec_id"),
        CentroidAssign(col("embedding"), cb4.coarse).as("cl")) ++
        (0 until PqM).map(m =>
          CentroidAssign(slice(col("embedding"), m * PqSub + 1, PqSub),
            cb4.pq(m)).as(s"code_$m")): _*)
    val liveGot = StreamAnnIndex.probeCurrent(spark, root, emb, maxQueryId = 5)
      .collect().map(_.toSeq).toSeq
    val liveWant = AnnIndex.probeFrame(spark, oneShot, emb, cb4,
      maxQueryId = 5, topK = 5).collect().map(_.toSeq).toSeq
    assert(liveGot === liveWant,
      "live probe over base+deltas diverges from the one-shot encode")
    // restart from the SAME checkpoint: the replayed batch overwrites
    // its own delta directory bit-identically (purity), then the
    // monitor recovers (version, codebooks) from the published pointer
    val q2 = start()
    try {
      chunks.drop(6).foreach { c => mem.addData(c: _*); q2.processAllAvailable() }
    } finally q2.stop()
    // the refresh cadence held across the crash: v0 at 0, v4 at 4-7,
    // v8 at 8 (replayed ids may repeat — take the last per id)
    val byId = versions.synchronized(
      versions.groupBy(_._1).map { case (k, vs) => k -> vs.last._2 })
    assert(byId(0L) === "v0" && byId(4L) === "v4" && byId(7L) === "v4"
      && byId(8L) === "v8", s"version cadence broke: $byId")
    // FINAL pin: the published index (v8, trained + encoded over all
    // vectors) probes row-for-row equal to the inline ann_ivf_pq query
    val got = StreamAnnIndex.probeCurrent(spark, root, emb)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val want = SparkEntry.queries("ann_ivf_pq")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got === want,
      "streamed versioned index diverges from the inline ann_ivf_pq")
  }

  test("streaming ANN index bootstrap: empty first batch reports 'none'; a delta-cadence batch on an unbootstrapped root performs the first refresh") {
    import graft.streaming.StreamAnnIndex
    import graft.sources.AnnIndex
    implicit val ctx = spark.sqlContext
    val root = Files.createTempDirectory("graft_annboot").toString
    val ckpt = Files.createTempDirectory("graft_annboot_ckpt").toString
    val vecs = Tables.load(spark, sf0001, "embeddings")
      .select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toVector
    val versions = collection.mutable.ArrayBuffer.empty[(Long, String)]
    val mem = MemoryStream[(Long, Seq[Float])]
    // refreshEvery = 0 disables the cadence: every batch takes the
    // DELTA path, so nothing would ever publish without the bootstrap
    // fallback — the exact wedge the round-13 advice flagged (a real
    // source's first trigger is commonly empty, and a thrown
    // foreachBatch replays forever)
    val q = StreamAnnIndex.monitor(
        mem.toDF().toDF("vec_id", "embedding"), root, ckpt,
        refreshEvery = 0) { (id, v) =>
      versions.synchronized { versions += ((id, v)) }
    }.start()
    try {
      // batch 0: EMPTY, nothing published — must report the sentinel,
      // not throw (a throw here wedges the stream permanently)
      mem.addData(Seq.empty[(Long, Seq[Float])]: _*)
      q.processAllAvailable()
      assert(versions.synchronized(versions.toList) === List((0L, "none")),
        s"empty bootstrap batch should report 'none': $versions")
      // batch 1: non-empty on an UNBOOTSTRAPPED root — the delta path
      // has no codebooks to encode with, so it must fall through to
      // the first refresh and publish
      mem.addData(vecs.take(300): _*)
      q.processAllAvailable()
      assert(versions.synchronized(versions.last) === ((1L, "v1")),
        s"unbootstrapped delta batch should refresh: $versions")
      assert(AnnIndex.currentVersion(spark, root) === "v1")
      // batch 2: a genuine delta against the published version
      mem.addData(vecs.slice(300, 500): _*)
      q.processAllAvailable()
      assert(versions.synchronized(versions.last) === ((2L, "v1")))
      assert(new java.io.File(s"$root/v1/d2/_SUCCESS").exists,
        "delta batch should land in the published version")
      // the live index is probe-able and covers every arrived vector
      assert(StreamAnnIndex.indexFrame(spark, root, "v1").count() === 500L)
    } finally q.stop()
  }

  test("ANN index refuses a batch/streaming directory mix instead of silently dropping files") {
    import graft.sources.AnnIndex
    implicit val ctx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_annmix").toString
    val emb = Tables.load(spark, sf0001, "embeddings")
    val cb = AnnIndex.build(emb, s"$tmp/batch")
    // (1) a FileStreamSink started over the batch-built index would
    // claim the directory with a commit log that hides every existing
    // file from commit-log-aware readers — appendStream must refuse
    val mem = MemoryStream[(Long, Seq[Float])]
    val refused = intercept[IllegalStateException] {
      AnnIndex.appendStream(mem.toDF().toDF("vec_id", "embedding"),
        s"$tmp/batch", s"$tmp/ck_refused", cb)
    }
    assert(refused.getMessage.contains("rebuild"), refused.getMessage)
    // (2) the converse mix — a batch write snuck into a streaming-only
    // index behind the sink's back — cannot be prevented here, so the
    // PROBE must fail loudly: spark.read.parquet would otherwise trust
    // the commit log and silently ignore the unlogged file
    val q = AnnIndex.appendStream(mem.toDF().toDF("vec_id", "embedding"),
      s"$tmp/streamed", s"$tmp/ckpt", cb)
    try {
      mem.addData(emb.select("vec_id", "embedding")
        .as[(Long, Seq[Float])].collect().toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    // sane before the corruption...
    assert(AnnIndex.probe(spark, s"$tmp/streamed", emb, cb, maxQueryId = 2).count() > 0)
    spark.read.parquet(s"$tmp/batch").limit(1)
      .write.mode("append").parquet(s"$tmp/streamed")
    // ...loud after it
    val mixed = intercept[IllegalStateException] {
      AnnIndex.probe(spark, s"$tmp/streamed", emb, cb, maxQueryId = 2).count()
    }
    assert(mixed.getMessage.contains("does not cover"), mixed.getMessage)
  }

  test("streaming latest-per-key snapshot equals the batch table under random arrival (KTable duality)") {
    import graft.streaming.StreamLatest
    import graft.streaming.StreamLatest.KV
    implicit val ctx = spark.sqlContext
    val events = Tables.load(spark, sf0001, "events")
      .select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"), col("value"))
      .as[KV].collect()
    val rnd = new scala.util.Random(20260816L)
    val mem = MemoryStream[KV]
    val q = StreamLatest.latest(mem.toDS())
      .writeStream.format("memory").queryName("ktable_snapshot")
      .outputMode("complete").start()
    try {
      rnd.shuffle(events.toSeq).grouped(400).foreach { chunk =>
        mem.addData(chunk: _*)
        q.processAllAvailable()
      }
      val got = spark.table("ktable_snapshot")
        .as[(Long, Long, String, Double)].collect().sortBy(_._1)
      val expect = SparkEntry.allQueries.find(_.name == "latest_per_key").get
        .run(spark, sf0001)
        .as[(Long, Long, String, Double)].collect().sortBy(_._1)
      assert(got === expect)
    } finally q.stop()
  }

  test("streaming adjacency emission aggregates to the batch Markov matrix under random arrival") {
    import graft.streaming.StreamTransitions
    import graft.streaming.StreamTransitions.SeqEvent
    implicit val ctx = spark.sqlContext
    val events = Tables.load(spark, sf0001, "events")
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .as[SeqEvent].collect()
    val rnd = new scala.util.Random(20260815L)
    val mem = MemoryStream[SeqEvent]
    // 60d delay >> the fixture's 30d span: random arrival never looks late
    val q = StreamTransitions.adjacencies(mem.toDS(), "60 days")
      .writeStream.format("memory").queryName("markov_stream")
      .outputMode("append").start()
    try {
      rnd.shuffle(events.toSeq).grouped(300).foreach { chunk =>
        mem.addData(chunk: _*)
        q.processAllAvailable()
      }
      // advance the watermark past every event + delay, then once more
      // so the timeout pass replays the sealed buffers
      mem.addData(SeqEvent(999999, 1L << 40, ts("2024-06-01 00:00:00"), "x"))
      q.processAllAvailable()
      mem.addData(SeqEvent(999999, (1L << 40) + 1, ts("2024-06-01 00:05:00"), "x"))
      q.processAllAvailable()
      val got = spark.table("markov_stream")
        .where(col("user_id") < 999999)
        .groupBy("prev_type", "next_type").count()
        .as[(String, String, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      val expect = SparkEntry.allQueries.find(_.name == "markov_transitions").get
        .run(spark, sf0001)
        .select(col("prev_type"), col("next_type"), col("n"))
        .as[(String, String, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      assert(got === expect)
    } finally q.stop()
  }

  test("streaming NB classifier: stateless scores match the batch query bit-exactly") {
    // the production split of lang_id_nb: the model trains once in
    // batch (vocabulary-bounded count maps in 1e-6 integer units),
    // then every ARRIVING document classifies row-locally — no state,
    // no watermark, no shuffle, integer-exact streaming==batch parity
    import graft.streaming.StreamClassify
    implicit val ctx = spark.sqlContext
    val model = StreamClassify.trainNb(
      Tables.load(spark, sf001, "documents")
        .filter(col("doc_id") % 2 === 0).select("lang", "text"))
    assert(model.classes === model.classes.sorted)
    assert(model.termU.values.map(_.size).sum <= 1000, "model not vocabulary-bounded")
    val docs = Tables.load(spark, sf001, "documents")
      .select("doc_id", "lang", "text").as[Doc].collect().take(60)
    val batchTwin = StreamClassify.classified(docs.toSeq.toDF(), model)
      .as[(Long, String, String, Long)].collect().sortBy(_._1)
    // the fold scorer must agree with the oracled batch query on
    // prediction AND integer-unit log-posterior (independent plans)
    val oracle = SparkEntry.queries("lang_id_nb")(spark, sf001)
      .select(col("doc_id"), col("pred_lang"),
        round(col("logpost") * 1e6, 0).cast("long").as("lp"))
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    batchTwin.foreach { case (id, _, pred, lp) =>
      oracle.get(id).foreach { case (p2, lp2) =>
        assert(pred === p2 && lp === lp2,
          s"fold scorer disagrees with lang_id_nb on doc $id")
      }
    }
    val mem = MemoryStream[Doc]
    val out = StreamClassify.classified(mem.toDF(), model)
    val q = out.writeStream.format("memory").queryName("nb_stream")
      .outputMode("append").start()
    try {
      val (b1, b2) = docs.splitAt(23)
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
      val got = spark.table("nb_stream")
        .as[(Long, String, String, Long)].collect().sortBy(_._1)
      assert(got === batchTwin, "streaming classifications diverged from batch")
    } finally q.stop()
  }

  test("streaming calibration census snapshot equals the batch query on every prefix") {
    import graft.streaming.StreamCalibration
    implicit val ctx = spark.sqlContext
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "lang", "text").as[Doc].collect()
    val arrival = new scala.util.Random(7).shuffle(docs.toSeq)
    val mem = MemoryStream[Doc]
    val q = StreamCalibration.bins(mem.toDF())
      .writeStream.format("memory").queryName("cal_stream")
      .outputMode("complete").start()
    try {
      var seen = Seq.empty[Doc]
      arrival.grouped(arrival.size / 3 + 1).foreach { b =>
        mem.addData(b: _*); q.processAllAvailable()
        seen = seen ++ b
        // batch twin over exactly the docs that have arrived so far —
        // the census must match at EVERY prefix, not just the end
        val expect = graft.queries.EvalQueries.calibrationBins(
            graft.queries.EvalQueries.scoreLabelOf(
              seen.toDF().select("doc_id", "text")))
          .as[(Long, Long, Long, Long, Double, Double, Double)]
          .collect().sortBy(_._1)
        val got = spark.table("cal_stream")
          .as[(Long, Long, Long, Long, Double, Double, Double)]
          .collect().sortBy(_._1)
        assert(got === expect, s"snapshot diverged after ${seen.size} docs")
      }
      // and the full-stream snapshot equals the REGISTERED query (an
      // independent code path reading the table directly)
      val fin = spark.table("cal_stream")
        .as[(Long, Long, Long, Long, Double, Double, Double)]
        .collect().sortBy(_._1)
      val reg = SparkEntry.queries("score_calibration")(spark, sf0001)
        .as[(Long, Long, Long, Long, Double, Double, Double)]
        .collect().sortBy(_._1)
      assert(fin === reg, "final snapshot diverged from score_calibration")
    } finally q.stop()
  }

  test("streaming EWMA matches the batch ewma_trend rows under random arrival") {
    import graft.streaming.StreamEwma
    import graft.streaming.StreamEwma.ValueEvent
    implicit val ctx = spark.sqlContext
    // real fixture events, cents exactly as the batch census quantizes
    val events = Tables.load(spark, sf0001, "events")
      .select(col("event_type"), col("event_id"), col("ts"),
        expr("cast(cast(value as decimal(12,2)) * 100 as long)").as("cents"))
      .as[ValueEvent].collect().toSeq
    val types = events.map(_.event_type).distinct.sorted
    val rnd = new scala.util.Random(20260814L)
    val mem = MemoryStream[ValueEvent]
    // 800h delay > the 30-day span: random arrival never looks late
    val q = StreamEwma.trend(mem.toDS(), "800 hours")
      .writeStream.format("memory").queryName("ewma_stream")
      .outputMode("append").start()
    try {
      rnd.shuffle(events).grouped(250).foreach { chunk =>
        mem.addData(chunk: _*)
        q.processAllAvailable()
      }
      // two sentinel rounds per type: round 1 advances the watermark
      // past all real data; round 2 advances it past round 1 so the
      // round-1 sentinels THEMSELVES seal and replay, closing each
      // type's final real hour. The sentinel hours stay open (round 2
      // is never sealed), so no sentinel row ever emits.
      types.zipWithIndex.foreach { case (ty, i) =>
        mem.addData(ValueEvent(ty, 900000L + i, ts("2024-03-15 12:00:00"), 0L))
      }
      q.processAllAvailable()
      types.zipWithIndex.foreach { case (ty, i) =>
        mem.addData(ValueEvent(ty, 910000L + i, ts("2024-06-01 12:00:00"), 0L))
      }
      q.processAllAvailable()
      val got = spark.table("ewma_stream")
        .as[(String, Timestamp, Double, Double)]
        .collect().sortBy(r => (r._1, r._2.getTime))
      val expect = SparkEntry.queries("ewma_trend")(spark, sf0001)
        .as[(String, Timestamp, Double, Double)]
        .collect().sortBy(r => (r._1, r._2.getTime))
      assert(got === expect, "streaming EWMA diverged from batch ewma_trend")
    } finally q.stop()
  }

  test("streaming SPRT monitor matches the batch sprt_boundary rows under random arrival") {
    import graft.streaming.StreamSprt
    import graft.streaming.StreamSprt.OutcomeEvent
    implicit val ctx = spark.sqlContext
    val events = Tables.load(spark, sf0001, "events")
      .select(col("user_id"), col("event_id"), col("ts"),
        (col("event_type") === "purchase").as("converted"))
      .as[OutcomeEvent].collect().toSeq
    val rnd = new scala.util.Random(20260816L)
    val mem = MemoryStream[OutcomeEvent]
    val q = StreamSprt.monitor(mem.toDS(), "800 hours")
      .writeStream.format("memory").queryName("sprt_stream")
      .outputMode("append").start()
    try {
      rnd.shuffle(events).grouped(250).foreach { chunk =>
        mem.addData(chunk: _*)
        q.processAllAvailable()
      }
      // heartbeat rounds (user_id < 0 never joins the census): round
      // 1 seals all real days, round 2 seals round 1 so the final
      // real day closes and emits
      mem.addData(OutcomeEvent(-1L, 900000L, ts("2024-03-15 12:00:00"), false))
      q.processAllAvailable()
      mem.addData(OutcomeEvent(-1L, 910000L, ts("2024-06-01 12:00:00"), false))
      q.processAllAvailable()
      val got = spark.table("sprt_stream")
        .as[(Timestamp, Long, Long, Double, String, Boolean)]
        .collect().sortBy(_._1.getTime)
      val expect = SparkEntry.queries("sprt_boundary")(spark, sf0001)
        .as[(Timestamp, Long, Long, Double, String, Boolean)]
        .collect().sortBy(_._1.getTime)
      assert(got === expect,
        "streaming SPRT diverged from the batch boundary table")
    } finally q.stop()
  }

  test("streaming Holt-Winters matches the batch holt_winters rows under random arrival") {
    import graft.streaming.StreamHoltWinters
    import graft.streaming.StreamHoltWinters.HourEvent
    implicit val ctx = spark.sqlContext
    val events = Tables.load(spark, sf0001, "events")
      .select(col("event_id"), col("ts"),
        expr("cast(cast(value as decimal(12,2)) * 100 as long)").as("cents"),
        lit(false).as("heartbeat"))
      .as[HourEvent].collect().toSeq
    val rnd = new scala.util.Random(20260817L)
    val mem = MemoryStream[HourEvent]
    val q = StreamHoltWinters.smooth(mem.toDS(), "800 hours")
      .writeStream.format("memory").queryName("hw_stream")
      .outputMode("append").start()
    try {
      rnd.shuffle(events).grouped(250).foreach { chunk =>
        mem.addData(chunk: _*)
        q.processAllAvailable()
      }
      // heartbeats: round 1 seals all real hours, round 2 seals
      // round 1 so the final real hour closes and emits
      mem.addData(HourEvent(900000L, ts("2024-03-15 12:00:00"), 0L, true))
      q.processAllAvailable()
      mem.addData(HourEvent(910000L, ts("2024-06-01 12:00:00"), 0L, true))
      q.processAllAvailable()
      val got = spark.table("hw_stream")
        .as[(Long, Timestamp, Long, Double, Double, Double, Double)]
        .collect().sortBy(_._1)
      val expect = SparkEntry.queries("holt_winters")(spark, sf0001)
        .as[(Long, Timestamp, Long, Double, Double, Double, Double)]
        .collect().sortBy(_._1)
      assert(got === expect,
        "streaming Holt-Winters diverged from the batch trajectory")
    } finally q.stop()
  }

  test("streaming attribution census matches the batch last-touch query under random arrival") {
    import graft.streaming.StreamAttribution
    import graft.streaming.StreamAttribution.TouchEvent
    implicit val ctx = spark.sqlContext
    val events = Tables.load(spark, sf0001, "events")
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        expr("cast(cast(value as decimal(12,2)) * 100 as long)").as("cents"))
      .as[TouchEvent].collect().toSeq
    val rnd = new scala.util.Random(20260815L)
    val mem = MemoryStream[TouchEvent]
    val q = StreamAttribution.attribute(mem.toDS(), "800 hours")
      .writeStream.format("memory").queryName("attr_stream")
      .outputMode("append").start()
    try {
      rnd.shuffle(events).grouped(250).foreach { chunk =>
        mem.addData(chunk: _*)
        q.processAllAvailable()
      }
      // one far-future sentinel advances the watermark past all real
      // data; its type is dropped before state, so nothing else shifts
      mem.addData(TouchEvent(999L, 900000L, ts("2024-06-01 12:00:00"), "error", 0L))
      q.processAllAvailable()
      val got = spark.table("attr_stream")
        .groupBy("touch")
        .agg(count(lit(1)).as("n"),
          (sum(col("cents")) / 100.0).as("v"))
        .as[(String, Long, Double)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      val expect = SparkEntry.queries("last_touch_attribution")(spark, sf0001)
        .as[(String, Long, Double)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      assert(got === expect,
        "streaming attribution census diverged from the batch as-of query")
    } finally q.stop()
  }

  test("streaming agreement monitor matches the batch Fleiss kappa exactly") {
    import graft.streaming.StreamAgreement
    implicit val ctx = spark.sqlContext
    // the full fixture through the census path must reproduce the
    // oracled batch query bit-for-bit (shared rule expressions, same
    // double formula)
    val docs = Tables.load(spark, sf0001, "documents")
      .select("text", "n_chars")
    val full = StreamAgreement.batchCensus(docs)
    val cells = Array.tabulate(4)(i => full.getOrElse(i, 0L))
    val (n, s, pbar, pe, k) = StreamAgreement.kappaOf(cells)
    val b = SparkEntry.queries("fleiss_kappa")(spark, sf0001).first()
    assert(n === b.getAs[Long]("n") && s === b.getAs[Long]("n_votes"))
    assert(pbar === b.getAs[Double]("pbar") && pe === b.getAs[Double]("pe"))
    val bk = if (b.isNullAt(b.fieldIndex("kappa"))) None
             else Some(b.getAs[Double]("kappa"))
    assert(k === bk, s"kappa diverged: stream $k vs batch $bk")
    // end-to-end: randomized arrival in uneven chunks; census merge is
    // exact integer addition, so the LAST audit row equals the batch
    val rows = docs.as[(String, Long)].collect().toVector
    val rnd = new scala.util.Random(17)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_agree_ckpt").toString
    val audits = collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Double, Double, Option[Double])]
    val mem = MemoryStream[(String, Long)]
    val state = new Array[Long](4)
    val q = StreamAgreement.monitor(
        mem.toDF().toDF("text", "n_chars"), ckpt, state) { a =>
      audits.synchronized { audits += a }
    }.start()
    try {
      rnd.shuffle(rows).grouped(7).foreach { chunk =>
        mem.addData(chunk: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val last = audits.synchronized(audits.sortBy(_._1).last)
    assert(last._2 === n && last._3 === s)
    assert(last._4 === pbar && last._5 === pe && last._6 === k,
      s"running kappa diverged after randomized arrival: $last")
    // monotone census growth sanity: n strictly increases per batch
    val ns = audits.synchronized(audits.sortBy(_._1).map(_._2).toList)
    assert(ns === ns.sorted && ns.distinct === ns,
      s"census size did not strictly grow: $ns")
  }

  test("streaming conformal radius matches the batch interval exactly") {
    import graft.streaming.StreamConformal
    implicit val ctx = spark.sqlContext
    // the calibration residuals the batch query ranks: seasonal-naive
    // |c(t) - c(t-168)| on EVEN days (same derivation as the query)
    val i = Tables.load(spark, sf0001, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg((sum(col("value").cast(org.apache.spark.sql.types.DataTypes
          .createDecimalType(12, 2)))
        .cast(org.apache.spark.sql.types.DataTypes.createDecimalType(18, 2))
        * 100).cast("long").as("c"))
      .select(col("event_type"),
        expr("unix_micros(hour) div 3600000000L").as("t"), col("c"))
    val b = i.select(col("event_type").as("etb"), col("t").as("tb"),
      col("c").as("cb"))
    val resid = i.join(b, col("event_type") === col("etb")
        && col("tb") === col("t") - 168)
      .filter(expr("t div 24") % 2 === 0)
      .select(col("event_type"), abs(col("c") - col("cb")).as("ar"))
      .as[(String, Long)].collect().toVector
    val expect = SparkEntry.queries("conformal_interval")(spark, sf0001)
      .select("event_type", "n_cal", "radius_cents")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // randomized arrival in uneven chunks; the census merge is exact
    // integer addition, so the final radii equal the batch query's
    val rnd = new scala.util.Random(23)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_conformal_ckpt").toString
    val audits = collection.mutable.ArrayBuffer
      .empty[(Long, String, Long, Option[Long])]
    val mem = MemoryStream[(String, Long)]
    val state = collection.mutable.Map.empty[(String, Long), Long]
    val q = StreamConformal.monitor(
        mem.toDF().toDF("event_type", "ar"), ckpt, state) { a =>
      audits.synchronized { audits += a }
    }.start()
    try {
      rnd.shuffle(resid).grouped(97).foreach { chunk =>
        mem.addData(chunk: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val lastBatch = audits.synchronized(audits.map(_._1).max)
    val got = audits.synchronized(
      audits.filter(_._1 == lastBatch)
        .collect { case (_, tpe, n, Some(r)) => tpe -> (n, r) }.toMap)
    assert(got === expect,
      s"streaming conformal radii diverged from the batch query: " +
        s"stream $got vs batch $expect")
  }

  test("streaming SAX words match the batch symbolization exactly") {
    import graft.streaming.StreamSax
    implicit val ctx = spark.sqlContext
    // the hourly cent census the batch query symbolizes
    val hrs = Tables.load(spark, sf0001, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg((sum(col("value").cast(org.apache.spark.sql.types.DataTypes
          .createDecimalType(12, 2)))
        .cast(org.apache.spark.sql.types.DataTypes.createDecimalType(18, 2))
        * 100).cast("long").as("c"))
      .select(col("event_type"),
        expr("unix_micros(hour) div 3600000000L").as("t"), col("c"))
      .as[(String, Long, Long)].collect().toVector
    val expect = SparkEntry.queries("sax_words")(spark, sf0001)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getString(2)))).toMap
    val rnd = new scala.util.Random(31)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_sax_ckpt").toString
    val audits = collection.mutable.ArrayBuffer
      .empty[(Long, String, Long, Option[String])]
    val mem = MemoryStream[(String, Long, Long)]
    val state = collection.mutable
      .Map.empty[(String, Long, Long), (Long, Long, BigInt)]
    val q = StreamSax.monitor(
        mem.toDF().toDF("event_type", "t", "c"), ckpt, state) { a =>
      audits.synchronized { audits += a }
    }.start()
    try {
      rnd.shuffle(hrs).grouped(211).foreach { chunk =>
        mem.addData(chunk: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val lastBatch = audits.synchronized(audits.map(_._1).max)
    val got = audits.synchronized(
      audits.filter(_._1 == lastBatch)
        .map(a => (a._2, a._3) -> a._4).toMap)
    assert(got === expect,
      s"streaming SAX words diverged from the batch query after " +
        s"randomized arrival (got ${got.size} keys, batch ${expect.size})")
  }

  test("streaming media decode matches the batch pixel stats exactly") {
    import graft.streaming.StreamMedia
    import graft.ops.Multimodal
    implicit val ctx = spark.sqlContext
    // the PNG/APNG subset png_pixel_stats decodes, as (id, bytes)
    val pngDocs = Tables.load(spark, sf0001, "documents")
      .filter(col("doc_id") % 6 === 0 || col("doc_id") % 3 === 2)
    val files = Multimodal.mediaContainers(pngDocs)
      .collect().map(m => (m.media_id, m.content)).toVector
    val expect = Multimodal
      .decodePixelStats(Multimodal.mediaContainers(pngDocs))
      .collect()
      .map(p => p.media_id -> StreamMedia.ImageStats(p.width, p.height,
        p.n_pixels, p.px_sum, p.px_wsum, p.px_min, p.px_max))
      .toMap
    val rnd = new scala.util.Random(41)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_media_ckpt").toString
    val audits = collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Int, Int)]
    val mem = MemoryStream[(Long, Array[Byte])]
    val state = collection.mutable.Map.empty[Long, StreamMedia.ImageStats]
    val q = StreamMedia.monitor(
        mem.toDF().toDF("media_id", "content"), ckpt, state) { a =>
      audits.synchronized { audits += a }
    }.start()
    try {
      rnd.shuffle(files).grouped(37).foreach { chunk =>
        mem.addData(chunk: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    // per-image parity: the streamed ledger IS the batch decode
    assert(state.toMap === expect,
      s"streamed per-image stats diverged (got ${state.size} images, " +
        s"batch ${expect.size})")
    // rollup parity + monotone growth of the image count across batches
    val ns = audits.synchronized(audits.sortBy(_._1).map(_._2).toList)
    assert(ns === ns.sorted, s"image count shrank across batches: $ns")
    val last = audits.synchronized(audits.maxBy(_._1))
    val (en, enp, es, emn, emx) = StreamMedia.rollup(expect)
    assert((last._2, last._3, last._4, last._5, last._6) ===
      ((en, enp, es, emn, emx)),
      "final streamed rollup diverged from the batch rollup")
  }

  test("streaming ANALYZE: exact counts/extrema, order-invariant sketches, in-band NDV") {
    import graft.streaming.StreamAnalyze
    implicit val ctx = spark.sqlContext
    val cols = Seq("l_orderkey" -> true, "l_quantity" -> true,
      "l_returnflag" -> false)
    val names = cols.map(_._1)
    val li = Tables.load(spark, sf0001, "lineitem")
      .select(col("l_orderkey").cast("long"),
        col("l_quantity").cast("double"), col("l_returnflag"))
    val rows = li.as[(Long, Double, String)].collect().toVector
    // the batch truth: counts/extrema must be bit-exact; the NDV
    // estimate must land inside the lgK=12 3-sigma band of exact
    val batchProf = StreamAnalyze.batchProfile(li.toDF(names: _*), cols)
    val exactNdv = names.map(c =>
      c -> li.toDF(names: _*).select(c).distinct().count()).toMap

    // ONE fixed chunking, delivered in two different ORDERS: the
    // register-max invariance claim is about arrival order of the
    // same micro-batches, so the batch contents must be held fixed
    val chunks = new scala.util.Random(47).shuffle(rows)
      .grouped(311).toVector

    def streamOnce(order: Vector[Vector[(Long, Double, String)]])
        : (Map[String, StreamAnalyze.ColProfile],
           Vector[(Long, String, Long, Long, Double)]) = {
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_analyze_ckpt").toString
      val audits = collection.mutable.ArrayBuffer
        .empty[(Long, String, Long, Long, Double)]
      val mem = MemoryStream[(Long, Double, String)]
      val state = collection.mutable.Map.empty[String, StreamAnalyze.ColProfile]
      val q = StreamAnalyze.monitor(
          mem.toDF().toDF(names: _*), cols, ckpt, state) { a =>
        audits.synchronized { audits += a }
      }.start()
      try {
        order.foreach { chunk =>
          mem.addData(chunk: _*)
          q.processAllAvailable()
        }
      } finally q.stop()
      (state.toMap, audits.synchronized(audits.toVector))
    }

    val (run1, audits1) = streamOnce(chunks)
    val (run2, _) = streamOnce(new scala.util.Random(93).shuffle(chunks))
    names.foreach { c =>
      val got = run1(c)
      val exp = batchProf(c)
      // counts and extrema: bit-exact against batch
      assert(got.n === exp.n && got.nonNull === exp.nonNull, c)
      assert(got.mn === exp.mn && got.mx === exp.mx, c)
      // register-max invariance: BOTH arrival orders reproduce the
      // one-pass batch registers bit-exactly
      assert(got.registers.sameElements(exp.registers),
        s"$c: streamed registers diverged from the batch census")
      assert(run2(c).registers.sameElements(exp.registers),
        s"$c: registers depended on arrival order")
      // and the estimate sits inside the stated 3-sigma band of exact
      val est = StreamAnalyze.estimate(got)
      assert(est === StreamAnalyze.estimate(exp))
      assert(math.abs(est - exactNdv(c)) <= 0.05 * exactNdv(c) + 16,
        s"$c: streamed NDV $est out of band of exact ${exactNdv(c)}")
    }
    // the running NDV estimate never decreases across batches
    names.foreach { c =>
      val series = audits1.filter(_._2 == c).sortBy(_._1).map(_._5).toList
      assert(series === series.sorted, s"$c NDV estimate shrank: $series")
    }
  }

  test("twin redelivery contracts: StreamMedia overwrite and StreamAnalyze register idempotency") {
    import graft.streaming.{StreamAnalyze, StreamMedia}
    import graft.ops.Multimodal
    implicit val ctx = spark.sqlContext
    // StreamAnalyze: the sketch/extrema components are IDEMPOTENT
    // under self-merge (only the additive counts need the batchId
    // guard) — the exact claim the scaladoc makes
    val cols = Seq("l_orderkey" -> true, "l_returnflag" -> false)
    val li = Tables.load(spark, sf0001, "lineitem")
      .select(col("l_orderkey").cast("long"), col("l_returnflag"))
    val prof = StreamAnalyze.batchProfile(li.toDF("l_orderkey", "l_returnflag"), cols)
    cols.map(_._1).foreach { c =>
      val p = prof(c)
      val m = StreamAnalyze.merge(p, p)
      assert(m.registers.sameElements(p.registers), s"$c registers not idempotent")
      assert(m.mn === p.mn && m.mx === p.mx, s"$c extrema not idempotent")
      assert(m.n === 2 * p.n, s"$c counts must be additive (guard covers them)")
    }
    // StreamMedia: redelivering EVERY batch through a second stream
    // (fresh checkpoint, same caller-owned ledger — worst-case full
    // replay) leaves the ledger bit-identical: overwrite merge of a
    // pure decode is structurally idempotent, no guard needed
    val files = Multimodal.mediaContainers(
        Tables.load(spark, sf0001, "documents")
          .filter(col("doc_id") % 6 === 0 || col("doc_id") % 3 === 2)
          .limit(40))
      .collect().map(m => (m.media_id, m.content)).toVector
    val state = collection.mutable.Map.empty[Long, StreamMedia.ImageStats]
    def deliver(): Unit = {
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_media_redeliver").toString
      val mem = MemoryStream[(Long, Array[Byte])]
      val q = StreamMedia.monitor(
        mem.toDF().toDF("media_id", "content"), ckpt, state)(_ => ()).start()
      try {
        files.grouped(13).foreach { chunk =>
          mem.addData(chunk: _*)
          q.processAllAvailable()
        }
      } finally q.stop()
    }
    deliver()
    val first = state.toMap
    deliver() // full redelivery
    assert(state.toMap === first,
      "full redelivery changed the StreamMedia ledger — overwrite merge broken")
  }

  test("streaming curation funnel: live 6-row census equals batch bit-exactly under randomized arrival") {
    import graft.streaming.StreamCuration
    import StreamingSpec.WebDoc
    implicit val ctx = spark.sqlContext
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "lang", "source", "text")
      .as[WebDoc].collect().toVector
    val expect = SparkEntry.queries("curation_funnel")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    val rnd = new scala.util.Random(47)
    val ckpt = Files.createTempDirectory("graft_curation_ckpt").toString
    val audits = collection.mutable.ArrayBuffer
      .empty[(Long, Array[org.apache.spark.sql.Row])]
    val mem = MemoryStream[WebDoc]
    // the decontamination gate's benchmark-evidence dimension is FIXED
    // by contract (the benchmark exists before the corpus) — built
    // once from the full table, like StreamDecontamination's evalSet
    val evidence = graft.queries.SelectionQueries.evalEvidence(
      Tables.load(spark, sf0001, "documents")).localCheckpoint(true)
    val q = StreamCuration.monitor(mem.toDF(), ckpt, evidence) { (id, rows) =>
      audits.synchronized { audits += ((id, rows)) }
    }.start()
    try {
      rnd.shuffle(docs).grouped(13).foreach { chunk =>
        mem.addData(chunk: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    // final census == the batch query, every value bit-exact (incl.
    // the domain-gate and packing stages, both retroactive under the
    // shuffled arrival this test feeds)
    val last = audits.synchronized(audits.maxBy(_._1)._2).map(_.toSeq).toSeq
    assert(last === expect,
      s"streaming funnel census diverged from batch:\n$last\nvs\n$expect")
    // every INTERMEDIATE census is a valid funnel over the docs seen
    // so far: 5 rows, out + dropped = in, stages chain
    audits.synchronized(audits.foreach { case (_, rows) =>
      assert(rows.length === 6)
      rows.foreach(r => assert(r.getLong(3) + r.getLong(4) === r.getLong(2)))
      (0 until 5).foreach(i =>
        assert(rows(i + 1).getLong(2) === rows(i).getLong(3),
          s"stage ${i + 2} docs_in != stage ${i + 1} docs_out"))
    })
    // structural idempotency (the StreamMedia ledger contract): a FULL
    // redelivery through the overwrite merge changes nothing
    val b1 = docs.take(20).toDF()
    val (l1, c1) = StreamCuration.funnelBatch(
      b1, StreamCuration.emptyLedger(spark), evidence)
    val (l2, c2) = StreamCuration.funnelBatch(b1, l1, evidence)
    assert(l2.count() === l1.count(), "redelivery grew the ledger")
    assert(c2.collect().map(_.toSeq).toSeq === c1.collect().map(_.toSeq).toSeq,
      "redelivery changed the census — overwrite merge broken")
  }

  test("durable streaming funnel: crash + restart replays the batch into an unchanged ledger") {
    import graft.streaming.StreamCuration
    import StreamingSpec.WebDoc
    implicit val ctx = spark.sqlContext
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "lang", "source", "text")
      .as[WebDoc].collect().toVector
    val expect = SparkEntry.queries("curation_funnel")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    val ckpt = Files.createTempDirectory("graft_curation_d_ckpt").toString
    val ledger = Files.createTempDirectory("graft_curation_ledger").toString
    val audits = collection.mutable.ArrayBuffer
      .empty[(Long, Array[org.apache.spark.sql.Row])]
    val mem = MemoryStream[WebDoc]
    val evidence = graft.queries.SelectionQueries.evalEvidence(
      Tables.load(spark, sf0001, "documents")).localCheckpoint(true)
    def start() = StreamCuration.monitorDurable(
        mem.toDF(), ckpt, ledger, evidence) {
      (id, rows) => audits.synchronized { audits += ((id, rows)) }
    }.start()
    val (first, rest) =
      new scala.util.Random(53).shuffle(docs).splitAt(docs.length / 2)
    val q1 = start()
    try {
      first.grouped(11).foreach { chunk =>
        mem.addData(chunk: _*); q1.processAllAvailable()
      }
    } finally q1.stop() // crash
    // restart from the SAME checkpoint: Structured Streaming replays
    // the last batch into foreachBatch with the SAME batchId — the
    // versioned ledger must absorb it (rewrite v<id> bit-identically)
    val q2 = start()
    try {
      rest.grouped(17).foreach { chunk =>
        mem.addData(chunk: _*); q2.processAllAvailable()
      }
    } finally q2.stop()
    val last = audits.synchronized(audits.maxBy(_._1)._2).map(_.toSeq).toSeq
    assert(last === expect,
      s"durable funnel census diverged after crash/replay:\n$last\nvs\n$expect")
    // the persisted ledger VIEW must hold exactly one profile per doc
    val finalLedger = StreamCuration.readLedger(spark, ledger).get
    assert(finalLedger.count() === docs.length.toLong)
    assert(finalLedger.select("doc_id").distinct().count() === docs.length.toLong)
  }

  test("durable streaming funnel: per-batch ledger writes scale with the batch's buckets, not the ledger") {
    import graft.streaming.StreamCuration
    import StreamingSpec.WebDoc
    import org.apache.spark.sql.functions.{col, hash, pmod, lit}
    implicit val ctx = spark.sqlContext
    val nB = 8
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "lang", "source", "text").as[WebDoc].collect().toVector
    // deliver docs GROUPED BY LEDGER BUCKET (one bucket per batch), so
    // a full-rewrite implementation would write the whole ledger every
    // batch while the partition-pruned MERGE writes ~1/nB of it
    val bktOf = Tables.load(spark, sf0001, "documents")
      .select(col("doc_id"), pmod(hash(col("doc_id")), lit(nB)).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val chunks = docs.groupBy(d => bktOf(d.doc_id)).toSeq.sortBy(_._1).map(_._2)
    assert(chunks.length === nB, "fixture did not populate every bucket")
    val ckpt = Files.createTempDirectory("graft_curation_inc_ckpt").toString
    val ledger = Files.createTempDirectory("graft_curation_inc_ledger").toString
    val mem = MemoryStream[WebDoc]
    var lastCensus: Seq[Seq[Any]] = Nil
    val evidence = graft.queries.SelectionQueries.evalEvidence(
      Tables.load(spark, sf0001, "documents")).localCheckpoint(true)
    val q = StreamCuration.monitorDurable(
        mem.toDF(), ckpt, ledger, evidence, nB) {
      (_, rows) => lastCensus = rows.map(_.toSeq).toSeq
    }.start()
    try {
      chunks.foreach { chunk =>
        mem.addData(chunk: _*); q.processAllAvailable()
      }
    } finally q.stop()
    // the census still matches the batch query after all buckets land
    val expect = SparkEntry.queries("curation_funnel")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    assert(lastCensus === expect,
      s"incremental-merge census diverged from batch:\n$lastCensus\nvs\n$expect")
    def bytesUnder(f: java.io.File): Long =
      if (f.isFile) f.length
      else Option(f.listFiles).fold(0L)(_.map(bytesUnder).sum)
    val versionDirs = new java.io.File(ledger).listFiles
      .filter(_.getName.startsWith("v")).sortBy(_.getName.drop(1).toLong)
    assert(versionDirs.length === nB)
    // WRITE PRUNING, mechanically: every version dir holds exactly the
    // ONE bucket its batch touched — a full-rewrite design would hold
    // all buckets seen so far
    versionDirs.foreach { v =>
      val bkts = v.listFiles.map(_.getName).filter(_.startsWith("bkt="))
      assert(bkts.length === 1,
        s"${v.getName} rewrote ${bkts.length} buckets — merge not partition-pruned")
    }
    // and byte-wise: the LAST batch's write is a small fraction of the
    // full ledger (one bucket ~ 1/nB of it; allow 2x slack for per-file
    // parquet overhead) — per-batch bytes track the batch, not the
    // corpus seen so far
    val lastBytes = bytesUnder(versionDirs.last)
    val ledgerBytes = versionDirs.map(bytesUnder).sum
    assert(lastBytes * (nB / 2) < ledgerBytes,
      s"last batch wrote $lastBytes of $ledgerBytes ledger bytes — write amplification")
  }

  test("durable ledger vacuum: superseded bucket versions removed, view bit-identical, horizon respected") {
    import graft.streaming.StreamCuration
    import StreamingSpec.WebDoc
    implicit val ctx = spark.sqlContext
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "lang", "source", "text")
      .as[WebDoc].collect().toVector
    val ledger = Files.createTempDirectory("graft_curation_vac").toString
    val nB = 4
    // batch 0 writes every bucket; batch 1 redelivers a subset, so the
    // buckets it touches supersede their v0 copies
    val evidence = graft.queries.SelectionQueries.evalEvidence(
      Tables.load(spark, sf0001, "documents")).localCheckpoint(true)
    StreamCuration.durableBatch(docs.toDF(), 0, ledger, nB, evidence)
    StreamCuration.durableBatch(docs.take(40).toDF(), 1, ledger, nB, evidence)
    def view = StreamCuration.readLedger(spark, ledger).get
      .collect().map(_.toSeq).sortBy(_.toString)
    val before = view
    // horizon safety: a vacuum that may still be replayed from batch 1
    // (beforeBatch = 1) must not touch anything batch 1 could read
    assert(StreamCuration.vacuumLedger(spark, ledger, beforeBatch = 1) === 0,
      "vacuum below the checkpoint horizon removed a readable version")
    val removed = StreamCuration.vacuumLedger(spark, ledger, beforeBatch = 2)
    assert(removed > 0, "batch 1 superseded v0 buckets — vacuum found none")
    assert(view === before, "vacuum changed the ledger view")
    // the superseded v0 bucket dirs are physically gone (v0 itself is
    // deleted whole if batch 1 touched every bucket)
    def bucketsOf(v: String): Set[String] =
      Option(new java.io.File(s"$ledger/$v").listFiles)
        .fold(Set.empty[String])(_.map(_.getName).filter(_.startsWith("bkt=")).toSet)
    assert(bucketsOf("v0").intersect(bucketsOf("v1")).isEmpty,
      "a bucket still has two live versions after vacuum")
    // TORN VERSION: simulate a run that died mid-write — v2 holds
    // task-committed bucket files but no job-level _SUCCESS marker.
    // External readers of the view must not union its torn data, and
    // vacuum must not let it claim buckets as live (which would delete
    // the committed copies readers still depend on).
    StreamCuration.durableBatch(docs.take(8).toDF(), 2, ledger, nB, evidence)
    assert(new java.io.File(s"$ledger/v2/_SUCCESS").delete(),
      "fixture: v2 _SUCCESS marker missing")
    assert(view === before, "an uncommitted (torn) version leaked into the view")
    // horizon safety for torn data too: v2 may still be REPLAYED
    // (batch 2 never committed), so a vacuum whose horizon is 2 must
    // leave the torn dir for the replay to overwrite
    assert(StreamCuration.vacuumLedger(spark, ledger, beforeBatch = 2) === 0,
      "vacuum touched a torn version at/above the horizon")
    assert(new java.io.File(s"$ledger/v2").exists,
      "torn version at the horizon must survive (its replay overwrites it)")
    // but BELOW the horizon a torn version is invisible to every
    // reader and can never become live (replay only rewrites the
    // newest batch id) — vacuum deletes it whole instead of letting
    // abandoned torn data accrete forever
    val tornBuckets = bucketsOf("v2").size
    assert(tornBuckets > 0, "fixture: torn v2 should hold bucket dirs")
    assert(StreamCuration.vacuumLedger(spark, ledger, beforeBatch = 3) === tornBuckets,
      "vacuum should delete exactly the torn version's bucket dirs")
    assert(!new java.io.File(s"$ledger/v2").exists,
      "an abandoned torn version below the horizon must be deleted whole")
    assert(view === before, "vacuum around a torn version changed the view")
  }

  test("durable funnel with scheduled vacuum: census bit-identical across in-stream vacuums + crash/restart; disk stays O(live buckets)") {
    import graft.streaming.StreamCuration
    import StreamingSpec.WebDoc
    implicit val ctx = spark.sqlContext
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "lang", "source", "text")
      .as[WebDoc].collect().toVector
    val expect = SparkEntry.queries("curation_funnel")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    val ckpt = Files.createTempDirectory("graft_curation_av_ckpt").toString
    val ledger = Files.createTempDirectory("graft_curation_av_ledger").toString
    val nB = 4
    var lastCensus: Seq[Seq[Any]] = Nil
    val mem = MemoryStream[WebDoc]
    // RANDOM delivery, small batches: nearly every batch touches all 4
    // buckets, so without vacuum the ledger accretes ~4 bucket copies
    // per batch; vacuumEvery = 2 must keep it near O(live buckets)
    val evidence = graft.queries.SelectionQueries.evalEvidence(
      Tables.load(spark, sf0001, "documents")).localCheckpoint(true)
    def start() = StreamCuration.monitorDurable(
        mem.toDF(), ckpt, ledger, evidence, nB, vacuumEvery = 2) { (_, rows) =>
      lastCensus = rows.map(_.toSeq).toSeq
    }.start()
    val shuffled = new scala.util.Random(59).shuffle(docs)
    val (first, rest) = shuffled.splitAt(docs.length / 2)
    val q1 = start()
    try {
      first.grouped(13).foreach { chunk =>
        mem.addData(chunk: _*); q1.processAllAvailable()
      }
    } finally q1.stop() // crash between vacuums
    val q2 = start()
    try {
      rest.grouped(13).foreach { chunk =>
        mem.addData(chunk: _*); q2.processAllAvailable()
      }
    } finally q2.stop()
    assert(lastCensus === expect,
      s"census diverged under in-stream vacuum:\n$lastCensus\nvs\n$expect")
    // view integrity: one profile per doc survives the vacuums
    val finalView = StreamCuration.readLedger(spark, ledger).get
    assert(finalView.count() === docs.length.toLong)
    assert(finalView.select("doc_id").distinct().count() === docs.length.toLong)
    // disk boundedness: without vacuum ~nB copies per batch accrete;
    // with it only the post-horizon tail (< vacuumEvery batches) plus
    // the nB live copies may remain
    val nBatches = (first.length + 12) / 13 + (rest.length + 12) / 13
    val bucketDirs = new java.io.File(ledger).listFiles
      .filter(_.getName.startsWith("v"))
      .flatMap(v => v.listFiles.map(_.getName).filter(_.startsWith("bkt=")))
    assert(bucketDirs.length <= nB * 4,
      s"${bucketDirs.length} bucket copies on disk after ~$nBatches batches — vacuum not bounding")
    assert(nBatches.toLong * nB > nB * 4 * 2,
      "fixture too small to distinguish vacuumed from unvacuumed disk")
  }

  test("streaming domain reputation: additive cells match batch bit-exactly; replay guard holds across restart") {
    import graft.streaming.StreamReputation
    import StreamingSpec.WebDoc
    implicit val ctx = spark.sqlContext
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "lang", "source", "text")
      .as[WebDoc].collect().toVector
    val expect = SparkEntry.queries("domain_quality_profile")(spark, sf0001)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5), r.getBoolean(6))).toSeq
    val ckpt = Files.createTempDirectory("graft_rep_ckpt").toString
    val audits = collection.mutable.ArrayBuffer
      .empty[(Long, Seq[(String, Long, Long, Long, Double, Long, Boolean)])]
    val state = collection.mutable.Map.empty[String, StreamReputation.DomainCell]
    val mem = MemoryStream[WebDoc]
    def start(after: Long) = StreamReputation.monitor(
        mem.toDF(), ckpt, state, after) { (id, rows) =>
      audits.synchronized { audits += ((id, rows)) }
    }.start()
    val rnd = new scala.util.Random(59)
    val (first, rest) = rnd.shuffle(docs).splitAt(docs.length / 2)
    val q1 = start(-1L)
    try {
      first.grouped(7).foreach { chunk =>
        mem.addData(chunk: _*); q1.processAllAvailable()
      }
    } finally q1.stop() // crash
    // restart from the SAME checkpoint: the last batch REPLAYS with
    // the same batchId — the additive merge must skip it (the batchId
    // guard), else every replayed domain double-counts
    val afterCrash = audits.synchronized(audits.map(_._1).max)
    val q2 = start(afterCrash)
    try {
      rest.grouped(13).foreach { chunk =>
        mem.addData(chunk: _*); q2.processAllAvailable()
      }
    } finally q2.stop()
    val last = audits.synchronized(audits.maxBy(_._1)._2)
    assert(last === expect,
      s"streaming reputation diverged from batch:\n$last\nvs\n$expect")
    // every intermediate table is internally consistent
    audits.synchronized(audits.foreach { case (_, rows) =>
      rows.foreach { case (_, nd, nq, nt, mean, nl, _) =>
        assert(nq <= nd && nl >= 1 && nt > 0)
        assert(math.abs(mean - nt.toDouble / nd) < 1e-6)
      }
    })
  }

  test("streaming semantic decontamination: additive sweep equals batch bit-exactly; guard holds across restart") {
    import graft.streaming.StreamDecontamination
    implicit val ctx = spark.sqlContext
    val taus = Seq(0.30, 0.35, 0.40) // the batch query's sweep, verbatim
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val isEval = col("vec_id") % 41 === 0 && col("vec_id") < 2000
    val evalSet = e.filter(isEval)
      .select("vec_id", "embedding").localCheckpoint(true)
    val train = e.filter(!isEval)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toVector
    val expect = SparkEntry.queries("semantic_decontamination")(spark, sf0001)
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
        r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toSeq
    val ckpt = Files.createTempDirectory("graft_decon_ckpt").toString
    val audits = collection.mutable.ArrayBuffer
      .empty[(Long, Seq[(Double, Long, Long, Double, Option[Double])])]
    val state = collection.mutable
      .Map.empty[Double, StreamDecontamination.TauCell]
    val mem = MemoryStream[(Long, Seq[Float])]
    def start(after: Long) = StreamDecontamination.monitor(
        mem.toDF().toDF("vec_id", "embedding"), evalSet, taus, ckpt,
        state, after) { (id, rows) =>
      audits.synchronized { audits += ((id, rows)) }
    }.start()
    val rnd = new scala.util.Random(71)
    val (first, rest) = rnd.shuffle(train).splitAt(train.length / 2)
    val q1 = start(-1L)
    try {
      first.grouped(29).foreach { chunk =>
        mem.addData(chunk: _*); q1.processAllAvailable()
      }
    } finally q1.stop() // crash
    // restart from the SAME checkpoint: the replayed batch must be
    // skipped by the guard, else every cell double-counts
    val afterCrash = audits.synchronized(audits.map(_._1).max)
    val q2 = start(afterCrash)
    try {
      rest.grouped(37).foreach { chunk =>
        mem.addData(chunk: _*); q2.processAllAvailable()
      }
    } finally q2.stop()
    val last = audits.synchronized(audits.maxBy(_._1)._2)
    assert(last === expect,
      s"streaming contamination sweep diverged from batch:\n$last\nvs\n$expect")
    // every intermediate sweep is internally consistent and monotone
    audits.synchronized(audits.foreach { case (_, rows) =>
      assert(rows.map(_._1) === taus)
      rows.foreach { case (_, nt, nc, rate, mean) =>
        assert(nc <= nt && math.abs(rate - nc.toDouble / nt) < 1e-12)
        assert(mean.isDefined === (nc > 0))
      }
      val ns = rows.map(_._3)
      assert(ns === ns.sorted.reverse, "tau sweep must be monotone")
    })
    // raw-table wiring guard: feeding the UNFILTERED table (eval rows
    // included) must produce the identical census — batchCensus
    // anti-joins the eval slice out, so a mis-wired ingest can't count
    // eval vectors (each self-matching at cosine 1.0) as contaminated
    // train rows
    val rawCensus = StreamDecontamination.batchCensus(
      e.select("vec_id", "embedding"), evalSet, taus)
    val filteredCensus = StreamDecontamination.batchCensus(
      e.filter(!isEval).select("vec_id", "embedding"), evalSet, taus)
    assert(rawCensus === filteredCensus,
      "eval rows leaked into the streamed train census")
  }

  test("streaming crawl frontier: live priority table equals the batch path after EVERY prefix; guard holds across restart") {
    import graft.streaming.{StreamFrontier, StreamLinkGraph, StreamReputation}
    import graft.queries.Html
    import StreamingSpec.WebDoc
    implicit val ctx = spark.sqlContext
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "lang", "source", "text")
      .as[WebDoc].collect().toVector
    val rnd = new scala.util.Random(67)
    val chunks = rnd.shuffle(docs).grouped(41).toVector
    // the batch computation over a prefix — outlink + profile censuses
    // through the batch projections, then the shared frontierTable
    def expectFor(prefix: Seq[WebDoc]): Seq[Seq[Any]] = {
      val df = prefix.toDF()
      Html.frontierTable(
        Html.outlinkEdges(Html.pageProjection(df)),
        Html.profileCensus(df)).collect().map(_.toSeq).toSeq
    }
    val ckpt = Files.createTempDirectory("graft_frontier_ckpt").toString
    val audits = collection.mutable.ArrayBuffer
      .empty[(Long, Array[org.apache.spark.sql.Row])]
    val edgeState = collection.mutable
      .Map.empty[(String, String), StreamLinkGraph.EdgeCell]
    val domState = collection.mutable
      .Map.empty[String, StreamReputation.DomainCell]
    val mem = MemoryStream[WebDoc]
    def start(after: Long) = StreamFrontier.monitor(
        mem.toDF(), ckpt, edgeState, domState, after) { (id, rows) =>
      audits.synchronized { audits += ((id, rows)) }
    }.start()
    val mid = chunks.length / 2
    val q1 = start(-1L)
    try {
      chunks.take(mid).foreach { chunk =>
        mem.addData(chunk: _*); q1.processAllAvailable()
      }
    } finally q1.stop() // crash
    // restart from the SAME checkpoint: the last batch replays with
    // the same id — ONE guard must skip BOTH census merges atomically
    val afterCrash = audits.synchronized(audits.map(_._1).max)
    val q2 = start(afterCrash)
    try {
      chunks.drop(mid).foreach { chunk =>
        mem.addData(chunk: _*); q2.processAllAvailable()
      }
    } finally q2.stop()
    // the frontier is bit-exact vs the batch path after EVERY prefix
    // (deduped by batchId: the replayed batch re-emits its table)
    val byBatch = audits.synchronized(
      audits.groupBy(_._1).view.mapValues(_.last._2).toMap)
    byBatch.toSeq.sortBy(_._1).foreach { case (id, rows) =>
      val exp = expectFor(chunks.take(id.toInt + 1).flatten)
      assert(rows.map(_.toSeq).toSeq === exp,
        s"frontier diverged from batch after prefix ${id + 1}")
    }
    // and the final table equals the registered batch query verbatim
    val full = SparkEntry.queries("crawl_frontier")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    val last = audits.synchronized(audits.maxBy(_._1)._2).map(_.toSeq).toSeq
    assert(last === full,
      "final streamed frontier != batch crawl_frontier")
  }

  test("streaming link graph: edge census matches batch bit-exactly; replay guard holds across restart") {
    import graft.streaming.StreamLinkGraph
    import StreamingSpec.WebDoc
    implicit val ctx = spark.sqlContext
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "lang", "source", "text")
      .as[WebDoc].collect().toVector
    val expect = SparkEntry.queries("html_outlinks")(spark, sf0001)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val ckpt = Files.createTempDirectory("graft_lg_ckpt").toString
    val audits = collection.mutable.ArrayBuffer
      .empty[(Long, Seq[(String, String, Long, Long)])]
    val state = collection.mutable
      .Map.empty[(String, String), StreamLinkGraph.EdgeCell]
    val mem = MemoryStream[WebDoc]
    def start(after: Long) = StreamLinkGraph.monitor(
        mem.toDF(), ckpt, state, after) { (id, rows) =>
      audits.synchronized { audits += ((id, rows)) }
    }.start()
    val rnd = new scala.util.Random(61)
    val (first, rest) = rnd.shuffle(docs).splitAt(docs.length / 2)
    val q1 = start(-1L)
    try {
      first.grouped(11).foreach { chunk =>
        mem.addData(chunk: _*); q1.processAllAvailable()
      }
    } finally q1.stop() // crash
    // restart from the SAME checkpoint: the last batch REPLAYS with
    // the same batchId — the additive merge must skip it, else every
    // replayed page double-counts its 4 links
    val afterCrash = audits.synchronized(audits.map(_._1).max)
    val q2 = start(afterCrash)
    try {
      rest.grouped(13).foreach { chunk =>
        mem.addData(chunk: _*); q2.processAllAvailable()
      }
    } finally q2.stop()
    val last = audits.synchronized(audits.maxBy(_._1)._2)
    assert(last === expect,
      s"streaming link graph diverged from batch:\n$last\nvs\n$expect")
    // every intermediate census conserves the 4-links-per-page invariant
    audits.synchronized(audits.foreach { case (_, rows) =>
      assert(rows.map(_._3).sum % 4 === 0,
        "link totals must always be a whole number of 4-link pages")
      rows.foreach { case (_, _, nl, ndc) => assert(ndc <= nl) }
    })
  }

  test("streaming preference census: keyed rosters emit each pair once; census matches batch across restart") {
    import graft.streaming.StreamPreference
    import graft.queries.Preference
    import StreamingSpec.WebDoc
    implicit val ctx = spark.sqlContext
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "lang", "source", "text")
      .as[WebDoc].collect().toVector
    val expect = Preference.matchCensus(Preference.candidates(spark, sf0001))
      .orderBy("s1", "s2").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val ckpt = Files.createTempDirectory("graft_pref_ckpt").toString
    val audits = collection.mutable.ArrayBuffer
      .empty[(Long, Seq[(String, String, Long, Long)])]
    val census = collection.mutable.Map.empty[(String, String), (Long, Long)]
    val mem = MemoryStream[WebDoc]
    def start(after: Long) = StreamPreference.monitor(
        mem.toDF(), ckpt, census, after) { (id, rows) =>
      audits.synchronized { audits += ((id, rows)) }
    }.start()
    val rnd = new scala.util.Random(67)
    // shuffled arrival: group members land in different batches, so
    // most pairs only decide when their SECOND member shows up — the
    // exact seam the keyed roster state exists for
    val (first, rest) = rnd.shuffle(docs).splitAt(docs.length / 2)
    val q1 = start(-1L)
    try {
      first.grouped(9).foreach { chunk =>
        mem.addData(chunk: _*); q1.processAllAvailable()
      }
    } finally q1.stop() // crash
    // restart from the SAME checkpoint: the state store rolls back
    // with the replayed batch, which re-emits IDENTICAL pairs — the
    // sink guard must drop them or every replayed pair double-counts
    val afterCrash = audits.synchronized(audits.map(_._1).max)
    val q2 = start(afterCrash)
    try {
      rest.grouped(13).foreach { chunk =>
        mem.addData(chunk: _*); q2.processAllAvailable()
      }
    } finally q2.stop()
    val last = audits.synchronized(audits.maxBy(_._1)._2)
    assert(last === expect,
      s"streaming preference census diverged from batch:\n$last\nvs\n$expect")
    // monotone construction: every intermediate census is a prefix in
    // the match partial order (wins never exceed matches; totals only
    // grow batch over batch)
    val totals = audits.synchronized(audits.sortBy(_._1)
      .map(_._2.map(_._3).sum))
    assert(totals.zip(totals.tail).forall { case (a, b) => b >= a })
    audits.synchronized(audits.foreach { case (_, rows) =>
      rows.foreach { case (_, _, m, w) => assert(w >= 0 && w <= m) }
    })
  }
}

/** Top-level (encoder-friendly) fixture types. */
object StreamingSpec {
  case class Doc(doc_id: Long, lang: String, text: String)
  case class Vec(vec_id: Long, embedding: Array[Float])
  case class WebDoc(doc_id: Long, lang: String, source: String, text: String)
}
