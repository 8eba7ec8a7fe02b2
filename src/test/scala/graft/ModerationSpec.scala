package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Moderation
import graft.ops.Moderation.Message

/** Golden-fixture parity with the reference (FIXTURES.md §A; reference
  * README.md:24-55, logs/application.log:56-61) plus the edge cases the
  * reference leaves untested (FIXTURES.md §A.4).
  */
class ModerationSpec extends SparkSpec {
  import spark.implicits._

  // Reference golden fixture (KafkaStreamApp.java:53-54,237-240)
  val goldenWords: DataFrame = Seq(
    ("Политика", "ban"), ("1C", "ban"), ("Алкоголь", "ban")
  ).toDF("word", "value")

  val goldenBlocked: DataFrame = Seq(
    "login1:login2", "login1:login3", "login2:login4"
  ).toDF("bk")

  val goldenMessages: DataFrame = Seq(
    Message("login4", "Java", "login1"),
    Message("login2", "Spring", "login1"),
    Message("login3", "1С", "login1"), // Cyrillic С — homoglyph of Latin C
    Message("login5", "Политика React", "login1")
  ).toDF()

  def runPipeline(singlePass: Boolean): Seq[(String, String, String)] = {
    val words = Moderation.activeBanWords(goldenWords, "word", "value")
    Moderation.pipeline(goldenMessages, goldenBlocked, words, singlePass)
      .select("sender", "text", "receiver")
      .as[(String, String, String)].collect().sortBy(_._1).toSeq
  }

  test("golden output matches reference README.md:53-54 (fold path)") {
    assert(runPipeline(singlePass = false) === Seq(
      ("login4", "Java", "login1"),
      ("login5", "******** React", "login1")))
  }

  test("golden output matches reference (single-pass CensorText path)") {
    // The golden vocab has a Cyrillic 'а' suffix-prefix overlap
    // (Политика/Алкоголь); the ignored singlePass hint and the
    // CensorText column entry point both give the reference output.
    assert(!Moderation.singlePassEquivalent(
      Moderation.activeBanWords(goldenWords, "word", "value")))
    assert(runPipeline(singlePass = true) === Seq(
      ("login4", "Java", "login1"),
      ("login5", "******** React", "login1")))
    val words = Moderation.activeBanWords(goldenWords, "word", "value")
    val direct = Moderation.dropBlocked(goldenMessages, goldenBlocked)
      .withColumn("text", graft.functions.CensorText(col("text"), words))
      .select("sender", "text", "receiver")
      .as[(String, String, String)].collect().sortBy(_._1).toSeq
    assert(direct === Seq(
      ("login4", "Java", "login1"),
      ("login5", "******** React", "login1")))
  }

  test("blocked pair is directional: receiver:sender, not sender:receiver") {
    // login1:login2 is blocked => login2->login1 dropped, but the
    // reverse direction login1->login2 must PASS.
    val reverse = Seq(Message("login1", "hello", "login2")).toDF()
    val out = Moderation.dropBlocked(reverse, goldenBlocked).count()
    assert(out === 1)
    val forward = Seq(Message("login2", "hello", "login1")).toDF()
    assert(Moderation.dropBlocked(forward, goldenBlocked).count() === 0)
  }

  test("censor is ASCII-case-insensitive and masks with word-length asterisks") {
    // Java `(?i)` without UNICODE_CASE folds ASCII only — mixed-case
    // ASCII masks, mixed-case Cyrillic does NOT (reference parity:
    // MessageFilterProcessor.java:38 uses plain "(?i)" + replaceAll).
    val out = Seq(Message("a", "jAvA and Java; пОлИтИкА и Политика", "b")).toDF()
      .select(Moderation.censorFold($"text", Seq("java", "Политика")).as("t"))
      .as[String].head()
    assert(out === "**** and ****; пОлИтИкА и ********")
  }

  test("regex metacharacters in words are literal (Pattern.quote)") {
    val out = Seq(("I like C++ and aXb and a.b", 1)).toDF("text", "i")
      .select(Moderation.censorFold($"text", Seq("C++", "a.b")).as("t"))
      .as[String].head()
    // "a.b" must NOT match "aXb" (dot is literal); "C++" masked as 3 chars
    assert(out === "I like *** and aXb and ***")
  }

  test("oracle duckCensor quotes regex metachars to match the literal engine") {
    // The engine side Pattern.quotes every ban word (test above); the
    // DuckDB oracle SQL must match literally too, or a metachar word
    // would silently diverge the ORACLE rather than the engine.
    val sql = graft.queries.CoreQueries.duckCensor("text", Seq("C++", "a.b", "it's"))
    assert(sql.contains("'C\\+\\+'"), sql)   // + escaped for RE2
    assert(sql.contains("'a\\.b'"), sql)     // dot literal, not any-char
    assert(sql.contains("'it''s'"), sql)     // SQL quote doubled
    // plain alphanumeric words pass through unescaped (byte-identical
    // oracle SQL for the shipped banWords vocabulary)
    assert(graft.queries.CoreQueries.duckCensor("t", Seq("spark"))
      === "regexp_replace(t, 'spark', '*****', 'gi')")
  }

  test("Cyrillic/Latin homoglyphs do not cross-match (ASCII (?i) semantics)") {
    val out = Seq(Message("a", "1С", "b")).toDF() // Cyrillic С
      .select(Moderation.censorFold($"text", Seq("1C")).as("t")) // Latin C
      .as[String].head()
    assert(out === "1С")
  }

  test("null text passes through unchanged (U5)") {
    val out = Seq(Message("a", null, "b")).toDF()
      .select(Moderation.censorFold($"text", Seq("x")).as("t"))
      .as[String].collect()
    assert(out === Array(null))
  }

  test("only value == \"ban\" words are active (U3)") {
    val words = Seq(("Политика", "ban"), ("Java", "warn"), ("Spring", null))
      .toDF("word", "value")
    assert(Moderation.activeBanWords(words, "word", "value") === Seq("Политика"))
  }

  test("substring matching, no word boundaries (README.md:54)") {
    val out = Seq(Message("a", "Политика React", "b")).toDF()
      .select(Moderation.censorFold($"text", Seq("Политика")).as("t"))
      .as[String].head()
    assert(out === "******** React")
  }

  test("latestPerKey compacts a changelog and drops tombstones") {
    val changelog = Seq(
      ("k1", 1L, "v1"), ("k1", 2L, "v2"),
      ("k2", 1L, "v1"), ("k2", 2L, null),
      ("k3", 5L, "only")
    ).toDF("key", "offset", "value")
    val out = Moderation.latestPerKey(changelog, "key", "offset", "value")
      .select("key", "value").as[(String, String)].collect().sortBy(_._1)
    assert(out === Array(("k1", "v2"), ("k3", "only")))
  }

  test("empty word list censor is identity") {
    val out = Seq(("unchanged", 1)).toDF("text", "i")
      .select(Moderation.censorFold($"text", Nil).as("t")).as[String].head()
    assert(out === "unchanged")
  }

  test("order-dependent vocabularies fold in the given word order") {
    def fold(text: String, words: Seq[String]): String =
      Seq((text, 1)).toDF("text", "i")
        .select(Moderation.censorFold($"text", words).as("t")).as[String].head()
    // substring pair: "b" masks first, leaving no "ab" to match
    assert(!Moderation.singlePassEquivalent(Seq("b", "ab")))
    assert(fold("ab", Seq("b", "ab")) === "a*")
    assert(fold("ab", Seq("ab", "b")) === "**")
    // suffix-prefix overlap: "bc" masks first and destroys "ab"
    assert(!Moderation.singlePassEquivalent(Seq("bc", "ab")))
    assert(fold("abc", Seq("bc", "ab")) === "a**")
    assert(fold("abc", Seq("ab", "bc")) === "**c")
    // case-insensitive like the censor itself
    assert(!Moderation.singlePassEquivalent(Seq("AB", "b")))
    // the fixture vocab is order-independent
    assert(Moderation.singlePassEquivalent(CoreWords.words))
  }

  test("null receiver/sender yields a NULL blocked key that never matches") {
    // null-propagating concat (SQL || semantics): a message with a null
    // field can never be dropped by the anti-join, and a blocked entry
    // with a null field can never drop anyone. A sender containing ':'
    // must not collide with a collapsed key (the concat_ws trap).
    val msgs = Seq(
      Message("s1", "keep: null receiver", null),
      Message(null, "keep: null sender", "r1"),
      Message("x:s", "keep: colon sender, no such pair", "r2"),
      Message("s2", "drop: blocked pair", "r2")
    ).toDF()
    val blocked = Seq("r2:s2", null, "x:s").toDF("bk")
    val out = Moderation.dropBlocked(msgs, blocked)
      .select("text").as[String].collect().sorted
    assert(out === Array("keep: colon sender, no such pair",
      "keep: null receiver", "keep: null sender"))
  }

  test("fixture vocab: censorFold == sequential replaceAll on sf0.001 documents") {
    val words = CoreWords.words
    val rows = Tables.load(spark, sf0001, "documents")
      .select($"text", Moderation.censorFold($"text", words).as("t"))
      .as[(String, String)].collect()
    assert(rows.exists { case (text, t) => text != t })
    rows.foreach { case (text, t) =>
      assert(t === (if (text == null) null else CensorProps.foldRef(text, words)))
    }
  }

  test("300-word order-dependent vocabulary: one codegen'd CensorText, exact fold") {
    // stems plus their prefixes, infixes, extended forms and upper-case
    // spellings: many substring and suffix-prefix overlaps, unsorted
    val rnd = new scala.util.Random(42)
    def stem(): String = Seq.fill(5 + rnd.nextInt(4))("abcdeiklmnorst"(rnd.nextInt(14))).mkString
    val words = Iterator.continually(stem()).flatMap { w =>
      Seq(w, w.take(3), w.slice(1, 4), w + "er", (w.drop(2) + "s").toUpperCase)
    }.distinct.take(300).toSeq
    assert(words.size === 300 && !Moderation.singlePassEquivalent(words))
    val fillers = Seq(" ", ", ", " а ", "! ", "É")
    val texts = (0 until 400).map { i =>
      val n = 3 + rnd.nextInt(10)
      val body = Seq.fill(n) {
        val w = words(rnd.nextInt(words.size))
        (if (rnd.nextBoolean()) w.toUpperCase else w) + fillers(rnd.nextInt(fillers.size))
      }.mkString
      (i, if (i % 50 == 0) null else body)
    }
    val dir = java.nio.file.Files.createTempDirectory("censor300").resolve("t").toString
    texts.toDF("id", "text").write.parquet(dir)

    val key = "spark.sql.codegen.fallback"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val df = spark.read.parquet(dir)
        .select($"id", $"text", Moderation.censorFold($"text", words).as("t"))
      val rows = df.as[(Int, String, String)].collect()
      assert(rows.length === texts.size)
      assert(rows.count { case (_, text, t) => text != t } > texts.size / 2)
      rows.foreach { case (id, text, t) =>
        assert(t === (if (text == null) null else CensorProps.foldRef(text, words)), s"id=$id")
      }

      val exprs = df.queryExecution.optimizedPlan.flatMap(_.expressions)
        .flatMap(_.collect { case e => e })
      assert(exprs.count(_.isInstanceOf[graft.functions.CensorText]) === 1)
      assert(!exprs.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.RegExpReplace]))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.linesIterator.exists(l =>
        l.contains("censor_text") && l.trim.startsWith("*(")),
        s"censor project not codegen'd:\n$plan")
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}

object CoreWords { val words = graft.queries.CoreQueries.banWords }
