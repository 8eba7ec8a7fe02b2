package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ReferenceModeratorSpec extends AnyFunSuite {
  import ReferenceModerator._

  private val golden = Seq(
    Gen.Msg(0, "login4", "Java", "login1"),
    Gen.Msg(1, "login2", "Spring", "login1"),
    Gen.Msg(2, "login3", "1С", "login1"),
    Gen.Msg(3, "login5", "Политика React", "login1"))

  test("golden fixture: the reference's two expected outputs") {
    val ref = new ReferenceModerator(goldenWords)
    val out = golden.flatMap(ref.moderate(_, goldenBlocked))
    assert(out == goldenExpected.map { case (s, t, r) => (s, Gen.valueJson(t, r)) })
  }

  test("the drop is directed: receiver:sender, not sender:receiver") {
    val ref = new ReferenceModerator(Nil)
    val blocked = Set("login1:login2")
    assert(ref.moderate(Gen.Msg(0, "login2", "hi", "login1"), blocked).isEmpty)
    assert(ref.moderate(Gen.Msg(1, "login1", "hi", "login2"), blocked).isDefined)
  }

  test("null text passes through; a null party never matches a blocked pair") {
    val ref = new ReferenceModerator(Seq("x" -> "ban"))
    assert(ref.moderate(Gen.Msg(0, "a", null, "b"), Set.empty) == Some("a" -> """{"receiver":"b"}"""))
    assert(ref.moderate(Gen.Msg(1, "a", "x", null), Set("null:a")) == Some("a" -> """{"text":"*"}"""))
  }

  test("only value == \"ban\" rows are active") {
    val ref = new ReferenceModerator(Seq("java" -> "ban", "spring" -> "warn", "kafka" -> "Ban"))
    assert(ref.banWords.toSeq == Seq("java"))
    assert(ref.censor("Java Spring Kafka") == "**** Spring Kafka")
  }

  test("the fold is sequential over sorted words, each over the rewritten text") {
    // sorted: "ab" before "bc"; "ab" masks first, so "bc" no longer matches
    assert(new ReferenceModerator(Seq("bc" -> "ban", "ab" -> "ban")).censor("abc") == "**c")
    // "b" sorts after "ab": "ab" masks both letters first
    assert(new ReferenceModerator(Seq("b" -> "ban", "ab" -> "ban")).censor("ab b") == "** *")
  }

  test("case folding is ASCII-only, like (?i) without UNICODE_CASE") {
    val ref = new ReferenceModerator(Seq("Политика" -> "ban", "kafka" -> "ban"))
    assert(ref.censor("KAFKA kafka") == "***** *****")
    assert(ref.censor("ПОЛИТИКА Политика") == "ПОЛИТИКА ********")
  }

  test("regex metacharacters in words are literal") {
    assert(new ReferenceModerator(Seq("a.c" -> "ban")).censor("abc a.c") == "abc ***")
  }
}
