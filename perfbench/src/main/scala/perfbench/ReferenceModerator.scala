package perfbench

import java.util.regex.Pattern

/** Plain-Scala reference moderator: the semantics of the reference's
  * topology, independent of Spark, used to check every output.
  *
  *  - drop a message when its directed pair `receiver:sender` is
  *    blocked; a null receiver or sender never matches;
  *  - otherwise censor its text with the sequential fold of the
  *    reference's MessageFilterProcessor: for every forbidden word
  *    whose value is exactly "ban", in table order after de-duplication
  *    and sorting, `replaceAll("(?i)" + quote(word), "*" * word.length)`
  *    over the already-rewritten text;
  *  - a null text passes through unchanged.
  *
  * The word order matches `Moderation.activeBanWords` (distinct,
  * sorted), which is the order the program folds in.
  */
final class ReferenceModerator(table: Seq[(String, String)]) {

  val banWords: Array[String] =
    table.filter(_._2 == "ban").map(_._1).distinct.sorted.toArray

  private val patterns = banWords.map(w => Pattern.compile("(?i)" + Pattern.quote(w)))
  private val masks = banWords.map(w => "*" * w.length)
  // `(?i)` without UNICODE_CASE folds ASCII letters only, so a word can
  // match only where the ASCII-lowered text contains the ASCII-lowered
  // word: an exact pre-filter that skips the regex on most words.
  private val lowered = banWords.map(ReferenceModerator.asciiLower)

  def censor(text: String): String =
    if (text == null) null
    else {
      var cur = text
      var low = ReferenceModerator.asciiLower(text)
      var i = 0
      while (i < banWords.length) {
        if (low.contains(lowered(i))) {
          cur = patterns(i).matcher(cur).replaceAll(masks(i))
          low = ReferenceModerator.asciiLower(cur)
        }
        i += 1
      }
      cur
    }

  /** Moderated (key, value) on the wire, or None when dropped. */
  def moderate(m: Gen.Msg, blocked: String => Boolean): Option[(String, String)] =
    if (m.sender != null && m.receiver != null && blocked(m.receiver + ":" + m.sender)) None
    else Some(m.sender -> Gen.valueJson(censor(m.text), m.receiver))

  /** Whether the censor changes this text. */
  def hits(text: String): Boolean = text != null && censor(text) != text
}

object ReferenceModerator {
  def asciiLower(s: String): String = {
    var i = 0
    while (i < s.length && !(s.charAt(i) >= 'A' && s.charAt(i) <= 'Z')) i += 1
    if (i == s.length) s
    else {
      val cs = s.toCharArray
      while (i < cs.length) {
        val c = cs(i)
        if (c >= 'A' && c <= 'Z') cs(i) = (c + 32).toChar
        i += 1
      }
      new String(cs)
    }
  }

  /** The reference's golden fixture (README, KafkaStreamApp): blocked
    * pairs, forbidden words, four messages, and the two expected
    * outputs.
    */
  val goldenBlocked: Set[String] = Set("login1:login2", "login1:login3", "login2:login4")
  val goldenWords: Seq[(String, String)] =
    Seq("Политика" -> "ban", "1C" -> "ban", "Алкоголь" -> "ban")
  val goldenExpected: Seq[(String, String, String)] = Seq(
    ("login4", "Java", "login1"),
    ("login5", "******** React", "login1"))
}
