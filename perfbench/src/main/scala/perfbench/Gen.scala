package perfbench

import java.util.SplittableRandom

/** Seeded workload generator. Every value is a pure function of the
  * seed (and, for messages, of the message id), so the same seed gives
  * byte-identical inputs in any process, and the stream generator can
  * materialize message `id` on demand instead of holding the whole
  * offered load in memory.
  */
object Gen {

  /** One chat message. `text == null` is the reference's null-text
    * pass-through case.
    */
  final case class Msg(id: Long, sender: String, text: String, receiver: String)

  /** Zipf(s) over ranks 0 until n, sampled by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      var lo = 0
      var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  /** SplitMix64 finalizer: decorrelates (seed, stream, index) triples. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long, index: Long = 0L): SplittableRandom =
    new SplittableRandom(mix(mix(seed ^ mix(stream)) + index))

  private val syllables = Array(
    "ka", "lo", "mi", "ne", "ra", "to", "su", "vi", "de", "po", "ga", "ri",
    "ba", "zu", "fe", "ho", "jo", "ly", "ch", "an", "er", "in", "on", "st",
    "th", "qu", "ex", "or", "al", "ue")

  /** Real-language words that the reference fixture bans, kept in every
    * vocabulary so they occur in generated text.
    */
  val referenceBanned: Seq[String] = Seq("Политика", "1C", "Алкоголь")

  /** `size` distinct lowercase words, frequency rank = array index. A
    * rank's syllable count (2-3 for the 200 most frequent, else 3-4; two
    * letters each) is the same for every
    * seed and only the syllables vary, so every seed's texts have the
    * same length profile; the reference's banned words sit at fixed
    * mid ranks.
    */
  def vocabulary(seed: Long, size: Int): Array[String] = {
    val r = rng(seed, 1)
    val reserved = referenceBanned.indices.map(i => 7 + 13 * i).zip(referenceBanned).toMap
    val seen = scala.collection.mutable.HashSet.empty[String] ++ referenceBanned
    Array.tabulate(size) { rank =>
      reserved.getOrElse(rank, {
        val k = (if (rank < 200) 2 else 3) + java.lang.Math.floorMod(mix(rank.toLong), 2L).toInt
        var w = ""
        while (w.isEmpty || seen(w))
          w = (0 until k).map(_ => syllables(r.nextInt(syllables.length))).mkString
        seen += w
        w
      })
    }
  }

  /** Message-population parameters of one workload. */
  final case class Population(
      seed: Long,
      users: Int,
      senderSkew: Double,
      receiverSkew: Double,
      vocab: Array[String],
      wordSkew: Double,
      minWords: Int,
      maxWords: Int,
      nullTextPerMille: Int) {

    private val senders = new Zipf(users, senderSkew)
    private val receivers = new Zipf(users, receiverSkew)
    private val words = new Zipf(vocab.length, wordSkew)

    def sender(r: SplittableRandom): String = "u" + senders.sample(r)
    /** Receiver ranks map through a fixed permutation so popular
      * receivers are not the popular senders.
      */
    def receiver(r: SplittableRandom): String =
      "u" + ((receivers.sample(r).toLong * 7919L + 13L) % users)

    def message(id: Long): Msg = {
      val r = rng(seed, 2, id)
      val s = sender(r)
      val rc = receiver(r)
      if (r.nextInt(1000) < nullTextPerMille) Msg(id, s, null, rc)
      else {
        val n = minWords + r.nextInt(maxWords - minWords + 1)
        val sb = new java.lang.StringBuilder(n * 7 + 12)
        var i = 0
        while (i < n) {
          val w = vocab(words.sample(r))
          val c = r.nextInt(100)
          sb.append(
            if (c < 8) w.capitalize
            else if (c < 10) w.toUpperCase(java.util.Locale.ROOT)
            else w)
          sb.append(' ')
          i += 1
        }
        // the id tag lets the broker stamp this message's commit time;
        // it is digits only, so no (alphabetic) ban word can touch it
        sb.append('#').append(id)
        Msg(id, s, sb.toString, rc)
      }
    }

    /** `n` distinct blocked pairs `receiver:sender`, drawn from the
      * same joint distribution as message pairs (people block the
      * people who write to them).
      */
    def blockedPairs(n: Int): Array[String] = {
      val r = rng(seed, 3)
      val out = scala.collection.mutable.LinkedHashSet.empty[String]
      var guard = 0L
      while (out.size < n && guard < 50L * n) {
        out += receiver(r) + ":" + sender(r)
        guard += 1
      }
      out.toArray
    }
  }

  /** Message JSON exactly as Spark's `to_json(struct(text, receiver))`
    * writes it: null fields omitted, Jackson string escaping.
    */
  def valueJson(text: String, receiver: String): String = {
    val sb = new java.lang.StringBuilder(64)
    sb.append('{')
    var first = true
    def field(k: String, v: String): Unit = if (v != null) {
      if (!first) sb.append(',')
      first = false
      sb.append('"').append(k).append("\":")
      quote(sb, v)
    }
    field("text", text)
    field("receiver", receiver)
    sb.append('}').toString
  }

  /** Input-side JSON: a null text is written explicitly as null. */
  def inputJson(m: Msg): String =
    if (m.text == null) {
      val sb = new java.lang.StringBuilder("{\"text\":null,\"receiver\":")
      quote(sb, m.receiver)
      sb.append('}').toString
    } else valueJson(m.text, m.receiver)

  private def quote(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case '\b' => sb.append("\\b")
        case '\f' => sb.append("\\f")
        case c if c < ' ' => sb.append("\\u%04X".format(c.toInt))
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }

  /** The small reference-style forbidden-word table the stream
    * workloads use: the reference's three banned words, a few frequent
    * vocabulary words, and two entries whose value is not "ban" (so
    * the value gate matters).
    */
  def smallWordTable(seed: Long, vocab: Array[String]): Seq[(String, String)] =
    referenceBanned.map(_ -> "ban") ++ Seq(4, 15, 60, 200, 900).map(vocab(_) -> "ban") ++
      Seq(vocab(1) -> "warn", vocab(2) -> "allow")

  /** A few hundred forbidden words with realistic overlaps: whole
    * vocabulary words across the frequency range, their prefixes and
    * infixes (substrings of other entries), extended forms (entries
    * containing other entries), upper-case spellings, and inactive
    * ("warn") rows. Substring overlaps make the single-pass censor
    * inequivalent to the reference's sequential fold. Which ranks and
    * entry kinds are drawn does not depend on the seed (only the
    * vocabulary's letters do), so every seed's censor costs the same.
    */
  def largeWordTable(seed: Long, vocab: Array[String], size: Int): Seq[(String, String)] = {
    val r = rng(0L, 5)
    val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
    referenceBanned.foreach(w => out(w) = "ban")
    def vocabWord(): String = vocab(5 + r.nextInt(vocab.length - 5))
    while (out.size < size) {
      val w = vocabWord()
      val entry = r.nextInt(10) match {
        case 0 | 1 | 2 | 3 => w
        case 4 | 5 => w.take(3 + r.nextInt(math.max(1, w.length - 3)))
        case 6 => if (w.length > 4) w.substring(1, w.length - 1) else w
        case 7 => w + syllables(r.nextInt(syllables.length))
        case 8 => w.toUpperCase(java.util.Locale.ROOT)
        case _ => w.capitalize
      }
      if (entry.length >= 3 && !out.contains(entry))
        out(entry) = if (r.nextInt(10) == 0) "warn" else "ban"
    }
    out.toSeq
  }
}
