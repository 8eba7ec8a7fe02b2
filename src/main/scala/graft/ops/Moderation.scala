package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's flagship message-moderation pipeline, Spark-first.
  *
  * Reference semantics (SURVEY.md §2-§3; svolga/hw-kafka-streams):
  *  - drop any message whose directed pair `receiver:sender` appears in
  *    the blocked-users table (KafkaStreamApp.java:157-166 — GlobalKTable
  *    leftJoin + null filter, i.e. an anti-join);
  *  - censor surviving text: every forbidden word whose table value is
  *    exactly "ban" (MessageFilterProcessor.java:37) is replaced
  *    case-insensitively and literally (Pattern.quote) by '*' repeated
  *    to the word's length (MessageFilterProcessor.java:38-41);
  *  - null message / null text passes through untouched
  *    (MessageFilterProcessor.java:23-25).
  *
  * Spark design: the GlobalKTable (fully replicated table) maps to a
  * BROADCAST side of a left_anti join — no shuffle of the message
  * stream, exactly the GlobalKTable contract. The censor is the
  * reference's sequential word fold computed by one codegen'd
  * [[graft.functions.CensorText]] expression (also registered as SQL
  * function `censor_text`). Everything here is a pure
  * DataFrame -> DataFrame function, legal in both batch and Structured
  * Streaming (stream-static join + narrow projection).
  */
object Moderation {

  /** A chat message; key = sender (Message.java:3 + record key). */
  case class Message(sender: String, text: String, receiver: String)

  /** The directed blocked pair key `receiver:sender`
    * (KafkaStreamApp.java:158). Null-propagating (`concat`, the SQL
    * `||` semantics): a null receiver or sender yields a NULL key,
    * which never equals any blocked key — so such messages always pass
    * the anti-join. This is deliberately NOT `concat_ws` (which skips
    * nulls): a skipped null receiver would collapse the key to the bare
    * sender, which can collide with a real `a:b` key when a sender
    * contains ':'. The reference would NPE on a null field upstream, so
    * any total null behavior is an extension choice; NULL-key-never-
    * matches agrees with the DuckDB oracle's `lang || ':' || source`.
    */
  def blockedKey(receiver: Column, sender: Column): Column =
    concat(receiver, lit(":"), sender)

  /** Latest-value-per-key compaction of a changelog (the GlobalKTable
    * materialization, SURVEY §2 S2): keep the newest row per key, drop
    * tombstones (null values).
    */
  def latestPerKey(changelog: DataFrame, keyCol: String, seqCol: String,
                   valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol)).orderBy(col(seqCol).desc)
    changelog
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col(valueCol).isNotNull)
      .drop("__rn")
  }

  /** J1+P2: drop messages whose `receiver:sender` is a blocked pair.
    * `blocked` must have a single column with the pair key. Broadcast +
    * left_anti: zero shuffle on the (large) message side. Duplicate
    * keys cannot change an anti-join's result, so the broadcast side is
    * not de-duplicated (that would add a shuffle to every job).
    */
  def dropBlocked(messages: DataFrame, blocked: DataFrame): DataFrame = {
    val keys = blocked.toDF("__blocked_key")
    messages.join(
      broadcast(keys),
      blockedKey(messages("receiver"), messages("sender")) === col("__blocked_key"),
      "left_anti")
  }

  /** The literal two-step reference form (left_outer + IS NULL filter,
    * KafkaStreamApp.java:157-166) — kept for parity testing; Catalyst
    * may not rewrite this to anti-join, so [[dropBlocked]] is the
    * production form. Duplicate keys only multiply matched rows, which
    * the IS NULL filter drops.
    */
  def dropBlockedTwoStep(messages: DataFrame, blocked: DataFrame): DataFrame = {
    val keys = blocked.toDF("__blocked_key")
    messages.join(
        broadcast(keys),
        blockedKey(messages("receiver"), messages("sender")) === col("__blocked_key"),
        "left_outer")
      .filter(col("__blocked_key").isNull)
      .drop("__blocked_key")
  }

  /** U3: of a (word, value) forbidden-words table, only value == "ban"
    * entries are active (MessageFilterProcessor.java:37).
    */
  def activeBanWords(words: DataFrame, wordCol: String, valueCol: String): Seq[String] =
    words.filter(col(valueCol) === "ban")
      .select(col(wordCol)).distinct()
      .collect().map(_.getString(0)).toSeq.sorted

  /** U4: the reference's censor (MessageFilterProcessor.java:38-41) —
    * for each word in order, a case-insensitive literal replacement by
    * '*' × word length over the already-rewritten text — as ONE
    * [[graft.functions.CensorText]] expression, exact for any
    * vocabulary. Null text stays null (U5).
    *
    * The word list is plan-time state (the reference's GlobalKTable
    * store is tiny and fully replicated; here it folds into the plan —
    * the moral equivalent of broadcast).
    */
  def censorFold(text: Column, words: Seq[String]): Column =
    graft.functions.CensorText(text, words)

  /** True iff no word is an ASCII-case-insensitive substring of another
    * and no proper suffix of one word is a prefix of another, i.e. the
    * censor's result cannot depend on word order (e.g. ["b","ab"] on
    * "ab" folds to "a*", but "**" in the other order; ["bc","ab"] on
    * "abc" folds to "a**", but "**c" in the other order). Selects no
    * code path; kept as a vocabulary property the benchmark reports.
    */
  def singlePassEquivalent(words: Seq[String]): Boolean = {
    val ws = words.map(_.toLowerCase(java.util.Locale.ROOT)).distinct
    val pairs = for (u <- ws; v <- ws if u != v) yield (u, v)
    pairs.forall { case (u, v) =>
      !v.contains(u) &&
        !(1 until u.length).exists(i => v.startsWith(u.substring(i)))
    }
  }

  /** Full flagship pipeline over (sender, text, receiver) messages:
    * [[dropBlocked]], then [[censorFold]] on `text`. `singlePass` is
    * ignored: there is one exact censor, so there is nothing to select.
    * The parameter stays only because the benchmark harness under
    * `perfbench/` still passes it.
    */
  def pipeline(messages: DataFrame, blockedPairs: DataFrame,
               banWords: Seq[String], singlePass: Boolean = false): DataFrame =
    dropBlocked(messages, blockedPairs).withColumn("text", censorFold(col("text"), banWords))

  /** P1 (`peek`): the reference logs every record pre-join and
    * post-censor (KafkaStreamApp.java:155,168). The Spark-native form
    * is `observe` — zero-copy aggregated metrics evaluated during the
    * action, readable from the passed [[Observation]] (batch) or the
    * streaming progress events. Unlike a log-per-record peek this
    * costs O(1) memory and no extra pass at any scale.
    */
  def pipelineObserved(messages: DataFrame, blockedPairs: DataFrame,
                       banWords: Seq[String],
                       in: org.apache.spark.sql.Observation,
                       out: org.apache.spark.sql.Observation): DataFrame = {
    val observed = messages.observe(in, count(lit(1)).as("n_in"))
    pipeline(observed, blockedPairs, banWords)
      .observe(out, count(lit(1)).as("n_out"),
        count(when(col("text").contains("*"), 1)).as("n_censored"))
  }
}
