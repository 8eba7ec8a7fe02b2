package graft.ops

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, LogicalPlan,
  Range => RangeRelation}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.functions._

import graft.functions.{BlockedKeys, BlockedProbe}

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
  * Spark design: the GlobalKTable (a fully replicated store loaded
  * once, then probed per record) maps to a broadcast
  * [[graft.functions.BlockedKeys]] set, built once per snapshot of the
  * blocked table and probed by one codegen'd
  * [[graft.functions.BlockedProbe]] filter — no shuffle of the message
  * stream and no join, exactly the GlobalKTable contract. The censor is the
  * reference's sequential word fold computed by one codegen'd
  * [[graft.functions.CensorText]] expression (also registered as SQL
  * function `censor_text`). Everything here is a pure
  * DataFrame -> DataFrame function, legal in both batch and Structured
  * Streaming (a narrow filter + projection).
  */
object Moderation {

  /** A chat message; key = sender (Message.java:3 + record key). */
  case class Message(sender: String, text: String, receiver: String)

  /** The directed blocked pair key `receiver:sender`
    * (KafkaStreamApp.java:158). Null-propagating (`concat`, the SQL
    * `||` semantics): a null receiver or sender yields a NULL key,
    * which never equals any blocked key — so such messages always pass
    * [[dropBlocked]] (whose probe follows the same rule). This is deliberately NOT `concat_ws` (which skips
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
    * `blocked` must have a single column with the pair key (cast to
    * string). The keys are collected into a [[BlockedKeys]] set that is
    * broadcast once per snapshot of `blocked` and probed by a
    * [[BlockedProbe]] filter: zero shuffle and no join on the (large)
    * message side, and no re-read of the dimension by later jobs or
    * micro-batches over the same snapshot. A null receiver or sender
    * never matches; null and duplicate keys are skipped.
    *
    * The blocked side is state fixed when this is called, as the word
    * list is: a file source's listing is fixed when its frame is
    * created anyway, and a fresh `read` of a changed directory is a new
    * snapshot. A live dimension is the job of
    * [[graft.streaming.ModerationStream.withLiveDimension]].
    */
  def dropBlocked(messages: DataFrame, blocked: DataFrame): DataFrame = {
    val keys = KeySnapshots.broadcast(messages.sparkSession.sparkContext, blocked)
    messages.filter(!BlockedProbe(messages("receiver"), messages("sender"), keys))
  }

  /** Broadcast key sets of recent blocked-table snapshots. A snapshot is
    * the SparkContext (a stopped context's broadcasts are never reused),
    * the canonicalized analyzed plan, and the listing (path, length,
    * modification time) of each file relation in it: two reads of one
    * directory are the same plan even after the directory changed. Only
    * deterministic plans over file relations, local relations and
    * ranges are memoized; any other frame's set is built on every call.
    * Eviction only drops the reference; the ContextCleaner reclaims a
    * broadcast once no plan holds it.
    */
  private object KeySnapshots {
    private final case class Snapshot(sc: SparkContext, plan: LogicalPlan,
                                      files: Seq[(String, Long, Long)])

    private val MaxEntries = 8
    private val memo = new java.util.LinkedHashMap[Snapshot, Broadcast[BlockedKeys]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Snapshot, Broadcast[BlockedKeys]]): Boolean = size > MaxEntries
    }

    def broadcast(sc: SparkContext, blocked: DataFrame): Broadcast[BlockedKeys] =
      snapshot(sc, blocked) match {
        case None => build(sc, blocked)
        case Some(key) =>
          val hit = memo.synchronized {
            memo.keySet.removeIf(_.sc.isStopped)
            Option(memo.get(key))
          }
          hit.getOrElse {
            val built = build(sc, blocked)
            memo.synchronized(Option(memo.putIfAbsent(key, built)).getOrElse(built))
          }
      }

    private def build(sc: SparkContext, blocked: DataFrame): Broadcast[BlockedKeys] = {
      val keys = blocked.toDF("__blocked_key").select(col("__blocked_key").cast("string"))
      sc.broadcast(BlockedKeys(keys.as(Encoders.STRING).collect()))
    }

    private def snapshot(sc: SparkContext, blocked: DataFrame): Option[Snapshot] = {
      val plan = blocked.queryExecution.analyzed
      val listings = plan.collectWithSubqueries { case leaf: LeafNode => leaf }.map {
        case r: LogicalRelation => r.relation match {
          case HadoopFsRelation(index: PartitioningAwareFileIndex, _, _, _, _, _) =>
            Some(index.allFiles().map(f => (f.getPath.toString, f.getLen, f.getModificationTime)))
          case _ => None
        }
        case _: LocalRelation | _: RangeRelation => Some(Nil)
        case _ => None
      }
      if (plan.deterministic && listings.forall(_.isDefined))
        Some(Snapshot(sc, plan.canonicalized, listings.flatten.flatten.sorted))
      else None
    }
  }

  /** The literal two-step reference form (left_outer + IS NULL filter,
    * KafkaStreamApp.java:157-166) as a broadcast join — kept for parity
    * testing; [[dropBlocked]] is the production form. Duplicate keys
    * only multiply matched rows, which the IS NULL filter drops.
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
