package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StringType
import org.apache.spark.sql.Row

import graft.functions.MessageJson
import graft.ops.Moderation

/** Streaming form of the flagship moderation pipeline — the direct
  * rebuild of the reference topology (SURVEY.md §3):
  *
  *   Kafka `messages` -> drop blocked `receiver:sender` pairs ->
  *   censor banned words -> Kafka `filtered-messages`
  *
  * The same pure DataFrame transforms as batch ([[Moderation]]) run
  * under Structured Streaming. The blocked pairs and the word list are
  * static state fixed when the query is defined: the blocked keys are
  * collected once into a broadcast set that every micro-batch probes
  * without re-reading the table. For a dimension that changes while the
  * query runs (the GlobalKTable contract at micro-batch granularity,
  * SURVEY §2 T4), use [[withLiveDimension]].
  *
  * Delivery semantics (SURVEY §2 T1): exactly-once end to end, as the
  * reference's EXACTLY_ONCE_V2. The one Kafka output,
  * [[transactionalQuery]], commits each micro-batch in one Kafka
  * transaction through [[KafkaEos.toKafkaTransactional]]; the file
  * output, [[toExactlyOnceFiles]], overwrites one directory per batch
  * id. Spark's built-in at-least-once Kafka sink is not used.
  */
object ModerationStream {

  /** S1: subscribe to the messages topic from the earliest offset. */
  def fromKafka(spark: SparkSession, bootstrap: String,
                topic: String = "messages"): DataFrame =
    decodeKafka(spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest") // T2 parity
      .load())

  /** F2: Kafka record -> (sender, text, receiver), parsed by the native
    * [[MessageJson.Decode]]: one scan of the value's bytes, with Spark's
    * `from_json` PERMISSIVE as the fallback for anything outside the
    * plain `{text, receiver}` object, so the result is `from_json`'s.
    * Null/empty payloads decode to null fields (MessageSerdes.java:54-56
    * tombstone semantics); malformed JSON yields nulls rather than the
    * reference's crash — strict parity is [[decodeKafkaStrict]].
    */
  def decodeKafka(raw: DataFrame): DataFrame = decode(raw, failFast = false)

  /** F2 strict parity: the reference CRASHES the pipeline on malformed
    * JSON (MessageSerdes.java:57-62 throws; no dead-lettering). The same
    * native decoder with `from_json` FAILFAST as its fallback reproduces
    * that contract; [[decodeKafka]]'s null-row behavior is the
    * production-sane default. NOTE: empty/null payloads are still
    * tombstones (null message), not errors, on both paths — FAILFAST
    * only fails on non-null unparseable input.
    */
  def decodeKafkaStrict(raw: DataFrame): DataFrame = decode(raw, failFast = true)

  private def decode(raw: DataFrame, failFast: Boolean): DataFrame =
    raw.select(
        col("key").cast(StringType).as("sender"),
        MessageJson.decode(col("value"), failFast).as("m"))
      .select(col("sender"), col("m.text").as("text"),
        col("m.receiver").as("receiver"))

  /** F1: (sender, text, receiver) -> Kafka key/value, written by the
    * native [[MessageJson.Encode]]: the bytes of
    * `to_json(struct(text, receiver))` (null fields omitted, Jackson's
    * escaping) without a JSON generator per row.
    */
  def encodeKafka(df: DataFrame): DataFrame =
    df.select(col("sender").as("key"),
      MessageJson.encode(col("text"), col("receiver")).as("value"))

  /** The moderation transform, streaming-legal: a broadcast blocked-pair
    * probe filter + narrow censor projection, with `blockedPairs`
    * collected when this is called. Works identically on a batch or
    * streaming `messages` frame.
    */
  def pipeline(messages: DataFrame, blockedPairs: DataFrame,
               banWords: Seq[String]): DataFrame =
    Moderation.pipeline(messages, blockedPairs, banWords)

  /** S4, the one Kafka output: the full job wiring, `messages` in,
    * `filtered-messages` out through the EOS-v2 TRANSACTIONAL sink.
    * Every micro-batch commits atomically (data + batch-ledger marker
    * in one Kafka transaction, per-partition stable transactional ids
    * for zombie fencing, ledger-gated replay skip — [[KafkaEos]]): the
    * reference's `exactly_once_v2` contract (reference
    * KafkaStreamApp.java:124-126). The query is returned unstarted: a
    * harness (KafkaWireSpec against a real broker) drives it with
    * processAllAvailable/stop, a deployment with `start()` and its own
    * lifecycle. For a real broker, wrap `new KafkaProducer(props)`
    * (transactional.id = the id this passes, enable.idempotence on) in
    * a [[KafkaEos.TxProducerFactory]] ([[KafkaWire.ReflectiveKafkaFactory]]) and the
    * semantics KafkaEosSpec pins against the in-memory broker carry
    * over unchanged. Topic names are parameterized so concurrent test
    * runs don't collide; the defaults are the reference's.
    */
  def transactionalQuery(spark: SparkSession, bootstrap: String,
                         blockedPairs: DataFrame, banWords: Seq[String],
                         checkpointDir: String,
                         factory: KafkaEos.TxProducerFactory,
                         inTopic: String = "messages",
                         outTopic: String = "filtered-messages",
                         ledgerTopic: String = "filtered-messages-ledger",
                         sinkId: String = "moderation-sink"): DataStreamWriter[Row] = {
    val out = pipeline(fromKafka(spark, bootstrap, inTopic),
      blockedPairs, banWords)
    KafkaEos.toKafkaTransactional(out, outTopic, ledgerTopic, sinkId,
      factory, checkpointDir)
  }

  /** T4 LIVENESS: moderation with a LIVE blocked-pairs dimension —
    * the dimension table directory is re-read at the top of EVERY
    * micro-batch, so an upsert landing between batches applies to all
    * later messages while earlier output stands. This is the
    * reference's GlobalKTable contract ("table state at processing
    * time", KafkaStreamApp.java:103-109) at micro-batch granularity:
    * the reference re-probes its store per RECORD; a micro-batch is
    * the Spark unit of processing time, so within one batch the
    * dimension is a consistent snapshot — the documented (and for a
    * consistent batch output, desirable) delta. [[pipeline]] would NOT
    * give this: its blocked keys are fixed when the query is defined,
    * so dimension growth needs the foreachBatch re-read. Each re-read
    * lists the directory; an unchanged listing reuses the broadcast key
    * set, a new or overwritten file builds a new one.
    */
  def withLiveDimension(messages: DataFrame, blockedDir: String,
                        banWords: Seq[String], checkpointDir: String)(
                        sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    messages.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val blocked = batch.sparkSession.read.parquet(blockedDir)
        sink(Moderation.pipeline(batch, blocked, banWords), id)
      }
      .option("checkpointLocation", checkpointDir)

  /** One micro-batch of the exactly-once file sink: each batch
    * overwrites its OWN batchId-keyed subdirectory, so a redelivered
    * batch (checkpoint recovery replays the last uncommitted batch)
    * replaces its previous partial output instead of appending
    * duplicates. This is the foreachBatch idempotent-write pattern
    * that closes the reference's EXACTLY_ONCE_V2 gap (SURVEY §2 T1)
    * for file/table outputs.
    */
  def writeBatchIdempotent(batch: DataFrame, batchId: Long, outDir: String): Unit =
    batch.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")

  /** End-to-end exactly-once file output via foreachBatch. */
  def toExactlyOnceFiles(df: DataFrame, outDir: String,
                         checkpointDir: String): DataStreamWriter[Row] =
    df.writeStream
      .foreachBatch((batch: DataFrame, id: Long) =>
        writeBatchIdempotent(batch, id, outDir))
      .option("checkpointLocation", checkpointDir)
}
