package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.Row

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
  * Delivery semantics (SURVEY §2 T1): with a checkpointLocation the
  * aggregation/state is exactly-once; the Kafka sink itself is
  * at-least-once (duplicates possible on retry). The reference's
  * EXACTLY_ONCE_V2 can be matched end-to-end by writing through
  * `foreachBatch` with an idempotent keyed upsert, or by using a
  * transactional/file sink.
  */
object ModerationStream {

  /** Message.java:3 — {text, receiver}, JSON on the wire (F1/F2). */
  val messageSchema: StructType = StructType(Seq(
    StructField("text", StringType, nullable = true),
    StructField("receiver", StringType, nullable = true)))

  /** S1: subscribe to the messages topic from the earliest offset. */
  def fromKafka(spark: SparkSession, bootstrap: String,
                topic: String = "messages"): DataFrame =
    decodeKafka(spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest") // T2 parity
      .load())

  /** F2: Kafka record -> (sender, text, receiver). Null/empty payloads
    * decode to null fields (MessageSerdes.java:54-56 tombstone
    * semantics); malformed JSON yields nulls rather than the
    * reference's crash — strict parity would set mode=FAILFAST.
    */
  def decodeKafka(raw: DataFrame): DataFrame =
    raw.select(
        col("key").cast("string").as("sender"),
        from_json(col("value").cast("string"), messageSchema).as("m"))
      .select(col("sender"), col("m.text").as("text"),
        col("m.receiver").as("receiver"))

  /** F2 strict parity: the reference CRASHES the pipeline on malformed
    * JSON (MessageSerdes.java:57-62 throws; no dead-lettering).
    * FAILFAST reproduces that contract; [[decodeKafka]]'s null-row
    * behavior is the production-sane default. NOTE: empty/null payloads
    * are still tombstones (null message), not errors, on both paths —
    * from_json only fails on non-null unparseable input.
    */
  def decodeKafkaStrict(raw: DataFrame): DataFrame =
    raw.select(
        col("key").cast("string").as("sender"),
        from_json(col("value").cast("string"), messageSchema,
          Map("mode" -> "FAILFAST")).as("m"))
      .select(col("sender"), col("m.text").as("text"),
        col("m.receiver").as("receiver"))

  /** F1: (sender, text, receiver) -> Kafka key/value. */
  def encodeKafka(df: DataFrame): DataFrame =
    df.select(col("sender").as("key"),
      to_json(struct(col("text"), col("receiver"))).as("value"))

  /** S4: produce to the filtered topic, checkpointed. */
  def toKafka(df: DataFrame, bootstrap: String, topic: String,
              checkpointDir: String): DataStreamWriter[Row] =
    encodeKafka(df).writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime("1 second"))

  /** The moderation transform, streaming-legal: a broadcast blocked-pair
    * probe filter + narrow censor projection, with `blockedPairs`
    * collected when this is called. Works identically on a batch or
    * streaming `messages` frame.
    */
  def pipeline(messages: DataFrame, blockedPairs: DataFrame,
               banWords: Seq[String]): DataFrame =
    Moderation.pipeline(messages, blockedPairs, banWords)

  /** Full job wiring (requires a live broker; exercised by integration
    * environments — unit tests drive [[pipeline]] via MemoryStream).
    */
  def run(spark: SparkSession, bootstrap: String, blockedPairs: DataFrame,
          banWords: Seq[String], checkpointDir: String): Unit = {
    val out = pipeline(fromKafka(spark, bootstrap), blockedPairs, banWords)
    toKafka(out, bootstrap, "filtered-messages", checkpointDir)
      .start().awaitTermination()
  }

  /** [[run]] with the EOS-v2 TRANSACTIONAL sink instead of the plain
    * producer: the same moderation pipeline, but every micro-batch
    * commits atomically (data + batch-ledger marker in one Kafka
    * transaction, per-partition stable transactional ids for zombie
    * fencing, ledger-gated replay skip — [[KafkaEos]]). This is the
    * drop-in seam for a real broker: wrap `new KafkaProducer(props)`
    * (transactional.id = the id this passes, enable.idempotence on)
    * in a [[KafkaEos.TxProducerFactory]] and the semantics KafkaEosSpec
    * pins against the in-memory broker carry over unchanged —
    * the reference's `exactly_once_v2` contract
    * (reference KafkaStreamApp.java:124-126).
    */
  def runTransactional(spark: SparkSession, bootstrap: String,
                       blockedPairs: DataFrame, banWords: Seq[String],
                       checkpointDir: String,
                       factory: KafkaEos.TxProducerFactory): Unit =
    transactionalQuery(spark, bootstrap, blockedPairs, banWords,
      checkpointDir, factory).start().awaitTermination()

  /** [[runTransactional]]'s query, unstarted — the seam a harness
    * (KafkaWireSpec against a real broker) drives with
    * processAllAvailable/stop instead of awaitTermination, and a
    * deployment wraps in its own lifecycle. Topic names are
    * parameterized so concurrent test runs don't collide; the
    * defaults are the reference's.
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
