package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.streaming.KafkaEos.{TxProducer, TxProducerFactory}

/** Tracing from outside the program: Spark listeners, the streaming
  * progress listener, and a timing wrapper around the EOS sink's
  * producer factory. Everything is kept in memory and summarized when
  * the run ends.
  */
object Trace {

  /** Span durations (ms) and counts of the KafkaEos sink, recorded by
    * [[TimedFactory]] from every task while [[on]].
    */
  object Sink {
    @volatile var on = false
    val commitMs = mutable.ArrayBuffer.empty[Double]
    val ledgerReadMs = mutable.ArrayBuffer.empty[Double]
    /** producers closed without a transaction: a replayed batch skipped */
    var replaySkips = 0L
    def reset(): Unit = synchronized {
      commitMs.clear(); ledgerReadMs.clear(); replaySkips = 0
    }
  }

  final class TimedProducer(inner: TxProducer) extends TxProducer {
    private var began = false
    override def initTransactions(): Unit = inner.initTransactions()
    override def beginTransaction(): Unit = { began = true; inner.beginTransaction() }
    override def send(topic: String, key: Array[Byte], value: Array[Byte]): Unit =
      inner.send(topic, key, value)
    override def commitTransaction(): Unit = {
      val t0 = System.nanoTime()
      inner.commitTransaction()
      val ms = (System.nanoTime() - t0) / 1e6
      if (Sink.on) Sink.synchronized(Sink.commitMs += ms)
    }
    override def abortTransaction(): Unit = inner.abortTransaction()
    override def close(): Unit = {
      if (Sink.on && !began) Sink.synchronized(Sink.replaySkips += 1)
      inner.close()
    }
  }

  /** Wraps a producer factory; records only while [[Sink.on]]. */
  final case class TimedFactory(inner: TxProducerFactory) extends TxProducerFactory {
    override def create(transactionalId: String): TxProducer =
      new TimedProducer(inner.create(transactionalId))
    override def lastCommittedBatch(transactionalId: String, controlTopic: String): Long = {
      val t0 = System.nanoTime()
      val v = inner.lastCommittedBatch(transactionalId, controlTopic)
      val ms = (System.nanoTime() - t0) / 1e6
      if (Sink.on) Sink.synchronized(Sink.ledgerReadMs += ms)
      v
    }
  }

  /** Job/stage/task accounting from the Spark listener bus. */
  final class SparkSpans extends SparkListener {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var taskRunMs = 0.0
    var taskCpuMs = 0.0
    var taskWallMs = 0.0
    var gcMs = 0.0
    var shuffleWriteBytes = 0L
    var shuffleReadBytes = 0L
    var spillBytes = 0L
    val schedulerDelayMs = mutable.ArrayBuffer.empty[Double]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized(jobs += 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized(stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      val m = e.taskMetrics
      val info = e.taskInfo
      taskWallMs += info.duration
      if (m != null) {
        taskRunMs += m.executorRunTime
        taskCpuMs += m.executorCpuTime / 1e6
        gcMs += m.jvmGCTime
        shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        // the Spark UI's definition: wall time not spent deserializing,
        // running, serializing the result or fetching it
        schedulerDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)).toDouble
      }
    }
  }

  /** One completed micro-batch, from the streaming progress event. */
  final case class Batch(id: Long, startNs: Long, rows: Long,
                         durations: Map[String, Long],
                         startOffset: Long, endOffset: Long)

  /** Micro-batch progress of every streaming query in the session. */
  final class StreamSpans extends StreamingQueryListener {
    // maps progress wall-clock timestamps onto the nanoTime axis
    private val wall0 = System.currentTimeMillis()
    private val nano0 = System.nanoTime()
    val batches = mutable.ArrayBuffer.empty[Batch]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def off(s: String): Long =
        if (s == null || s == "null" || s.isEmpty) -1L else s.trim.toLong
      val src = p.sources.headOption
      val b = Batch(p.batchId,
        nano0 + (java.time.Instant.parse(p.timestamp).toEpochMilli - wall0) * 1000000L,
        p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        src.map(s => off(s.startOffset)).getOrElse(-1L),
        src.map(s => off(s.endOffset)).getOrElse(-1L))
      synchronized(batches += b)
    }
    def snapshot: Seq[Batch] = synchronized(batches.toList)
  }


  /** Janino compilations so far: (count, total ms). The histogram keeps
    * a bounded sample, so the total is count times the sampled mean.
    */
  def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getCount * h.getSnapshot.getMean)
  }
}
