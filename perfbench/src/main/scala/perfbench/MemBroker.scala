package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import graft.streaming.KafkaEos.{TxProducer, TxProducerFactory}

/** In-memory transactional broker behind [[KafkaEos.TxProducerFactory]]:
  * per-transactional-id epoch fencing, atomic commit, and a
  * read_committed view. It is the benchmark's wire until a real broker
  * client is available.
  *
  * Broker state lives in a process-wide registry keyed by name; the
  * factory ships only the name through Spark task closures.
  *
  * At commit it stamps each data record carrying a message id tag
  * (`#<digits>` in the value) with the commit time, and counts
  * re-deliveries of an id as duplicates, so exactly-once violations
  * show up in the benchmark's error count.
  */
object MemBroker {

  final class Broker(val dataTopic: String) {
    // read_committed view of the data topic, indexed by message id
    private var commitNs = new Array[Long](1 << 16)
    private var copies = new Array[Int](1 << 16)
    private var values = new Array[Array[Byte]](1 << 16)
    private var keys = new Array[Array[Byte]](1 << 16)
    /** committed data records without an id tag (null-text messages) */
    val untagged = mutable.ArrayBuffer.empty[(String, String)]
    private val epochs = mutable.HashMap.empty[String, Long]
    private val ledger = mutable.HashMap.empty[(String, String), Long]
    /** batchId -> latest commit time of any of its ledger markers */
    val batchCommitNs = mutable.HashMap.empty[Long, Long]

    var txns = 0L
    var records = 0L
    var bytes = 0L
    var aborts = 0L
    var duplicates = 0L
    var dataBytes = 0L

    private def ensure(id: Int): Unit = if (id >= commitNs.length) {
      var n = commitNs.length
      while (n <= id) n *= 2
      commitNs = java.util.Arrays.copyOf(commitNs, n)
      copies = java.util.Arrays.copyOf(copies, n)
      values = java.util.Arrays.copyOf(values, n)
      keys = java.util.Arrays.copyOf(keys, n)
    }

    def bumpEpoch(txId: String): Long = synchronized {
      val e = epochs.getOrElse(txId, -1L) + 1
      epochs(txId) = e
      e
    }

    def currentEpoch(txId: String): Long = synchronized(epochs.getOrElse(txId, -1L))

    def lastCommitted(txId: String, controlTopic: String): Long =
      synchronized(ledger.getOrElse((controlTopic, txId), -1L))

    /** Publish one transaction atomically; throws if `epoch` is fenced. */
    def commit(txId: String, epoch: Long, recs: mutable.ArrayBuffer[Rec]): Unit = synchronized {
      if (epochs.getOrElse(txId, -1L) != epoch)
        throw new IllegalStateException(
          s"ProducerFencedException: $txId epoch $epoch superseded")
      val now = System.nanoTime()
      txns += 1
      recs.foreach { r =>
        records += 1
        bytes += r.key.length + r.value.length
        if (r.topic == dataTopic) {
          dataBytes += r.key.length + r.value.length
          val id = MemBroker.idTag(r.value).toInt
          if (id < 0) untagged += ((new String(r.key, "UTF-8"), new String(r.value, "UTF-8")))
          else {
            ensure(id)
            if (copies(id) == 0) {
              commitNs(id) = now
              values(id) = r.value
              keys(id) = r.key
            } else duplicates += 1
            copies(id) += 1
          }
        } else {
          val batchId = java.nio.ByteBuffer.wrap(r.value).getLong
          val k = (r.topic, new String(r.key, "UTF-8"))
          if (batchId > ledger.getOrElse(k, -1L)) ledger(k) = batchId
          if (now > batchCommitNs.getOrElse(batchId, 0L)) batchCommitNs(batchId) = now
        }
      }
    }

    def abort(): Unit = synchronized(aborts += 1)

    /** Commit time of message `id`, or -1 if it is not committed. */
    def committedAt(id: Long): Long = synchronized {
      if (id < copies.length && copies(id.toInt) > 0) commitNs(id.toInt) else -1L
    }
    def copiesOf(id: Long): Int = synchronized(if (id < copies.length) copies(id.toInt) else 0)
    def valueOf(id: Long): String = synchronized {
      if (id < copies.length && copies(id.toInt) > 0) new String(values(id.toInt), "UTF-8") else null
    }
    def keyOf(id: Long): String = synchronized {
      if (id < copies.length && copies(id.toInt) > 0) new String(keys(id.toInt), "UTF-8") else null
    }
  }

  final case class Rec(topic: String, key: Array[Byte], value: Array[Byte])

  private val registry = new ConcurrentHashMap[String, Broker]()

  def create(name: String, dataTopic: String): Broker = {
    val b = new Broker(dataTopic)
    registry.put(name, b)
    b
  }
  def broker(name: String): Broker = {
    val b = registry.get(name)
    require(b != null, s"no broker named $name")
    b
  }
  def drop(name: String): Unit = registry.remove(name)

  /** Parses the decimal id after the last '#' of a JSON value, or -1. */
  def idTag(value: Array[Byte]): Long = {
    var i = value.length - 1
    while (i >= 0 && value(i) != '#') i -= 1
    if (i < 0) return -1L
    var j = i + 1
    var id = 0L
    while (j < value.length && value(j) >= '0' && value(j) <= '9') {
      id = id * 10 + (value(j) - '0')
      j += 1
    }
    if (j == i + 1) -1L else id
  }

  final class Producer(b: Broker, txId: String) extends TxProducer {
    private var epoch = -1L
    private val buffer = mutable.ArrayBuffer.empty[Rec]
    private var open = false

    override def initTransactions(): Unit = epoch = b.bumpEpoch(txId)

    override def beginTransaction(): Unit = {
      if (b.currentEpoch(txId) != epoch)
        throw new IllegalStateException(s"ProducerFencedException: $txId")
      buffer.clear()
      open = true
    }

    override def send(topic: String, key: Array[Byte], value: Array[Byte]): Unit = {
      require(open, s"$txId: send outside a transaction")
      buffer += Rec(topic, key, value)
    }

    override def commitTransaction(): Unit = {
      require(open, s"$txId: commit outside a transaction")
      b.commit(txId, epoch, buffer)
      buffer.clear()
      open = false
    }

    override def abortTransaction(): Unit = {
      b.abort()
      buffer.clear()
      open = false
    }

    override def close(): Unit = { buffer.clear(); open = false }
  }

  final case class Factory(brokerName: String) extends TxProducerFactory {
    override def create(transactionalId: String): TxProducer =
      new Producer(broker(brokerName), transactionalId)
    override def lastCommittedBatch(transactionalId: String, controlTopic: String): Long =
      broker(brokerName).lastCommitted(transactionalId, controlTopic)
  }
}
