package perfbench

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Output checks against the reference moderator. */
object Verify {

  final case class Verdict(
      missing: Long, duplicated: Long, wrong: Long, either: Long,
      rowsIn: Long, rowsOut: Long, censored: Long, charsMasked: Long,
      bytesIn: Long, bytesOut: Long, nullRows: Long,
      blockLagMs: Seq[Double]) {
    def failed: Long = missing + duplicated + wrong
  }

  private final class Acc {
    var missing, duplicated, wrong, either, rowsOut, censored, charsMasked, bytesIn, nullRows = 0L
    val required = mutable.HashMap.empty[(String, String), Long]
    val optional = mutable.HashMap.empty[(String, String), Long]
    def merge(o: Acc): Unit = {
      missing += o.missing; duplicated += o.duplicated; wrong += o.wrong
      either += o.either; rowsOut += o.rowsOut; censored += o.censored
      charsMasked += o.charsMasked; bytesIn += o.bytesIn; nullRows += o.nullRows
      o.required.foreach { case (k, v) => required(k) = required.getOrElse(k, 0L) + v }
      o.optional.foreach { case (k, v) => optional(k) = optional.getOrElse(k, 0L) + v }
    }
  }

  private def stars(s: String): Int = if (s == null) 0 else s.count(_ == '*')

  /** Every offered message of a stream run, at read_committed.
    *
    * Static dimension: a message is dropped iff its pair is blocked,
    * otherwise committed exactly once with the reference's value.
    * Live dimension: the verdict must match the dimension at some
    * point between the message's creation (its addData call) and its
    * emission (the commit of its micro-batch); the dimension only
    * grows, so a block visible before creation forces a drop, one
    * landing after emission forces a pass, and one in between allows
    * either.
    */
  def stream(pop: Gen.Population, ref: ReferenceModerator, initial: Set[String],
             gen: StreamWorkload.Generator, broker: MemBroker.Broker,
             batches: Seq[Trace.Batch], live: Boolean): Verdict = {
    val n = gen.nextId
    val chunkFirst = gen.chunkFirst.toArray
    val chunkAdd = gen.chunkAddNs.toArray
    // commit time of the micro-batch that read each addData chunk
    val chunkCommit = Array.fill(chunkFirst.length)(Long.MaxValue)
    batches.foreach { b =>
      val c = broker.batchCommitNs.getOrElse(b.id, Long.MaxValue)
      var k = math.max(0L, b.startOffset + 1).toInt
      while (k <= b.endOffset && k < chunkCommit.length) { chunkCommit(k) = c; k += 1 }
    }
    def chunkOf(id: Long): Int = {
      val i = java.util.Arrays.binarySearch(chunkFirst, id)
      if (i >= 0) i else -i - 2
    }
    val firstBlock = mutable.HashMap.empty[String, StreamWorkload.Block]
    gen.blocks.foreach(b => if (!firstBlock.contains(b.key)) firstBlock(b.key) = b)

    val threads = math.max(1, Runtime.getRuntime.availableProcessors())
    implicit val ec: ExecutionContext = ExecutionContext.global
    val parts = (0 until threads).map { t =>
      Future {
        val acc = new Acc
        var id = n * t / threads
        val end = n * (t + 1) / threads
        while (id < end) {
          val m = pop.message(id)
          val key = m.receiver + ":" + m.sender
          val input = Gen.inputJson(m)
          acc.bytesIn += m.sender.getBytes("UTF-8").length + input.getBytes("UTF-8").length
          if (m.text == null) acc.nullRows += 1
          val blockedInitially = initial(key)
          val (mustDrop, mustPass) =
            if (blockedInitially) (true, false)
            else if (!live) (false, true)
            else firstBlock.get(key) match {
              case None => (false, true)
              case Some(b) =>
                val k = chunkOf(id)
                (b.afterNs <= chunkAdd(k), b.beforeNs > chunkCommit(k))
            }
          if (!mustDrop && !mustPass) acc.either += 1
          val censoredText = ref.censor(m.text)
          val expected = (m.sender, Gen.valueJson(censoredText, m.receiver))
          if (m.text == null) {
            if (mustPass) acc.required(expected) = acc.required.getOrElse(expected, 0L) + 1
            else if (!mustDrop) acc.optional(expected) = acc.optional.getOrElse(expected, 0L) + 1
          } else {
            val copies = broker.copiesOf(id)
            if (copies > 1) acc.duplicated += 1
            if (copies == 0 && mustPass) acc.missing += 1
            if (copies >= 1) {
              if (mustDrop) acc.wrong += 1
              else if (broker.keyOf(id) != expected._1 || broker.valueOf(id) != expected._2)
                acc.wrong += 1
              else {
                acc.rowsOut += 1
                if (censoredText != m.text) {
                  acc.censored += 1
                  acc.charsMasked += stars(censoredText) - stars(m.text)
                }
              }
            }
          }
          id += 1
        }
        acc
      }
    }
    val total = new Acc
    parts.foreach(f => total.merge(Await.result(f, Duration.Inf)))
    val committed = mutable.HashMap.empty[(String, String), Long]
    broker.synchronized(broker.untagged.foreach(kv => committed(kv) = committed.getOrElse(kv, 0L) + 1))
    (total.required.keySet ++ total.optional.keySet ++ committed.keySet).foreach { kv =>
      val got = committed.getOrElse(kv, 0L)
      val req = total.required.getOrElse(kv, 0L)
      val opt = total.optional.getOrElse(kv, 0L)
      if (got < req) total.missing += req - got
      if (got > req + opt) total.wrong += got - req - opt
      total.rowsOut += math.min(got, req + opt)
    }
    val lag = if (!live) Nil else {
      val starts = batches.map(b => (b.startNs, broker.batchCommitNs.getOrElse(b.id, -1L)))
        .filter(_._2 > 0).sortBy(_._1).toArray
      gen.blocks.flatMap { b =>
        starts.find(_._1 >= b.afterNs).map(s => (s._2 - b.afterNs) / 1e6)
      }.toSeq
    }
    Verdict(total.missing, total.duplicated, total.wrong, total.either,
      n, total.rowsOut, total.censored, total.charsMasked, total.bytesIn,
      broker.dataBytes, total.nullRows, lag)
  }
}
