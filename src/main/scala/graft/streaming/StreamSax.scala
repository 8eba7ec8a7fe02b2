package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming SAX symbolization — the streaming twin of `sax_words`:
  * as hourly census rows (event_type, t, c) stream in, maintain the
  * per-(type, day, segment) sum/count census PLUS the per-type exact
  * moment sums (n, Σc, Σc²) — all exactly-mergeable integers — and
  * emit each (type, day)'s CURRENT word per micro-batch. Because the
  * z-normalization uses the type's GLOBAL moments, a day's word can
  * legitimately change as later data shifts μ/σ; what is pinned
  * (StreamingSpec) is that after the last batch the words are
  * bit-equal to the batch query over the same rows under ANY arrival
  * order — the census IS the sufficient statistic.
  *
  * The word arithmetic mirrors the batch query's double expressions
  * operand-for-operand (paa = sum/count, μ = Σc/n,
  * σ² = Σc²/n − μ·μ, quartile cuts ±0.6745), the same JVM-replay
  * discipline as StreamAgreement.kappaOf. Per-batch census
  * aggregation runs distributed; only census rows collect.
  */
object StreamSax {

  /** One micro-batch's census: (type, day, seg) -> (Σc, count, Σc²). */
  def batchCensus(batch: DataFrame): Map[(String, Long, Long), (Long, Long, BigInt)] =
    batch
      .groupBy(col("event_type"), expr("t div 24").as("day"),
        expr("(t % 24) div 3").as("seg"))
      .agg(sum(col("c")).as("s"), count(lit(1)).as("m"),
        sum(col("c").cast(org.apache.spark.sql.types.DataTypes
          .createDecimalType(19, 0)) * col("c")).as("sq"))
      .collect()
      .map { r =>
        (r.getString(0), r.getLong(1), r.getLong(2)) ->
          (r.getLong(3), r.getLong(4), BigInt(r.getDecimal(5).toBigInteger))
      }.toMap

  /** Current words from a merged census: (type, day) -> word, None
    * when the type's variance is non-positive (constant series) —
    * the batch query's NULL-word rule. Words assemble from the
    * PRESENT segments in segment order, exactly like the batch's
    * ordered string_agg.
    */
  def wordsOf(state: scala.collection.Map[(String, Long, Long), (Long, Long, BigInt)])
      : Map[(String, Long), Option[String]] = {
    val byType = state.groupBy(_._1._1)
    byType.flatMap { case (tpe, cells) =>
      var n = 0L; var sc = 0L; var sq = BigInt(0)
      cells.foreach { case (_, (s, m, q)) => n += m; sc += s; sq += q }
      val nD = n.toDouble
      val muD = sc.toDouble / nD
      val varD = sq.toDouble / nD - muD * muD
      cells.groupBy(_._1._2).map { case (day, segs) =>
        val word =
          if (varD <= 0) None
          else Some(segs.toSeq.sortBy(_._1._3).map { case (_, (s, m, _)) =>
            val z = (s.toDouble / m - muD) / math.sqrt(varD)
            if (z < -0.6745) 'a' else if (z < 0.0) 'b'
            else if (z < 0.6745) 'c' else 'd'
          }.mkString)
        (tpe, day) -> word
      }
    }
  }

  /** Streaming wiring: [[ReplayGuard.foreachBatch]] merging each
    * batch's census into caller-owned `state` and emitting (batchId,
    * type, day, word) rows.
    */
  def monitor(hours: DataFrame, checkpointDir: String,
              state: scala.collection.mutable.Map[(String, Long, Long), (Long, Long, BigInt)],
              startAfter: Long = -1L)(
      sink: ((Long, String, Long, Option[String])) => Unit): DataStreamWriter[Row] =
    ReplayGuard.foreachBatch(hours, checkpointDir, startAfter) { b =>
      ReplayGuard.mergeInto(state, batchCensus(b)) {
        case ((s0, m0, q0), (s, m, q)) => (s0 + s, m0 + m, q0 + q)
      }
    } { (_, id) =>
      wordsOf(state).toSeq.sortBy(k => (k._1._1, k._1._2)).foreach {
        case ((tpe, day), w) => sink((id, tpe, day, w))
      }
    }
}
