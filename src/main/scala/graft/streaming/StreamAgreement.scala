package graft.streaming

import java.math.RoundingMode

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming label-rule agreement monitor — the streaming twin of
  * `fleiss_kappa`: as documents stream in, maintain the 4-cell
  * row-sum census (how many docs got s of 3 rule votes) and emit the
  * running Fleiss kappa each micro-batch. The census is EXACTLY
  * mergeable (integer addition per cell), so after the last batch the
  * running kappa is bit-equal to the batch query over the same rows
  * under ANY arrival order or batching — pinned in StreamingSpec.
  *
  * Production split, as in StreamSkew/StreamDrift: the rule columns
  * and the census aggregation run DISTRIBUTED per batch (the same
  * [[graft.queries.InferenceQueries.raters3Of]] expressions as the
  * batch query — shared code, not a copy); only the ≤4-row census is
  * collected — the bounded-collect contract every gate in this
  * package relies on. State is four longs, O(1) at any corpus size.
  */
object StreamAgreement {

  /** One micro-batch's row-sum census: Map(votes -> doc count). */
  def batchCensus(batch: DataFrame): Map[Int, Long] =
    graft.queries.InferenceQueries.raters3Of(batch)
      .select((col("a") + col("b") + col("c")).as("sv"))
      .groupBy("sv").agg(count(lit(1)).as("m"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  private def rd6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, RoundingMode.HALF_UP)
      .doubleValue()

  /** Fleiss kappa from a merged census — the EXACT double expression
    * the batch query computes (same operand order, same 6-dp HALF_UP
    * rounds), evaluated on plain JVM doubles:
    * (n, n_votes, pbar, pe, kappa); kappa None when P̄e = 1.
    */
  def kappaOf(cells: Array[Long]): (Long, Long, Double, Double, Option[Double]) = {
    var n = 0L; var s = 0L; var t1 = 0L
    var sv = 0
    while (sv <= 3) {
      val m = cells(sv)
      n += m
      s += sv * m
      t1 += (sv * (sv - 1) + (3 - sv) * (2 - sv)) * m
      sv += 1
    }
    val pbar = t1.toDouble / (6.0 * n)
    val peNum = s.toDouble * s + (3 * n - s).toDouble * (3 * n - s)
    val pe = peNum / (9.0 * n * n)
    val kappa =
      if (peNum < 9.0 * n * n) Some(rd6((pbar - pe) / (1.0 - pe))) else None
    (n, s, rd6(pbar), rd6(pe), kappa)
  }

  /** Streaming wiring: [[ReplayGuard.foreachBatch]] merging each
    * batch's census into `state` (4 cells) and appending one audit row
    * (batchId, n, n_votes, pbar, pe, kappa) through `sink`. The four
    * cells are the whole state: a caller persists them with each audit
    * row and re-seeds from the last one (restart contract in
    * [[ReplayGuard]]).
    */
  def monitor(docs: DataFrame, checkpointDir: String, state: Array[Long],
              startAfter: Long = -1L)(
      sink: ((Long, Long, Long, Double, Double, Option[Double])) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    ReplayGuard.foreachBatch(docs, checkpointDir, startAfter) { b =>
      batchCensus(b).foreach { case (sv, m) => state(sv) += m }
    } { (_, id) =>
      val (n, s, pbar, pe, k) = kappaOf(state)
      sink((id, n, s, pbar, pe, k))
    }
}
