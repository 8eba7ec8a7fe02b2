package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming split-conformal radius — the streaming twin of
  * `conformal_interval`'s calibration half: as (event_type,
  * |residual|) rows stream in, maintain the per-type residual census
  * (a count map keyed by the exact integer |residual| — bounded by
  * the hour span like every census in this package) and emit each
  * type's running conformal radius: the ⌈0.9·(n+1)⌉-th smallest
  * |residual|, the SAME integer-rank arithmetic as the batch query.
  * Census merge is exact integer addition, so after the last batch
  * the radii equal the batch query over the same rows under ANY
  * arrival order or batching (pinned in StreamingSpec).
  *
  * Production split, as in StreamAgreement: the per-batch census
  * aggregation runs DISTRIBUTED; only census rows collect (the
  * bounded-collect contract). The merge runs under [[ReplayGuard]].
  */
object StreamConformal {

  /** One micro-batch's census: (event_type, |residual|) -> row count. */
  def batchCensus(batch: DataFrame): Map[(String, Long), Long] =
    batch.groupBy("event_type", "ar").agg(count(lit(1)).as("m"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap

  /** Conformal radius from one type's residual census: k-th smallest
    * with k = ⌈0.9·(n+1)⌉ = (9(n+1)+9) div 10 — integer arithmetic
    * identical to the batch query's rank selection; None while k > n
    * (calibration too small — exactly the types the batch query
    * drops).
    */
  def radiusOf(census: Map[Long, Long]): (Long, Option[Long]) = {
    val n = census.valuesIterator.sum
    val k = (9 * (n + 1) + 9) / 10
    if (k > n) (n, None)
    else {
      var acc = 0L
      var radius = -1L
      val it = census.toSeq.sortBy(_._1).iterator
      while (acc < k && it.hasNext) {
        val (ar, m) = it.next(); acc += m; radius = ar
      }
      (n, Some(radius))
    }
  }

  /** Streaming wiring: [[ReplayGuard.foreachBatch]] merging each
    * batch's census into caller-owned `state` and emitting one
    * (batchId, event_type, n_cal, radius) row per type per batch.
    */
  def monitor(residuals: DataFrame, checkpointDir: String,
              state: scala.collection.mutable.Map[(String, Long), Long],
              startAfter: Long = -1L)(
      sink: ((Long, String, Long, Option[Long])) => Unit): DataStreamWriter[Row] =
    ReplayGuard.foreachBatch(residuals, checkpointDir, startAfter) { b =>
      ReplayGuard.mergeInto(state, batchCensus(b))(_ + _)
    } { (_, id) =>
      // ONE pass over the census map, not one per type
      state.groupBy(_._1._1).toSeq.sortBy(_._1).foreach { case (tpe, cells) =>
        val (n, r) = radiusOf(cells.map { case ((_, ar), m) => ar -> m }.toMap)
        sink((id, tpe, n, r))
      }
    }
}
