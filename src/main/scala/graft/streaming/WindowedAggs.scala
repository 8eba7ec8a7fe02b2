package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupState
import org.apache.spark.sql.streaming.GroupStateTimeout
import org.apache.spark.sql.types.DecimalType

/** Streaming windowed aggregations and custom keyed state (SURVEY §2
  * T3/T6 extensions): tumbling and session windows with
  * watermarked late-data handling, and `mapGroupsWithState` for
  * arbitrary per-key state — the principled form of the reference's
  * stateful `ValueTransformer` (its state was read-only, so batch maps
  * it to broadcast; HERE is where genuinely mutable per-key state
  * lives).
  *
  * All functions take the streaming (or batch) `events` frame:
  * (event_id, ts, user_id, event_type, value, props).
  */
object WindowedAggs {

  /** Tumbling windows + watermark: late events beyond `watermark` are
    * dropped once the watermark passes their window end.
    */
  def tumblingCounts(events: DataFrame, window_ : String = "1 hour",
                     watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(12, 2))).cast("double").as("sum_value"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("n"), col("sum_value"))

  /** Session windows: dynamic gap-based windows, the streaming twin of
    * the batch `sessionize` query (same 30-minute gap semantics).
    */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"))

  /** Per-window Count-Min heavy-hitter guard — the sketch-as-join-guard
    * shape: one depth×width CMS of `probeCol` per tumbling window,
    * probed (plan-time bucket lookups, no second scan) for the keys a
    * downstream join would have to treat as skewed. In a streaming
    * pipeline this runs under the watermark in append mode: the window
    * closes, the sketch's estimates for the probe set are emitted, and
    * a salted/broadcast join for the next period takes its heavy-key
    * list from them — mergeable sketch state (CountMinSketchAgg is a
    * TypedImperativeAggregate, so partial buffers serialize through
    * the state store) instead of an exact per-key count whose state
    * would be O(distinct keys). Works identically over a batch frame
    * (the `cms_windowed` gate query; StreamingSpec pins
    * streaming==batch parity under late arrivals).
    */
  def windowedCms(events: DataFrame, probeCol: String, probes: Seq[String],
                  depth: Int, width: Int,
                  window_ : String = "1 hour",
                  watermark: String = "10 minutes"): DataFrame = {
    import graft.functions.CountMinSketchAgg
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_).as("w"))
      .agg(CountMinSketchAgg(col(probeCol), depth, width).as("sk"))
      .select(col("w.start").as("w_start") +: probes.map { p =>
        least((0 until depth).map(r =>
          element_at(col("sk"), r * width + CountMinSketchAgg.bucket(r, p, width) + 1)): _*)
          .as(s"est_$p")
      }: _*)
  }

  /** Watermarked per-window KLL quantile estimates — the quantile twin
    * of [[windowedCms]] (same shape: one mergeable sketch per window,
    * state bounded by open windows, late data folded until the
    * watermark seals). Below k items per window the sketch is EXACT
    * and merge-order-independent, so streaming==batch estimate parity
    * is bit-exact in that regime (pinned in StreamingSpec); above it
    * the rank-error bound takes over (QuantileSketchSpec).
    */
  def windowedQuantiles(events: DataFrame, valueCol: String, k: Int,
                        probs: Seq[Double],
                        window_ : String = "1 hour",
                        watermark: String = "10 minutes"): DataFrame = {
    import graft.functions.QuantileSketchAgg
    // output columns are named by integer percent — two probs in the
    // same percent would silently emit ambiguous duplicate columns
    require(probs.map(p => (p * 100).round).distinct.size == probs.size,
      s"probs $probs collide on integer-percent column names")
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_).as("w"))
      .agg(QuantileSketchAgg(col(valueCol), k, probs).as("qs"))
      .select(col("w.start").as("w_start") +: probs.zipWithIndex.map {
        case (p, i) =>
          element_at(col("qs"), i + 1).as(s"p${(p * 100).round}_est")
      }: _*)
  }

  /** Watermarked per-window approximate distinct (HLL++) — completes
    * the windowed sketch trio beside [[windowedCms]] and
    * [[windowedQuantiles]]. HLL merge is register-wise MAX —
    * commutative, associative, idempotent — so micro-batch arrival
    * order CANNOT change a sealed window's estimate: streaming==batch
    * parity is exact by algebra, not merely within the error bound
    * (pinned in StreamingSpec).
    */
  def windowedDistinct(events: DataFrame, keyCol: String, rsd: Double,
                       window_ : String = "1 hour",
                       watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_).as("w"))
      .agg(approx_count_distinct(col(keyCol), rsd).as("approx_keys"))
      .select(col("w.start").as("w_start"), col("approx_keys"))

  // ---- custom keyed state ----

  case class UserEvent(user_id: Long, event_type: String, value: Double)
  case class UserStats(user_id: Long, n_events: Long, total_value: Double,
                       n_errors: Long)

  /** Arbitrary per-key mutable state via mapGroupsWithState: running
    * per-user stats that accumulate across micro-batches (Update mode).
    * State lives in the Spark state store (RocksDB/HDFS-backed with a
    * checkpoint — the reference's RocksDB KV store analog, SURVEY §2 T6).
    */
  def runningUserStats(events: Dataset[UserEvent]): Dataset[UserStats] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (userId: Long, batch: Iterator[UserEvent], state: GroupState[UserStats]) =>
          val prev = state.getOption.getOrElse(UserStats(userId, 0L, 0.0, 0L))
          val next = batch.foldLeft(prev) { (acc, e) =>
            UserStats(userId, acc.n_events + 1, acc.total_value + e.value,
              acc.n_errors + (if (e.event_type == "error") 1L else 0L))
          }
          state.update(next)
          next
      }
  }
}
