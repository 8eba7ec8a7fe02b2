package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.ops.Multimodal
import graft.ops.Multimodal.MediaFile

/** Streaming media decode — the streaming twin of `png_pixel_stats`:
  * as media files arrive, decode each one's pixels the way the batch
  * path does (chunk walk + CRC, IDAT join, real Inflater, filter
  * inversion — literally [[Multimodal.decodePixelStats]] applied to
  * the micro-batch, so the twin reuses the batch decoder rather than
  * reimplementing it) and maintain the per-image stat ledger plus the
  * corpus rollup (images, pixels, Σp, global min/max).
  *
  * Idempotency is STRUCTURAL here, not batchId-guarded: decode is a
  * pure function of the bytes, and the ledger keys by media_id with
  * overwrite merge — a redelivered batch rewrites identical rows, so
  * retries cannot double-count (contrast StreamSax, whose additive
  * census needs [[ReplayGuard]]). That is exactly the property an
  * idempotent file/table sink relies on at scale.
  *
  * Scale shape: the decode stage stays narrow map-side INSIDE each
  * micro-batch — pixel mass never leaves the executors; only
  * fixed-width per-image stat rows come back. This harness collects
  * them into a caller-owned ledger to prove batch parity
  * (StreamingSpec); the production wiring writes the same rows to an
  * append sink keyed by media_id and keeps only the rollup on the
  * driver.
  */
object StreamMedia {

  /** Fixed-width per-image decode result (the PixelStats payload). */
  case class ImageStats(
      width: Int, height: Int, nPixels: Long,
      pxSum: Long, pxWsum: Long, pxMin: Int, pxMax: Int)

  /** Decode one micro-batch (media_id, content) through the BATCH
    * pixel decoder; returns the per-image stat rows.
    */
  def batchDecode(batch: DataFrame): Map[Long, ImageStats] = {
    import batch.sparkSession.implicits._
    val media = batch
      .select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) => MediaFile(id, "image", bytes, "stream") }
    Multimodal.decodePixelStats(media)
      .collect()
      .map(p => p.media_id -> ImageStats(p.width, p.height, p.n_pixels,
        p.px_sum, p.px_wsum, p.px_min, p.px_max))
      .toMap
  }

  /** Corpus rollup over the ledger: (n_images, n_pixels, px_sum,
    * px_min, px_max) — every component exactly mergeable.
    */
  def rollup(state: scala.collection.Map[Long, ImageStats])
      : (Long, Long, Long, Int, Int) = {
    var n = 0L; var np = 0L; var s = 0L; var mn = 255; var mx = 0
    state.valuesIterator.foreach { i =>
      n += 1; np += i.nPixels; s += i.pxSum
      if (i.pxMin < mn) mn = i.pxMin
      if (i.pxMax > mx) mx = i.pxMax
    }
    (n, np, s, mn, mx)
  }

  /** Streaming wiring: checkpointed foreachBatch decoding each batch
    * map-side, overwriting the caller-owned per-image ledger, and
    * emitting (batchId, images, pixels, px_sum, px_min, px_max) per
    * micro-batch. No startAfter parameter: overwrite merge makes
    * redelivery harmless by construction.
    */
  def monitor(media: DataFrame, checkpointDir: String,
              state: scala.collection.mutable.Map[Long, ImageStats])(
      sink: ((Long, Long, Long, Long, Int, Int)) => Unit): DataStreamWriter[Row] = {
    media.writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        batchDecode(b).foreach { case (mid, st) => state(mid) = st }
        val (n, np, s, mn, mx) = rollup(state)
        sink((id, n, np, s, mn, mx))
      }
      .option("checkpointLocation", checkpointDir)
  }
}
