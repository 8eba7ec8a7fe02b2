package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.queries.Html

/** Streaming host link graph — the streaming twin of `html_outlinks`:
  * as pages arrive, keep the domain-level outlink edge census
  * (src_domain, dst_domain, n_links, n_docs) LIVE, bit-exactly equal
  * after any prefix of batches to the batch query over the pages seen
  * so far — the feed a crawl scheduler reads to re-prioritize hosts
  * while the crawl is still running.
  *
  * Like StreamReputation (and unlike the funnel's retroactive
  * stages), every component is EXACTLY MERGEABLE: link counts add,
  * and distinct-page counts add too because a page's outlinks all
  * ride in the batch that delivers the page — a page contributes to
  * each (src, dst) cell exactly once, in exactly one batch (replays
  * are cut by [[ReplayGuard]]). State is bounded by the DOMAIN-PAIR
  * grid (dimension-sized), not the corpus.
  *
  * Production split: per batch, the synthesize → extract → explode →
  * per-edge census runs DISTRIBUTED through the batch queries' own
  * [[Html.pageProjection]] + [[Html.outlinkEdges]] (shared verbatim,
  * so parity is structural); only the |domain-pair|-bounded cells
  * collect into the driver-held table.
  */
object StreamLinkGraph {

  /** Exactly-mergeable per-edge cell. */
  case class EdgeCell(nLinks: Long, nDocs: Long) {
    def merge(o: EdgeCell): EdgeCell = EdgeCell(nLinks + o.nLinks, nDocs + o.nDocs)
  }

  /** One micro-batch's edge census — distributed aggregate,
    * |domain-pair|-bounded collect. Input: (doc_id, source, text).
    */
  def batchCensus(batch: DataFrame): Map[(String, String), EdgeCell] =
    Html.outlinkEdges(Html.pageProjection(batch))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        EdgeCell(r.getLong(2), r.getLong(3)))
      .toMap

  /** The edge table from the state — the batch query's exact row
    * shape and (src_domain, dst_domain) order, so rows are directly
    * comparable to `html_outlinks` output.
    */
  def edgeRows(state: scala.collection.Map[(String, String), EdgeCell])
      : Seq[(String, String, Long, Long)] =
    state.toSeq.sortBy(_._1).map { case ((s, d), c) =>
      (s, d, c.nLinks, c.nDocs)
    }

  /** Streaming wiring: [[ReplayGuard.foreachBatch]] merging each
    * batch's census into caller-owned `state` and emitting (batchId,
    * full edge table) per micro-batch.
    */
  def monitor(docs: DataFrame, checkpointDir: String,
              state: scala.collection.mutable.Map[(String, String), EdgeCell],
              startAfter: Long = -1L)(
      sink: (Long, Seq[(String, String, Long, Long)]) => Unit)
      : DataStreamWriter[Row] =
    ReplayGuard.foreachBatch(docs, checkpointDir, startAfter) { b =>
      ReplayGuard.mergeInto(state, batchCensus(b))(_ merge _)
    } { (_, id) => sink(id, edgeRows(state)) }
}
