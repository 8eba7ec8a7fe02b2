package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.queries.Html

/** Streaming crawl frontier — the streaming twin of `crawl_frontier`,
  * the web family's capstone: as pages arrive, keep the crawl
  * scheduler's per-domain priority table LIVE, bit-exactly equal
  * after any prefix of batches to the batch query over the documents
  * seen so far — the table a crawler re-reads between fetch rounds to
  * decide where its budget goes while the crawl is still running.
  *
  * Composition of two existing exactly-mergeable states, maintained
  * here side by side under ONE [[ReplayGuard]] (both censuses advance
  * together or not at all, so a checkpoint-replayed batch can never
  * skew rank against reputation):
  *  - the domain-pair outlink edge census ([[StreamLinkGraph
  *    .batchCensus]] — link counts add, page counts add because a
  *    page's links ride in its delivery batch), feeding the 3-iter
  *    fixed-point pagerank;
  *  - the per-domain reputation cells ([[StreamReputation
  *    .batchCensus]] — counts and token sums add), feeding the
  *    Laplace-smoothed quality rate.
  *
  * Per micro-batch the frontier recomputes from the two censuses
  * through the BATCH [[Html.frontierTable]] verbatim (parity is
  * structural) — census-only math by construction: both inputs are
  * dimension-bounded (domain-pair grid / domain population), so the
  * per-batch refresh never touches a corpus-sized row no matter how
  * much has streamed through. That is the 100 TB shape: the corpus
  * pass is the per-batch census extraction (distributed, scan-fused);
  * the frontier itself is a census join.
  */
object StreamFrontier {

  /** Frontier rows from the two census states — the batch query's
    * exact row shape and (priority DESC, domain) order.
    */
  def frontierRows(spark: SparkSession,
      edges: scala.collection.Map[(String, String), StreamLinkGraph.EdgeCell],
      domains: scala.collection.Map[String, StreamReputation.DomainCell])
      : Array[Row] = {
    import spark.implicits._
    val edgeDf = edges.toSeq.sortBy(_._1)
      .map { case ((s, d), c) => (s, d, c.nLinks, c.nDocs) }
      .toDF("src_domain", "dst_domain", "n_links", "n_docs")
    val profDf = domains.toSeq.sortBy(_._1)
      .map { case (d, c) => (d, c.nDocs, c.nQuality) }
      .toDF("pd", "nd", "nq")
    Html.frontierTable(edgeDf, profDf).collect()
  }

  /** Streaming wiring: [[ReplayGuard.foreachBatch]] merging each
    * batch's edge + reputation censuses into caller-owned state (one
    * fold for both, so replays skip them atomically) and emitting
    * (batchId, frontier table) per micro-batch.
    */
  def monitor(docs: DataFrame, checkpointDir: String,
      edges: scala.collection.mutable.Map[(String, String), StreamLinkGraph.EdgeCell],
      domains: scala.collection.mutable.Map[String, StreamReputation.DomainCell],
      startAfter: Long = -1L)(
      sink: (Long, Array[Row]) => Unit): DataStreamWriter[Row] =
    ReplayGuard.foreachBatch(docs, checkpointDir, startAfter) { b =>
      // one distributed pass each over the batch (page synthesis +
      // outlink extraction; profile projection) — both collect
      // only dimension-bounded cells
      ReplayGuard.mergeInto(edges, StreamLinkGraph.batchCensus(
        b.select(col("doc_id"), col("source"), col("text"))))(_ merge _)
      ReplayGuard.mergeInto(domains, StreamReputation.batchCensus(b))(_ merge _)
    } { (b, id) => sink(id, frontierRows(b.sparkSession, edges, domains)) }
}
