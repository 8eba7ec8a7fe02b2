package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.queries.{SelectionQueries, WebCuration}

/** Streaming domain reputation — the streaming twin of
  * `domain_quality_profile`: as documents arrive, keep the per-domain
  * reputation table (doc count, Gopher-quality pass count, token
  * volume, language set, blocklist flag) LIVE, bit-exactly equal
  * after any prefix of batches to the batch query over the documents
  * seen so far.
  *
  * Unlike the funnel twin (whose dedup/cap/packing stages are
  * retroactive and force a recount), every reputation component is
  * EXACTLY MERGEABLE: counts and token sums add, language sets
  * union, the quality flag is per-document — so this is a true
  * incremental aggregate with state bounded by the DOMAIN population
  * (dimension-sized, the tightest state class in this package — one
  * small cell per registrable domain however large the corpus).
  *
  * Production split, as in StreamConformal/StreamAgreement: the
  * per-batch census aggregation runs DISTRIBUTED over the scan-fused
  * [[SelectionQueries.curationProfiles]] projection (the text is
  * parsed once, map-side); only |domains|-bounded cells collect. The
  * additive merge runs under [[ReplayGuard]].
  */
object StreamReputation {

  /** Exactly-mergeable per-domain cell. */
  case class DomainCell(
      nDocs: Long, nQuality: Long, nTokens: Long, langs: Set[String]) {
    def merge(o: DomainCell): DomainCell = DomainCell(
      nDocs + o.nDocs, nQuality + o.nQuality, nTokens + o.nTokens,
      langs ++ o.langs)
  }

  /** One micro-batch's per-domain census — distributed aggregate,
    * |domains|-bounded collect.
    */
  def batchCensus(batch: DataFrame): Map[String, DomainCell] = {
    val profiles = SelectionQueries.curationProfiles(
      batch.select(col("doc_id"), col("lang"), col("source"), col("text")))
    val q = SelectionQueries.gopherQuality
    profiles.groupBy("domain")
      .agg(count(lit(1)).as("nd"),
        sum(when(q, 1).otherwise(0)).as("nq"),
        sum(col("n_tokens")).as("nt"),
        collect_set(col("lang")).as("ls"))
      .collect()
      .map(r => r.getString(0) -> DomainCell(r.getLong(1), r.getLong(2),
        r.getLong(3), r.getSeq[String](4).toSet))
      .toMap
  }

  /** The reputation table from the state — the batch query's exact
    * row shape (domain, n_docs, n_quality, n_tokens, mean_tokens,
    * n_langs, blocked), domain-ordered. mean_tokens uses the same
    * HALF_UP 6-dp round as Spark's round(x, 6), so rows are
    * bit-comparable to the batch output.
    */
  def profileRows(state: scala.collection.Map[String, DomainCell])
      : Seq[(String, Long, Long, Long, Double, Long, Boolean)] =
    state.toSeq.sortBy(_._1).map { case (d, c) =>
      val mean = BigDecimal(c.nTokens.toDouble / c.nDocs)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (d, c.nDocs, c.nQuality, c.nTokens, mean, c.langs.size.toLong,
        WebCuration.Blocklist.contains(d))
    }

  /** Streaming wiring: [[ReplayGuard.foreachBatch]] merging each
    * batch's census into caller-owned `state` and emitting (batchId,
    * full reputation table) per micro-batch.
    */
  def monitor(docs: DataFrame, checkpointDir: String,
              state: scala.collection.mutable.Map[String, DomainCell],
              startAfter: Long = -1L)(
      sink: (Long, Seq[(String, Long, Long, Long, Double, Long, Boolean)]) => Unit)
      : DataStreamWriter[Row] =
    ReplayGuard.foreachBatch(docs, checkpointDir, startAfter) { b =>
      ReplayGuard.mergeInto(state, batchCensus(b))(_ merge _)
    } { (_, id) => sink(id, profileRows(state)) }
}
