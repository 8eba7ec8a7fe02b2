package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupStateTimeout, GroupState, OutputMode}

import graft.queries.Preference

/** Streaming preference-match census — the streaming twin of
  * `bradley_terry_rank`'s input: as candidates arrive, keep the
  * pairwise-win census (s1, s2, m, w1) LIVE, bit-exactly equal after
  * any prefix of batches to the batch [[Preference.matchCensus]] over
  * the candidates seen so far — so a reward-model data pipeline can
  * re-fit strengths mid-collection without re-reading the corpus.
  *
  * The interesting seam vs StreamReputation/StreamLinkGraph: a match
  * needs BOTH group members, which in general arrive in different
  * micro-batches — so the census is not per-batch mergeable from the
  * raw stream. It IS incrementally constructible: a pair's outcome
  * depends only on the two candidates' (score, doc_id), so the moment
  * the SECOND member arrives the outcome is final. The twin therefore
  * keeps a per-prompt-group ROSTER in Spark's own keyed state
  * (flatMapGroupsWithState — the T6 state-store machinery), emits
  * each cross-source pair outcome EXACTLY ONCE (new arrival × roster,
  * plus new × new within the batch), and the downstream census merge
  * is the usual additive fold of a |sources|²-bounded frame under
  * [[ReplayGuard]].
  *
  * State: one roster per prompt group, bounded at the group width (8
  * candidates, ~40 B each) — linear in corpus/8 groups, the same
  * state class as watermark dedup; RocksDB-backed in production.
  * Emission is exactly-once under checkpoint replay: the state store
  * rolls back with the batch, the replayed batch re-emits identical
  * pairs, and the sink guard drops them.
  */
object StreamPreference {

  case class Cand(pg: Long, docId: Long, source: String, score: Long)
  case class Roster(members: Seq[Cand])
  /** One decided match: unordered source pair + whether s1 won. */
  case class PairOut(s1: String, s2: String, win1: Boolean)

  /** The streaming candidate projection — the batch
    * [[Preference.candidatesOf]] verbatim (narrow ops only), typed.
    */
  def candidates(docs: DataFrame): Dataset[Cand] = {
    import docs.sparkSession.implicits._
    Preference.candidatesOf(docs)
      .select(col("pg"), col("doc_id").as("docId"), col("source"),
        col("score"))
      .as[Cand]
  }

  private def outcome(a: Cand, b: Cand): PairOut = {
    val (s1, s2) = if (a.source < b.source) (a.source, b.source)
                   else (b.source, a.source)
    val winner = if (a.score > b.score ||
      (a.score == b.score && a.docId < b.docId)) a.source else b.source
    PairOut(s1, s2, winner == s1)
  }

  /** Keyed-state pair emission: each arrival plays every cross-source
    * roster member exactly once. Within-batch arrivals process in
    * doc_id order — order only affects WHEN a pair emits, never its
    * outcome (a pure function of the two candidates).
    */
  def pairStream(cands: Dataset[Cand]): Dataset[PairOut] = {
    import cands.sparkSession.implicits._
    def fn(pg: Long, it: Iterator[Cand],
           state: GroupState[Roster]): Iterator[PairOut] = {
      var roster = state.getOption.map(_.members).getOrElse(Seq.empty)
      val out = Seq.newBuilder[PairOut]
      it.toSeq.sortBy(_.docId).foreach { c =>
        roster.iterator.filter(_.source != c.source)
          .foreach(o => out += outcome(c, o))
        roster :+= c
      }
      state.update(Roster(roster))
      out.result().iterator
    }
    cands.groupByKey(_.pg)
      .flatMapGroupsWithState[Roster, PairOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  /** Streaming wiring: [[ReplayGuard.foreachBatch]] over the pair
    * stream merging each batch's |sources|²-bounded (m, w1) deltas
    * into caller-owned `census` and emitting (batchId, full census
    * rows in the batch query's (s1, s2) order).
    */
  def monitor(docs: DataFrame, checkpointDir: String,
              census: scala.collection.mutable.Map[(String, String), (Long, Long)],
              startAfter: Long = -1L)(
      sink: (Long, Seq[(String, String, Long, Long)]) => Unit)
      : DataStreamWriter[Row] =
    ReplayGuard.foreachBatch(pairStream(candidates(docs)).toDF(),
        checkpointDir, startAfter) { b =>
      ReplayGuard.mergeInto(census, b.groupBy("s1", "s2")
        .agg(count(lit(1)).as("m"),
          sum(when(col("win1"), 1L).otherwise(0L)).as("w1"))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))) {
        case ((m0, w0), (m, w)) => (m0 + m, w0 + w)
      }
    } { (_, id) =>
      sink(id, census.toSeq.sortBy(_._1)
        .map { case ((s1, s2), (m, w)) => (s1, s2, m, w) })
    }
}
