package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.ops.Similarity

/** Streaming semantic decontamination — the streaming twin of
  * `semantic_decontamination`: training vectors arrive in
  * micro-batches and the contamination sweep census (per threshold:
  * train count, contaminated count, micro-unit sum of contaminated
  * max-cosines) stays LIVE, bit-exactly equal after any prefix of
  * batches to the batch query over the vectors seen so far — the
  * gauge an ingest pipeline watches to catch an eval leak WHILE the
  * corpus is being built, not after.
  *
  * In the StreamReputation class: every census component is EXACTLY
  * MERGEABLE — a vector's max-cos against the FIXED eval benchmark is
  * decided entirely within the batch that delivers it (the eval set
  * is a static dimension; nothing later can change a vector's max),
  * so per-threshold counts and quantized sums just add. State is the
  * |taus|-row census — the tightest possible.
  *
  * Production split: per batch, the |eval| cosines per arriving
  * vector run DISTRIBUTED through the same broadcast-eval /
  * map-side-max shape as the batch query (shared cosine kernel, so
  * parity is structural down to the 6-dp rounding); only the 3-row
  * census collects. The additive merge runs under [[ReplayGuard]].
  */
object StreamDecontamination {

  /** Exactly-mergeable per-threshold cell. */
  case class TauCell(nTrain: Long, nContaminated: Long, sumU: Long) {
    def merge(o: TauCell): TauCell = TauCell(
      nTrain + o.nTrain, nContaminated + o.nContaminated, sumU + o.sumU)
  }

  /** One micro-batch's census: max cosine per arriving vector against
    * the broadcast eval set (columns vec_id/embedding on both), then
    * the per-tau cells — a distributed aggregate, |taus|-row collect.
    * Same expressions as the batch query verbatim.
    */
  def batchCensus(batch: DataFrame, evalSet: DataFrame,
                  taus: Seq[Double]): Map[Double, TauCell] = {
    val q = evalSet.select(col("vec_id").as("q_id"),
      col("embedding").as("qe"))
    // anti-join the eval slice out FIRST: the batch query's train
    // side excludes eval vectors, and an ingest wired with the raw
    // table would otherwise count every eval vector as a contaminated
    // train row (each matches itself at cosine 1.0). The eval side is
    // already the broadcast dimension — one more broadcast hash join,
    // free at corpus scale.
    val m = batch
      .join(broadcast(evalSet.select("vec_id")), Seq("vec_id"), "left_anti")
      .select(col("vec_id").as("n_id"), col("embedding").as("ne"))
      .crossJoin(broadcast(q))
      .select(col("n_id"), Similarity.cosine(col("qe"), col("ne")).as("c"))
      .groupBy("n_id").agg(max(col("c")).as("max_cos"))
    import batch.sparkSession.implicits._
    val tdf = taus.toDF("tau")
    m.crossJoin(broadcast(tdf))
      .groupBy("tau")
      .agg(count(lit(1)).cast("long").as("nt"),
        sum(when(col("max_cos") >= col("tau"), 1).otherwise(0))
          .cast("long").as("nc"),
        coalesce(sum(when(col("max_cos") >= col("tau"),
          floor(col("max_cos") * lit(1e6) + lit(0.5)).cast("long"))),
          lit(0L)).as("su"))
      .collect()
      .map(r => r.getDouble(0) -> TauCell(r.getLong(1), r.getLong(2),
        r.getLong(3)))
      .toMap
  }

  /** The sweep table from the state — the batch query's exact row
    * shape (tau, n_train, n_contaminated, contamination_rate,
    * mean_maxcos_contaminated), tau-ordered; None where the batch
    * query emits NULL (no contaminated rows).
    */
  def sweepRows(state: scala.collection.Map[Double, TauCell])
      : Seq[(Double, Long, Long, Double, Option[Double])] =
    state.toSeq.sortBy(_._1).map { case (tau, c) =>
      (tau, c.nTrain, c.nContaminated,
        c.nContaminated.toDouble / c.nTrain,
        if (c.nContaminated > 0)
          Some(c.sumU.toDouble / c.nContaminated / 1e6)
        else None)
    }

  /** Streaming wiring: [[ReplayGuard.foreachBatch]] merging each
    * batch's census into caller-owned `state` and emitting (batchId,
    * sweep table) per micro-batch. `evalSet` is the static benchmark
    * dimension.
    */
  def monitor(vectors: DataFrame, evalSet: DataFrame, taus: Seq[Double],
              checkpointDir: String,
              state: scala.collection.mutable.Map[Double, TauCell],
              startAfter: Long = -1L)(
      sink: (Long, Seq[(Double, Long, Long, Double, Option[Double])]) => Unit)
      : DataStreamWriter[Row] =
    ReplayGuard.foreachBatch(vectors, checkpointDir, startAfter) { b =>
      ReplayGuard.mergeInto(state, batchCensus(b, evalSet, taus))(_ merge _)
    } { (_, id) => sink(id, sweepRows(state)) }
}
