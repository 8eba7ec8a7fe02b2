package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** The batchId guard of the streaming census monitors: a micro-batch
  * that Spark delivers again under an id already folded leaves the
  * caller-owned state untouched, so an additive census counts each
  * batch once.
  *
  * Replay contract. `foreachBatch` is at-least-once in two windows:
  *  1. an in-run retry repeats a batchId within one run — the guard
  *     remembers the last applied id and skips the fold;
  *  2. a crash between the fold and the checkpoint's commit makes the
  *     next run deliver that batch again. State lives with the caller,
  *     not in the checkpoint, so a caller that re-seeds it from
  *     persisted cells must also pass the batchId those cells include
  *     as `startAfter` (every monitor's sink receives the id for this
  *     purpose), or the replayed batch double-counts. A fresh run with
  *     empty state keeps -1.
  */
object ReplayGuard {

  /** Checkpointed `foreachBatch` over `df`: `fold` runs once per batchId
    * above `startAfter`; `emit` runs for every delivered batch, skipped
    * ones included, after the fold.
    */
  def foreachBatch(df: DataFrame, checkpointDir: String, startAfter: Long)(
      fold: DataFrame => Unit)(emit: (DataFrame, Long) => Unit)
      : DataStreamWriter[Row] = {
    var lastApplied = startAfter
    df.writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        if (id > lastApplied) {
          fold(b)
          lastApplied = id
        }
        emit(b, id)
      }
      .option("checkpointLocation", checkpointDir)
  }

  /** Folds `cells` into `state` key by key: `plus(old, cell)` where the
    * key is present, the cell itself where it is not.
    */
  def mergeInto[K, V](state: scala.collection.mutable.Map[K, V],
                      cells: Iterable[(K, V)])(plus: (V, V) => V): Unit =
    cells.foreach { case (k, cell) =>
      state(k) = state.get(k).map(plus(_, cell)).getOrElse(cell)
    }
}
