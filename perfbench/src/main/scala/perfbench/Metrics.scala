package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.ops.Moderation
import graft.streaming.ModerationStream

/** Per-layer metric groups shared by several workloads. */
object Metrics {
  type Layer = mutable.LinkedHashMap[String, (Double, String)]

  /** Spark engine layer, from the listener bus and codegen metrics. */
  def spark(l: Layer, s: Trace.SparkSpans, codegenClasses: Long, codegenMs: Double,
            wallS: Double): Unit = s.synchronized {
    val delays = Common.sorted(s.schedulerDelayMs)
    l("spark.jobs") = (s.jobs.toDouble, "count")
    l("spark.stages") = (s.stages.toDouble, "count")
    l("spark.tasks") = (s.tasks.toDouble, "count")
    l("spark.task_run_ms") = (s.taskRunMs, "ms")
    l("spark.task_cpu_ms") = (s.taskCpuMs, "ms")
    l("spark.gc_ms") = (s.gcMs, "ms")
    l("spark.busy_frac") = (Common.ratio(s.taskWallMs, wallS * 1000 * Common.EngineCores), "ratio")
    l("spark.scheduler_delay_ms_p50") =
      (if (delays.isEmpty) 0.0 else Stats.percentile(delays, 5000), "ms")
    l("spark.shuffle_write_mb") = (s.shuffleWriteBytes / 1048576.0, "MB")
    l("spark.shuffle_read_mb") = (s.shuffleReadBytes / 1048576.0, "MB")
    l("spark.spill_mb") = (s.spillBytes / 1048576.0, "MB")
    l("spark.codegen_compile_ms") = (codegenMs, "ms")
    l("spark.codegen_classes") = (codegenClasses.toDouble, "count")
  }

  /** Join, censor and serde counts of a checked moderation run. */
  def moderationCounts(l: Layer, v: Verify.Verdict, dimKeys: Long, words: Int,
                       singlePass: Boolean): Unit = {
    l("join.rows_in") = (v.rowsIn.toDouble, "count")
    l("join.rows_out") = (v.rowsOut.toDouble, "count")
    l("join.drop_ratio") = (1 - Common.ratio(v.rowsOut, v.rowsIn), "ratio")
    l("join.dim_keys") = (dimKeys.toDouble, "count")
    l("censor.words") = (words.toDouble, "count")
    l("censor.single_pass") = (if (singlePass) 1.0 else 0.0, "bool")
    l("censor.msgs_censored") = (v.censored.toDouble, "count")
    l("censor.hit_ratio") = (Common.ratio(v.censored, v.rowsOut), "ratio")
    l("censor.chars_masked") = (v.charsMasked.toDouble, "count")
    l("serde.bytes_in") = (v.bytesIn.toDouble, "bytes")
    l("serde.bytes_out") = (v.bytesOut.toDouble, "bytes")
    l("serde.null_rows") = (v.nullRows.toDouble, "count")
  }

  def timeNoop(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** The moderation job the batch workload times. */
  def moderationJob(input: DataFrame, blocked: DataFrame, words: Seq[String]): DataFrame =
    ModerationStream.encodeKafka(
      Moderation.pipeline(ModerationStream.decodeKafka(input), blocked, words, singlePass = true))

  /** Join, censor and serde times from noop actions over growing
    * prefixes of the moderation pipeline on one cached (key, value)
    * input: Spark is lazy, so a layer's time is the difference between
    * two prefixes. `textChars` is the text length the censor scans.
    * Also records the broadcast size of the anti-join.
    */
  def prefixTimes(l: Layer, input: DataFrame, blocked: DataFrame, words: Seq[String],
                  textChars: Long): Unit = {
    val decoded = ModerationStream.decodeKafka(input)
    val scan = timeNoop(input)
    val decode = timeNoop(decoded)
    val join = timeNoop(Moderation.dropBlocked(decoded, blocked))
    val censor = timeNoop(Moderation.pipeline(decoded, blocked, words, singlePass = true))
    val full = timeNoop(moderationJob(input, blocked, words))
    l("serde.decode_s") = (decode - scan, "s")
    l("join.s") = (join - decode, "s")
    l("censor.s") = (censor - join, "s")
    l("serde.encode_s") = (full - censor, "s")
    l("censor.ns_per_char") = (Common.ratio((censor - join) * 1e9, textChars.toDouble), "ns")
    val spark = input.sparkSession
    val captured = new QueryExecutionListener {
      @volatile var last: QueryExecution = _
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = last = qe
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(captured)
    timeNoop(Moderation.dropBlocked(decoded, blocked))
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.listenerManager.unregister(captured)
    val helper = new AdaptiveSparkPlanHelper {}
    val bytes = Option(captured.last).toSeq.flatMap(qe => helper.collect(qe.executedPlan) {
      case b: BroadcastExchangeExec => b.metrics("dataSize").value
    }).sum
    l("join.broadcast_mb") = (bytes / 1048576.0, "MB")
  }

  /** Times 20 re-reads of a dimension directory, as a micro-batch of
    * the live dimension does.
    */
  def dimReload(l: Layer, spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val probes = Common.sorted((1 to 20).map { _ =>
      timeNoop(spark.read.parquet(dir)) * 1000
    })
    l("dim.reload_ms_p50") = (Stats.percentile(probes, 5000), "ms")
    l("dim.reload_ms_p99") = (Stats.percentile(probes, 9900), "ms")
  }
}
