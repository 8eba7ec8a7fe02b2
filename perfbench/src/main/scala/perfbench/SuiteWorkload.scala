package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.queries._

/** `analytics_suite`: an untimed warm-up pass, then timed passes over a
  * fixed subset of `SparkEntry.allQueries` through a noop sink, on
  * seeded tables. The subset ([[subset]]) depends only on the
  * registry, never on timings.
  */
object SuiteWorkload {

  val Modules: Seq[(String, Seq[Q])] = Seq(
    "CoreQueries" -> CoreQueries.all, "AggQueries" -> AggQueries.all,
    "TimeQueries" -> TimeQueries.all, "DedupQueries" -> DedupQueries.all,
    "SimilarityQueries" -> SimilarityQueries.all, "TextQueries" -> TextQueries.all,
    "ExtraQueries" -> ExtraQueries.all, "TpchQueries" -> TpchQueries.all,
    "BehaviorQueries" -> BehaviorQueries.all, "VocabQueries" -> VocabQueries.all,
    "SequenceQueries" -> SequenceQueries.all, "SelectionQueries" -> SelectionQueries.all,
    "EvalQueries" -> EvalQueries.all, "TimeSeriesQueries" -> TimeSeriesQueries.all,
    "GovernanceQueries" -> GovernanceQueries.all, "ProseQueries" -> ProseQueries.all,
    "LinAlgQueries" -> LinAlgQueries.all, "StatQueries" -> StatQueries.all,
    "ModelQueries" -> ModelQueries.all, "RankStatQueries" -> RankStatQueries.all,
    "RetrievalQueries" -> RetrievalQueries.all, "AttributionQueries" -> AttributionQueries.all,
    "MixtureQueries" -> MixtureQueries.all, "InferenceQueries" -> InferenceQueries.all,
    "TestBatteryQueries" -> TestBatteryQueries.all, "WebCurationQueries" -> WebCurationQueries.all,
    "HtmlQueries" -> HtmlQueries.all, "PreferenceQueries" -> PreferenceQueries.all)

  /** Modules the subset draws from: the [[SubsetModules]] largest by
    * query count (ties in registry order), which hold about half of
    * the registry's queries. A pass over every module takes longer
    * than one run may.
    */
  val SubsetModules = 5

  /** (module, query) pairs of the subset, in registry order: from each
    * chosen module its first query with oracle SQL, else its first.
    */
  def subset: Seq[(String, Q)] = {
    val chosen = Modules.sortBy(-_._2.size).take(SubsetModules).map(_._1).toSet
    Modules.filter(m => chosen(m._1)).map { case (m, qs) =>
      m -> qs.find(_.oracle.isDefined).getOrElse(qs.head)
    }
  }

  val MinPasses = 4

  def run(a: RunArgs): Result = {
    val res = new Result("analytics_suite")
    val dataDir = s"${a.workDir}/tables"
    val prep = Common.session(a.workDir)
    AnalyticsData.write(prep, dataDir, a.seed)
    Smoke.golden(prep, res)
    prep.stop()

    val (spark, setups, loads) = Common.timedSetups(a.workDir) { s =>
      graft.Tables.registerAll(s, dataDir)
    }
    res.e2e("setup_s") = (Stats.median(setups), "s")
    val suite = subset
    res.say(s"subset: ${suite.map { case (m, q) => s"$m.${q.name}" }.mkString(", ")}")
    val failedQ = mutable.LinkedHashSet.empty[String]

    def runQuery(q: Q): Double = {
      val t0 = System.nanoTime()
      try q.run(spark, dataDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        if (failedQ.add(q.name)) res.say(s"query ${q.name} failed: ${e.getMessage.take(300)}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // release blocks a query materialized (as graft.Bench does)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      dt
    }
    def pass(): (Double, Seq[Double]) = {
      val t0 = System.nanoTime()
      val each = suite.map { case (_, q) => runQuery(q) }
      ((System.nanoTime() - t0) / 1e9, each)
    }

    // warm-up pass (classloading, JIT, codegen cache), which also writes
    // each result for the oracle check
    res.queryOutDir = s"${a.workDir}/results"
    suite.foreach { case (_, q) =>
      try q.run(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(s"${res.queryOutDir}/${q.name}")
      catch { case e: Throwable =>
        if (failedQ.add(q.name)) res.say(s"query ${q.name} failed: ${e.getMessage.take(300)}")
      }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    val passes = mutable.ArrayBuffer.empty[(Double, Seq[Double])]
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    while (passes.size < MinPasses || System.nanoTime() < deadline) passes += pass()

    val medPass = Stats.median(passes.map(_._1).toSeq)
    res.e2e("throughput_per_s") = (suite.size / medPass, "1/s")
    res.say(f"suite_s=$medPass%.4f s (median of ${passes.size} timed passes over ${suite.size} queries " +
      f"from the ${SubsetModules} largest of ${Modules.size} modules); throughput ${suite.size / medPass}%.3f queries/s")
    Common.latencyMetrics(res, Seq(Common.sorted(passes.flatMap(_._2.map(_ * 1000)))), "query executions")
    res.say(s"setup_s=${"%.4f".format(Stats.median(setups))} s (median of ${setups.size} session starts + table registrations)")

    if (a.trace) {
      val l = res.layer
      val spans = new Trace.SparkSpans
      val planning = new QueryExecutionListener {
        var planMs = 0.0
        override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = synchronized {
          planMs += qe.tracker.phases.values.map(_.durationMs).sum
        }
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.sparkContext.addSparkListener(spans)
      spark.listenerManager.register(planning)
      val (c0, m0) = Trace.codegen()
      val (tracedPass, each) = pass()
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      val (c1, m1) = Trace.codegen()
      spark.listenerManager.unregister(planning)
      spark.sparkContext.removeSparkListener(spans)
      Metrics.spark(l, spans, c1 - c0, m1 - m0, tracedPass)
      val planS = planning.synchronized(planning.planMs) / 1000
      l("queries.plan_s") = (planS, "s")
      l("queries.exec_s") = (tracedPass - planS, "s")
      l("queries.failed") = (failedQ.size.toDouble, "count")
      suite.zip(each).foreach { case ((m, _), t) => l(s"queries.${m}_s") = (t, "s") }
      l("trace.overhead_frac") = (tracedPass / medPass - 1, "ratio")
    }

    suite.foreach { case (_, q) =>
      q.oracle match {
        case Some(sql) if !failedQ(q.name) => res.oracle(q.name) = sql
        case None if !failedQ(q.name) => res.checkOnlyRows += q.name
        case _ =>
      }
    }
    res.attempted = suite.size
    res.failed = failedQ.size
    res.e2e("live_heap_mb") = (Common.liveHeapMb(), "MB")
    spark.stop()
    res
  }
}
