package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.SparkSession

/** What one benchmark run is asked to do. */
final case class RunArgs(workload: String, seed: Long, seconds: Int,
                         trace: Boolean, workDir: String, out: String)

/** Metrics and outcome of one run, written as JSON for the launcher. */
final class Result(val workload: String) {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val summary = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  /** analytics only: query -> DuckDB oracle SQL, and result directory */
  val oracle = mutable.LinkedHashMap.empty[String, String]
  val checkOnlyRows = mutable.ArrayBuffer.empty[String]
  var queryOutDir: String = ""

  def say(line: String): Unit = { summary += line; System.err.println("[perfbench] " + line) }

  def toJson: String = {
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]): String =
      m.map { case (k, (v, u)) =>
        Json.str(k) + ":{\"value\":" + Json.num(v) + ",\"unit\":" + Json.str(u) + "}"
      }.mkString("{", ",", "}")
    "{" + Seq(
      "\"workload\":" + Json.str(workload),
      "\"attempted\":" + attempted,
      "\"failed\":" + failed,
      "\"e2e\":" + metrics(e2e),
      "\"layer\":" + metrics(layer),
      "\"summary\":" + summary.map(Json.str).mkString("[", ",", "]"),
      "\"oracle\":" + oracle.map { case (k, v) => Json.str(k) + ":" + Json.str(v) }.mkString("{", ",", "}"),
      "\"rows_only\":" + checkOnlyRows.map(Json.str).mkString("[", ",", "]"),
      "\"query_out_dir\":" + Json.str(queryOutDir)
    ).mkString(",") + "}"
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append("\\u%04x".format(c.toInt))
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}

object Common {

  /** Engine threads: the load generator takes the remaining core. */
  val EngineCores: Int = math.max(1, Runtime.getRuntime.availableProcessors() - 1)

  /** Setups timed per run; the median is reported. */
  val SetupRepeats = 3

  /** The session every workload runs in: the library's own settings
    * (those of `graft.Bench`), local directories inside the run's
    * work directory.
    */
  def session(workDir: String, cores: Int = EngineCores): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Starts the session [[SetupRepeats]] times (stopping the previous
    * one), each time followed by `load`; returns the last session and
    * the per-setup (total seconds, load seconds).
    */
  def timedSetups(workDir: String, cores: Int = EngineCores)(
      load: SparkSession => Unit): (SparkSession, Seq[Double], Seq[Double]) = {
    var spark: SparkSession = null
    val totals = mutable.ArrayBuffer.empty[Double]
    val loads = mutable.ArrayBuffer.empty[Double]
    (1 to SetupRepeats).foreach { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(workDir, cores)
      val t1 = System.nanoTime()
      load(spark)
      val t2 = System.nanoTime()
      totals += (t2 - t0) / 1e9
      loads += (t2 - t1) / 1e9
    }
    (spark, totals.toSeq, loads.toSeq)
  }

  private val dimSchema = MessageTypeParser.parseMessageType(
    "message dim { required binary bk (STRING); }")
  private val wordSchema = MessageTypeParser.parseMessageType(
    "message words { required binary word (STRING); required binary value (STRING); }")

  /** Writes a one-column (`bk`) parquet file of blocked pair keys. The
    * file is written under a hidden name and renamed into place, so a
    * concurrent directory listing sees all of it or none of it.
    */
  def writeDimFile(dir: String, name: String, keys: Iterable[String]): Unit = {
    Files.createDirectories(Paths.get(dir))
    val tmp = Paths.get(dir, "." + name + ".tmp")
    val w = ExampleParquetWriter.builder(new LocalOutputFile(tmp)).withType(dimSchema).build()
    val f = new SimpleGroupFactory(dimSchema)
    try keys.foreach(k => w.write(f.newGroup().append("bk", k)))
    finally w.close()
    Files.move(tmp, Paths.get(dir, name), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  def writeWordTable(dir: String, rows: Seq[(String, String)]): Unit = {
    Files.createDirectories(Paths.get(dir))
    val w = ExampleParquetWriter.builder(new LocalOutputFile(Paths.get(dir, "part-0.parquet")))
      .withType(wordSchema).build()
    val f = new SimpleGroupFactory(wordSchema)
    try rows.foreach { case (word, v) => w.write(f.newGroup().append("word", word).append("value", v)) }
    finally w.close()
  }

  /** Live heap (MB): the least heap in use right after each of five
    * forced full collections (background threads allocate between them).
    */
  def liveHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 5).map { _ =>
      System.gc()
      val used = mx.getHeapMemoryUsage.getUsed / 1048576.0
      Thread.sleep(40)
      used
    }.min
  }

  def sorted(xs: Iterable[Double]): Array[Double] = {
    val a = xs.toArray
    java.util.Arrays.sort(a)
    a
  }

  /** Median and the tail percentile of the tail rule, recorded as
    * end-to-end latency metrics. `windows` holds the ascending samples
    * of each measurement window; each percentile is taken per window,
    * at the tail level the smallest window supports, and the median
    * over windows is reported.
    */
  def latencyMetrics(r: Result, windows: Seq[Array[Double]], what: String): Unit = {
    val n = windows.map(_.length).min
    val tail = Stats.tailLevel(n).getOrElse(
      throw new IllegalStateException(s"only $n latency samples in a window: no percentile is supported"))
    val p50 = Stats.median(windows.map(Stats.percentile(_, 5000)))
    val pt = Stats.median(windows.map(Stats.percentile(_, tail)))
    r.e2e("latency_p50_ms") = (p50, "ms")
    r.e2e("latency_tail_ms") = (pt, "ms")
    val label = if (tail % 100 == 0) s"p${tail / 100}" else f"p${tail / 100.0}%.2f".replaceAll("0+$", "")
    val count =
      if (windows.size == 1) s"n=$n $what"
      else s"median over ${windows.size} windows of n>=$n $what, ${windows.map(_.length).sum} in all"
    r.say(f"latency_p50_ms=$p50%.3f ms, latency_${label}_ms=$pt%.3f ms " +
      s"(tail = highest percentile with >= 10 samples beyond it; $count; " +
      s"${Stats.beyond(n, tail)} beyond)")
  }

  /** a / b, or 0 when b is 0. */
  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

}
