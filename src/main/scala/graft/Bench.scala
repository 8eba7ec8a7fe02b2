package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: every registered query against
  * SPARK_GRAFT_SF_DIR, one JSON line on stdout.
  *
  * Each query is executed through a `noop` sink write — unlike
  * `count()`, this computes every output column (a count would let
  * Catalyst prune the projections/regexes being measured) without
  * paying parquet-writer cost.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    // optional args = query-name filter (local iteration on a subset;
    // the driver passes none and gets the full suite)
    val only: Set[String] = args.toSet
    val suite = SparkEntry.select(only)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Session.configure(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // ~60 queries x ~10 codegen stages far exceed the default
      // 100-entry generated-class cache, so every timed pass would
      // re-run janino on every stage (the dominant cost: a warm fresh
      // session runs a 1.3s bench query in 0.16s). Size the cache to
      // hold the whole suite.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def runOnce(q: graft.queries.Q): Double = {
      val t0 = System.nanoTime()
      try q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // queries that materialize an intermediate (localCheckpoint
      // signature stores) leave blocks behind until the driver GCs the
      // RDD — with 3 executions per query that's up to 3 corpus-sized
      // copies pressuring memory and skewing later timings. No query
      // persists state ACROSS runs, so release everything eagerly.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      dt
    }
    // warmup pass: JIT + classloading + page cache (cold-start cost is
    // ~5x on the first queries and not what's being measured); then two
    // timed passes, reporting the per-query minimum — a single pass is
    // vulnerable to transient host load (observed 2.5x total swings)
    suite.foreach(runOnce)
    val pass1 = suite.map(q => q.name -> runOnce(q)).toMap
    val results = suite.map(q =>
      q.name -> math.min(pass1(q.name), runOnce(q)))
    // seconds at 4 dp: ample resolution, and it keeps the one-line JSON
    // short enough that a tail-capture of stdout doesn't truncate it
    def fmt(v: Double): String = "%.4f".format(v)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    // belt and braces for the driver's parser (round 2+3 both lost the
    // stdout-tail copy to truncation): the line goes (1) to a file,
    // (2) to stdout NOW — this is the FIRST stdout line of the run,
    // since everything Spark/JVM emits goes to stderr — and (3) to
    // stdout again AFTER spark.stop(), so a pure tail-capture also
    // ends on an intact copy whatever shutdown noise precedes it.
    // a name-filtered run is a local iteration tool — never let its
    // partial total clobber the full-suite artifact
    if (only.isEmpty)
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LAST.json"),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(line)
    Console.out.flush()
    spark.stop()
    // the driver archives only a 2000-char stdout TAIL per round — the
    // full per-query line (~8 KB over 303 queries) can never fit, so
    // every BENCH_r*.json came back "parsed": null. The LAST stdout
    // line is therefore a compact copy guaranteed to fit the window:
    // suite total + count + the 22-query TPC-H headline subset (the
    // stable cross-round yardstick); the full map lives in
    // BENCH_LAST.json, which the compact line points at.
    val headline = results.filter(_._1.matches("q\\d+_.*"))
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val compact =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"queries":$headline,"full":"BENCH_LAST.json","sf":"$sfDir"}"""
    println(compact)
    Console.out.flush()
  }
}
