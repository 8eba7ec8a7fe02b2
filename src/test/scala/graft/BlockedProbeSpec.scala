package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.util.Random

import org.apache.spark.TestBus
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.functions.{BlockedKeys, BlockedProbe}
import graft.ops.Moderation
import graft.ops.Moderation.Message

/** The blocked-pair drop: the broadcast [[BlockedKeys]] set, the
  * [[BlockedProbe]] predicate (interpreted and codegen'd) against the
  * `concat(receiver, ':', sender) IN keys` rule it replaces, and the
  * per-snapshot memo behind [[Moderation.dropBlocked]].
  */
class BlockedProbeSpec extends SparkSpec {
  import spark.implicits._
  import BlockedProbeSpec._

  private def tempDir(prefix: String): String =
    Files.createTempDirectory(prefix).resolve("t").toString

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val before = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Runs `body` and counts the Spark jobs started meanwhile. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      TestBus.drain(spark.sparkContext)
      (out, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def scansOf(df: DataFrame, dir: String): Seq[FileSourceScanExec] =
    new AdaptiveSparkPlanHelper {}.collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.toUri.getPath == dir) => s
    }

  test("probe == concat(receiver, ':', sender) IN keys, interpreted and codegen'd") {
    val (keys, pairs) = generated(new Random(7))
    val dir = tempDir("probe_msgs")
    pairs.zipWithIndex.map { case ((r, s), i) => (i, r, s) }.toDF("id", "receiver", "sender")
      .write.parquet(dir)
    val expected = pairs.map { case (r, s) => r != null && s != null && keys.contains(r + ":" + s) }
    assert(expected.count(identity) > pairs.size / 10, "generator hits too few keys")
    val bc = spark.sparkContext.broadcast(BlockedKeys(keys))
    val blocked = keys.toDF("bk")
    for (mode <- Seq(
        Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN", "spark.sql.codegen.wholeStage" -> "false"),
        Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY", "spark.sql.codegen.wholeStage" -> "false"),
        Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY", "spark.sql.codegen.fallback" -> "false")))
      withConf(mode: _*) {
        val msgs = spark.read.parquet(dir)
        val got = msgs.select($"id", BlockedProbe($"receiver", $"sender", bc))
          .as[(Int, Boolean)].collect().sortBy(_._1).map(_._2).toSeq
        assert(got === expected, s"probe differs under $mode")
        val kept = Moderation.dropBlocked(msgs, blocked).select("id").as[Int].collect().sorted.toSeq
        assert(kept === expected.indices.filterNot(expected), s"dropBlocked differs under $mode")
      }
  }

  test("probe filter is whole-stage codegen'd with codegen fallback off") {
    val dir = tempDir("probe_wscg")
    Seq(Message("s1", "a", "r1"), Message("s2", "b", "r2"), Message(null, "c", "r1"))
      .toDF().write.parquet(dir)
    withConf("spark.sql.codegen.fallback" -> "false") {
      val df = Moderation.dropBlocked(spark.read.parquet(dir), Seq("r1:s1").toDF("bk"))
      assert(df.select("text").as[String].collect().sorted === Array("b", "c"))
      val plan = df.queryExecution.executedPlan.toString
      val filters = """(\*\(\d+\) )?Filter NOT blocked_probe""".r.findAllMatchIn(plan).toSeq
      assert(filters.nonEmpty && filters.forall(_.group(1) != null),
        s"probe filter not codegen'd:\n$plan")
    }
  }

  test("memo: two actions over one blocked frame collect the dimension once") {
    val dir = tempDir("memo_once")
    Seq("r1:s1", "r2:s2").toDF("bk").write.parquet(dir)
    val msgDir = tempDir("memo_once_msgs")
    Seq(Message("s1", "a", "r1"), Message("s2", "b", "r2"), Message("s3", "c", "r3"))
      .toDF().write.parquet(msgDir)
    val blocked = spark.read.parquet(dir)
    val msgs = spark.read.parquet(msgDir)
    val (first, built) = jobsDuring(Moderation.dropBlocked(msgs, blocked))
    val (second, reused) = jobsDuring(Moderation.dropBlocked(msgs, blocked))
    assert(built === 1, "the first call should run one collect job over the dimension")
    assert(reused === 0, "the second call rebuilt the key set")
    for (df <- Seq(first, second)) {
      assert(df.select("sender").as[String].collect().toSeq === Seq("s3"))
      assert(scansOf(df, dir).isEmpty, s"an action re-reads the dimension:\n${df.queryExecution.executedPlan}")
    }
  }

  test("memo: a fresh read of a changed directory is a new snapshot") {
    val dir = tempDir("memo_changed")
    val msgs = Seq(Message("s1", "a", "r1"), Message("s2", "b", "r2"), Message("s3", "c", "r3")).toDF()
    def kept(): Set[String] =
      Moderation.dropBlocked(msgs, spark.read.parquet(dir)).select("sender").as[String].collect().toSet
    Seq("r1:s1").toDF("bk").write.parquet(dir)
    assert(kept() === Set("s2", "s3"))
    Seq("r2:s2").toDF("bk").write.mode("append").parquet(dir)
    assert(kept() === Set("s3"), "a newly added file's key is not applied")
    Seq("r3:s3").toDF("bk").write.mode("overwrite").parquet(dir)
    assert(kept() === Set("s1", "s2"), "an overwritten directory's keys are not applied")
  }

  test("memo: a nondeterministic blocked frame is built again on every call") {
    val dir = tempDir("memo_rand")
    Seq("r1:s1").toDF("bk").write.parquet(dir)
    val blocked = spark.read.parquet(dir).filter(rand() >= 0)
    val msgs = Seq(Message("s1", "a", "r1"), Message("s2", "b", "r2")).toDF()
    val runs = (1 to 2).map(_ => jobsDuring(Moderation.dropBlocked(msgs, blocked)))
    runs.foreach { case (df, jobs) =>
      assert(jobs >= 1, "a nondeterministic frame was served from the memo")
      assert(df.select("sender").as[String].collect().toSeq === Seq("s2"))
    }
    assert(probeOf(runs(0)._1) ne probeOf(runs(1)._1))
  }

  test("memo: a new SparkContext never gets a stopped context's broadcast") {
    // one SparkContext per JVM: the stop-and-restart runs in a child JVM
    val args = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
    val opens = (0 until args.size).map(args.get).filter(_.startsWith("--add-opens"))
    val javaBin = java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val log = Files.createTempFile("stopped_context", ".log").toFile
    val cmd = Seq(javaBin, "-Xmx1g", "-Dspark.ui.enabled=false") ++ opens ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.StoppedContextCheck")
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).redirectOutput(log).start()
    val done = proc.waitFor(180, java.util.concurrent.TimeUnit.SECONDS)
    if (!done) proc.destroyForcibly()
    val out = new String(Files.readAllBytes(log.toPath), "UTF-8")
    assert(done && proc.exitValue() == 0 && out.contains(StoppedContextCheck.Ok),
      s"child JVM failed:\n${out.linesIterator.toSeq.takeRight(40).mkString("\n")}")
  }

  test("key set: nulls and duplicates skipped, size and bytes per key") {
    val keys = (0 until 20000).map(i => s"u${i % 5000}:u${i * 7919 % 50000}") ++ Seq(null, "u1:u1", "u1:u1")
    val set = BlockedKeys(keys)
    assert(set.size === keys.filter(_ != null).distinct.size)
    val blob = keys.filter(_ != null).distinct.map(_.getBytes("UTF-8").length).sum
    // the key bytes, one offset and at most four table slots a key
    assert(set.sizeInBytes <= blob + 4L * (set.size + 1) + 16L * set.size)
    assert(BlockedKeys(Nil).size === 0)
  }
}

object BlockedProbeSpec {

  /** The broadcast in a dropBlocked frame's probe. */
  def probeOf(df: DataFrame): Broadcast[BlockedKeys] =
    df.queryExecution.analyzed.flatMap(_.expressions).flatMap(_.collect {
      case p: BlockedProbe => p.keys
    }).head

  private val tokens = Seq("r2", "x", "s", "r2:x", "x:s", ":", "", "é", "日本", "🙂", "a:b")

  /** Generated (receiver, sender) pairs and a key list (with nulls and
    * duplicates) drawn from tokens that put ':' inside the fields, empty
    * strings and 2-4 byte UTF-8 characters; many pairs hit a key.
    */
  def generated(rnd: Random): (Seq[String], Seq[(String, String)]) = {
    def field(): String =
      if (rnd.nextInt(10) == 0) null
      else Seq.fill(rnd.nextInt(3))(tokens(rnd.nextInt(tokens.size))).mkString
    val pairs = Seq(("r2:x", "s"), ("r2", "x:s"), ("", ""), ("é", "日本"), (null, "s"), ("r2", null)) ++
      Seq.fill(600)((field(), field()))
    val keys = Seq("r2:x:s", ":", "é:日本", null, null, "r2:x:s") ++
      pairs.filter(_ => rnd.nextInt(3) == 0).map { case (r, s) => if (r == null || s == null) null else r + ":" + s } ++
      Seq.fill(100)(field())
    (keys, pairs)
  }
}

/** Child-JVM half of the stopped-context test: a dropBlocked over the
  * same blocked rows in a second SparkContext must not reuse the first,
  * stopped context's broadcast.
  */
object StoppedContextCheck {
  val Ok = "stopped-context check: OK"

  def main(args: Array[String]): Unit = {
    def run(): (Broadcast[BlockedKeys], Seq[String]) = {
      val s = SparkSession.builder().master("local[1]").appName("stopped-context")
        .config("spark.ui.enabled", "false").getOrCreate()
      import s.implicits._
      val df = Moderation.dropBlocked(
        Seq(Message("s1", "a", "r1"), Message("s2", "b", "r2")).toDF(), Seq("r1:s1").toDF("bk"))
      val kept = df.select("sender").as[String].collect().toSeq
      (BlockedProbeSpec.probeOf(df), kept)
    }
    val (first, keptFirst) = run()
    SparkSession.active.stop()
    val (second, keptSecond) = run()
    SparkSession.active.stop()
    require(keptFirst == Seq("s2") && keptSecond == Seq("s2"), s"$keptFirst / $keptSecond")
    require(first ne second, "the new context reused the stopped context's broadcast")
    println(Ok)
  }
}
