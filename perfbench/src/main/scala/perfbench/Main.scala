package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Runs one workload and writes its [[Result]] as JSON.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --work <dir> --out <file>
  */
object Main {
  val Workloads = Seq("stream_static", "stream_live_dim", "batch_moderation", "analytics_suite")

  def parse(args: Array[String]): RunArgs = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w; expected one of ${Workloads.mkString(", ")}")
    RunArgs(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"), need("out"))
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    Files.createDirectories(Paths.get(a.workDir))
    val res = a.workload match {
      case "stream_static" => StreamWorkload.run(a, live = false)
      case "stream_live_dim" => StreamWorkload.run(a, live = true)
      case "batch_moderation" => BatchWorkload.run(a)
      case "analytics_suite" => SuiteWorkload.run(a)
    }
    Files.write(Paths.get(a.out), res.toJson.getBytes(StandardCharsets.UTF_8))
  }
}
