package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Suite-wide physical-plan inventory: for every registered query,
  * count the plan shapes that decide scale behavior (exchanges by
  * kind, join strategies, windows, generators) and write one markdown
  * table to PLANS.md — the mechanical evidence behind SCALE.md's
  * prose. Plans are compiled, not executed, but building some
  * queries' DataFrames runs Spark jobs (`dropBlocked`, for one,
  * collects the blocked key set when it is defined), so a full audit
  * at sf0.001 took 125-157 s on a 4-core VM. The session is built by
  * [[Session.configure]] like Verify's and Bench's, so the audited
  * plan is the shipped plan.
  * With AQE enabled the string is the INITIAL plan — runtime
  * re-planning (broadcast demotion, skew splits) only ever removes
  * exchanges, so the static counts are upper bounds.
  *
  * Usage: runMain graft.PlanAudit [sfDir] [outFile]
  */
object PlanAudit {

  /** (column header, regex counted per plan string). */
  val Shapes: Seq[(String, String)] = Seq(
    "ex_hash" -> "Exchange hashpartitioning",
    "ex_range" -> "Exchange rangepartitioning",
    "ex_single" -> "Exchange SinglePartition",
    "bhj" -> "BroadcastHashJoin",
    "smj" -> "SortMergeJoin",
    "shj" -> "ShuffledHashJoin",
    "bnlj" -> "BroadcastNestedLoopJoin",
    "cartesian" -> "CartesianProduct",
    "window" -> "\\bWindow\\b",
    "topk" -> "TopKPerGroup",
    "generate" -> "Generate")

  def counts(plan: String): Seq[Int] =
    Shapes.map { case (_, pat) => pat.r.findAllMatchIn(plan).size }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = Session.configure(SparkSession.builder())
      .appName("graft-plan-audit").master("local[4]")
      .config("spark.sql.shuffle.partitions", 32)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val rows = SparkEntry.allQueries.map { q =>
      val plan = q.run(spark, sfDir).queryExecution.executedPlan.toString
      q.name -> counts(plan)
    }

    val sb = new StringBuilder
    sb ++= "# Physical-plan inventory (auto-generated by graft.PlanAudit)\n\n"
    sb ++= s"Compiled (not executed) against `$sfDir` with the shipped\n"
    sb ++= "session config; AQE initial plans, so exchange counts are upper\n"
    sb ++= "bounds. Columns: exchanges by partitioning (hash / range /\n"
    sb ++= "single-partition), join strategies (broadcast-hash / sort-merge /\n"
    sb ++= "shuffled-hash / broadcast-nested-loop / cartesian), window ops,\n"
    sb ++= "TopKPerGroup ops, generators (explode and kin). Regenerate with\n"
    sb ++= "`sbt \"runMain graft.PlanAudit\"` after any plan-shape change.\n\n"
    sb ++= "Reading it: `ex_single > 0` means a single-partition exchange —\n"
    sb ++= "fine only when the data at that point is aggregate-bounded (a\n"
    sb ++= "global rollup, a driver-bound top-k); `cartesian > 0` is a\n"
    sb ++= "non-broadcast cross product and must be corpus-bounded by\n"
    sb ++= "construction; `smj`/`shj` mark the shuffles a 100x scale-up\n"
    sb ++= "pays, `bhj`/`bnlj` the ones it doesn't (small side ships).\n\n"
    sb ++= "| query | " + Shapes.map(_._1).mkString(" | ") + " |\n"
    sb ++= "|---|" + Shapes.map(_ => "---:").mkString("|") + "|\n"
    rows.foreach { case (name, cs) =>
      sb ++= s"| $name | " + cs.mkString(" | ") + " |\n"
    }

    // flag sections: the shapes worth a second look, pre-aggregated so
    // a reviewer doesn't scan 148 rows
    def idx(k: String) = Shapes.indexWhere(_._1 == k)
    val single = rows.filter(_._2(idx("ex_single")) > 0).map(_._1)
    val cart = rows.filter(_._2(idx("cartesian")) > 0).map(_._1)
    val bnlj = rows.filter(_._2(idx("bnlj")) > 0).map(_._1)
    sb ++= s"\n## Flags\n\n"
    sb ++= s"- single-partition exchanges (${single.size}): ${single.mkString(", ")}\n"
    sb ++= s"- cartesian products (${cart.size}): ${cart.mkString(", ")}\n"
    sb ++= s"- broadcast nested-loop joins (${bnlj.size}): ${bnlj.mkString(", ")}\n"

    Files.write(Paths.get(out), sb.toString.getBytes(StandardCharsets.UTF_8))
    println(s"wrote ${rows.size} query plans to $out")
    spark.stop()
  }
}
