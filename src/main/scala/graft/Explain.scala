package graft

import org.apache.spark.sql.SparkSession

/** Plan-audit utility: print the formatted physical plan of one or
  * more registered queries without executing them.
  *
  * Usage: runMain graft.Explain <sfDir> [queryName ...]
  * (no names = all queries; an unknown name fails before the session
  * starts). The session goes through [[Session.configure]], so the
  * audited plan is the shipped plan.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    // first arg is the sf dir ONLY if it actually is a directory — so
    // `runMain graft.Explain some_query` does what it reads as, and a
    // bare relative dir like `testdata` is still recognized
    val (sfDir, rest) = args.headOption match {
      case Some(d) if new java.io.File(d).isDirectory => (d, args.drop(1).toSeq)
      case _ => ("/root/testdata/sf0.001", args.toSeq)
    }
    val suite = SparkEntry.select(rest.toSet)
    val spark = Session.configure(SparkSession.builder())
      .appName("graft-explain").master("local[4]")
      .config("spark.sql.shuffle.partitions", 32)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    suite.foreach { q =>
      println(s"\n===== ${q.name} =====")
      println(q.run(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
