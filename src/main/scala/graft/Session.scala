package graft

import org.apache.spark.sql.SparkSession

/** The one session setup: every SparkSession this library builds
  * (Bench, Verify, Explain, PlanAudit, ScaleSmoke and the test session)
  * passes its builder through [[configure]], so the plan a tool audits
  * is the plan that ships. Only the settings that decide semantics and
  * plans live here; resource sizing (master, app name, shuffle
  * partitions, codegen cache) stays with each caller.
  */
object Session {

  /** Sets each key to a fixed value, so applying it twice is the same
    * as once.
    */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // InferFiltersFromGenerate duplicates the generator input into a
      // pre-exchange filter; for expensive generators (shingling) that
      // re-evaluates the costliest expression 2x in the scan stage.
      // Measured: doc_fingerprint 7.9s -> 1.1s at sf0.1 with it off,
      // no query slower.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")
}
