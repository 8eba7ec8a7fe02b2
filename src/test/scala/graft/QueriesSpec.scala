package graft

/** Smoke-level regression: every registered query runs at sf0.001 and
  * yields rows with the declared (aliased) schema. Value-level
  * correctness is pinned by the DuckDB oracle gate
  * (tools/oracle_check.py + the driver's t2 check).
  */
class QueriesSpec extends SparkSpec {

  test("every query has either an oracle or a documented reason") {
    val noOracle = SparkEntry.allQueries.filter(_.oracle.isEmpty).map(_.name)
    // keep this list short and intentional — each entry is a weaker check
    val allowed = Set(
      "approx_distinct", // HLL sketch differs by engine
      "approx_percentiles", // KLL sketch differs by engine; error bound pinned vs the exact `percentiles` in QuantileSketchSpec
      "multimodal_features") // mapPartitions path is not SQL; math pinned by multimodal_meta
    // (percentiles/typed_weighted_avg DO have oracles — exactness engineered)
    assert(noOracle.forall(allowed), s"un-oracled queries: $noOracle")
  }

  test("query names are unique") {
    val names = SparkEntry.allQueries.map(_.name)
    assert(names.distinct.size === names.size)
  }

  test("select: no names is the registry, a name its query, an unknown name fails") {
    def named(qs: Seq[graft.queries.Q]) = qs.map(q => (q.name, q.oracle))
    assert(named(SparkEntry.select(Set.empty)) === named(SparkEntry.allQueries))
    assert(SparkEntry.select(Set("anti_join_blocked")).map(_.name) === Seq("anti_join_blocked"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Set("anti_join_blocked", "no_such_query")))
    assert(e.getMessage.contains("no_such_query"))
    assert(!e.getMessage.contains("anti_join_blocked"))
  }

  for (q <- SparkEntry.allQueries) {
    test(s"${q.name} runs and returns rows at sf0.001") {
      val df = q.run(spark, sf0001)
      assert(df.count() > 0, s"${q.name} returned 0 rows")
    }
  }

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
