package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange}

/** Physical-plan shape assertions (SURVEY §4): the properties that make
  * these plans scale — pushed-down scans, broadcast (not shuffled)
  * dimension joins, map-side partial aggregation — verified against the
  * compiled plan, not just by the queries' results. A regression that
  * silently turns the anti-join into a sort-merge join or widens a scan
  * would pass the value oracle but fail here.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.allQueries.find(_.name == name).get
      .run(spark, sf0001).queryExecution.executedPlan.toString

  /** The physical plan after exchange planning, before AQE runs it. */
  private def physical(name: String): SparkPlan =
    SparkEntry.allQueries.find(_.name == name).get
      .run(spark, sf0001).queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }

  test("source_scan pushes the shipdate filter and prunes columns") {
    val p = plan("source_scan")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"filter not pushed to parquet:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_shipdate"))
    assert(!readSchema.contains("l_tax") && !readSchema.contains("l_discount"),
      s"scan reads columns the query never uses:\n$readSchema")
  }

  test("blocked-pair anti-join broadcasts the dimension, never shuffles messages") {
    for (name <- Seq("anti_join_blocked", "moderation_pipeline")) {
      val p = plan(name)
      assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
        s"$name: expected broadcast LEFT ANTI:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$name: dimension join shuffled")
    }
    // duplicate keys cannot change an anti/semi join, so the broadcast
    // side must not be de-duplicated through a shuffle
    for (name <- Seq("anti_join_blocked", "moderation_pipeline",
                     "left_outer_null_probe", "semi_join_blocked")) {
      val sides = physical(name).collect { case b: BroadcastExchangeExec => b.child }
      assert(sides.nonEmpty, s"$name: no broadcast side")
      sides.foreach(side => assert(side.collectFirst { case e: Exchange => e }.isEmpty,
        s"$name: broadcast side shuffles:\n$side"))
    }
  }

  test("dedup_incremental probes the store by shuffle-hash, batch side as build") {
    val p = plan("dedup_incremental")
    assert(p.contains("ShuffledHashJoin") && p.contains("BuildRight"),
      s"store probe is not a batch-build shuffle-hash join:\n$p")
    assert(!p.contains("SinglePartition"),
      s"incremental dedup funnels through one partition:\n$p")
    // the band pipeline itself hides behind the localCheckpoint's Scan
    // ExistingRDD boundary in the query plan — assert its shape on the
    // un-checkpointed frame
    val bands = graft.queries.DedupQueries.incrementalBands(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!bands.contains("SinglePartition"),
      s"band pipeline funnels through one partition:\n$bands")
  }

  test("q1_agg combines map-side (partial aggregation before the exchange)") {
    val p = plan("q1_agg")
    assert(p.contains("partial_sum"), s"no map-side combine:\n$p")
  }

  test("topk_agg aggregates bounded buffers, no per-group sort") {
    val p = plan("topk_agg")
    assert(p.contains("partial_top_k"), s"no partial top-k combine:\n$p")
    assert(!p.contains("Window"), "top-k fell back to a window sort")
  }

  test("join_sortmerge_agg honors the merge hint; star dims broadcast") {
    assert(plan("join_sortmerge_agg").contains("SortMergeJoin"))
    val star = plan("multi_join_star")
    assert(star.contains("BroadcastHashJoin"))
    assert(!star.contains("SortMergeJoin"))
  }

  test("percentiles ranks without a window: range-partitioned sort + broadcast censuses") {
    // r15: the 3-value l_returnflag window (3 tasks sort the whole
    // table at any scale) is gone — ranking comes from the
    // range-partitioned checkpoint + a collected (partition, flag) run
    // census attached back as broadcast joins. Pin: zero Window nodes,
    // both census joins broadcast, and the one parquet scan happens at
    // checkpoint construction (the query plan reads the checkpoint).
    val p = plan("percentiles")
    assert(!p.contains("Window"), s"percentiles regained a window sort:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"run/total censuses must attach as broadcasts:\n$p")
    assert(p.linesIterator.count(_.contains("Scan parquet")) === 0,
      s"ranking must read the range-partitioned checkpoint, not rescan:\n$p")
  }

  test("minhash signature pipeline runs on ONE exchange, local sort") {
    // the guarded RANGE spread (Tables.parallelizeByRange) is the only
    // exchange: the per-id aggregate preserves it and the final ORDER
    // BY doc_id is satisfied without a second (range) exchange — whose
    // sampling pass would re-execute the whole shingle pipeline. The
    // distinct-shuffle of shingle strings must not reappear either.
    val p = plan("dedup_minhash_sig")
    val n = "Exchange".r.findAllIn(p).length
    assert(n <= 1, s"minhash pipeline gained exchanges ($n):\n$p")
    assert(p.linesIterator.count(_.contains("Scan parquet")) === 1)
  }

  test("minhash spread is guarded: an already-parallel scan adds no pre-explode exchange") {
    // at 100 TB the input arrives as many splits; the pre-explode
    // spread must then be a no-op (no gratuitous full-corpus text
    // shuffle). Simulate with a checkpointed frame that already has
    // >= defaultParallelism partitions: the only exchange left is the
    // signature groupBy, which carries K integers per doc.
    import org.apache.spark.sql.functions._
    val target = spark.sparkContext.defaultParallelism
    val docs = spark.range(500)
      .select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 8).map(i => substring(md5(concat(col("id"), lit(i))), 1, 8)): _*).as("text"))
      .repartition(target)
      .localCheckpoint(true)
    val p = graft.ops.Dedup.minhashFromText(docs, "doc_id", "text", 4)
      .queryExecution.executedPlan.toString
    val n = "Exchange".r.findAllIn(p).length
    assert(n === 1,
      s"guarded spread should add no exchange on a parallel input (got $n):\n$p")
  }

  test("range_join_pairs is ONE exchange and NO join (window form, pairs never materialize)") {
    // the self-join form (kept as range_join_pairs_join) inflates to
    // every qualifying pair; the window form must run on the single
    // RANGE spread on user_id that the windows, the per-user sum, and
    // the final ORDER BY all reuse.
    val p = plan("range_join_pairs")
    val n = "Exchange".r.findAllIn(p).length
    assert(n === 1, s"window form should need exactly one exchange (got $n):\n$p")
    assert(!p.contains("Join"), s"window form must not join:\n$p")
  }

  test("bloom_semi_join pre-filters the fact scan stage before the exact join") {
    val p = plan("bloom_semi_join")
    assert(p.contains("LeftSemi"))
    // the probe must be the NATIVE codegen expression, not a Scala UDF
    // (a UDF boxes every fact key and splits the codegen span on the
    // hottest scan in the plan)
    assert(!p.contains("UDF"), s"bloom probe regressed to a Scala UDF:\n$p")
    // the bloom pre-filter must sit in the SCAN stage: between the plan
    // line that evaluates it and the lineitem scan below it there must
    // be no Exchange (a filter after a shuffle would defeat the
    // pre-filtering)
    val lines = p.linesIterator.toVector
    val probeIdx = lines.indexWhere(l =>
      l.contains("Filter") && l.contains("bloom_might_contain"))
    assert(probeIdx >= 0, s"no bloom_might_contain filter in plan:\n$p")
    // the filter prints directly above its child subtree, so the first
    // scan below it is the lineitem scan it guards
    val scanIdx = lines.indexWhere(_.contains("Scan parquet"), probeIdx)
    assert(scanIdx > probeIdx, s"no scan under the bloom filter:\n$p")
    assert(!lines.slice(probeIdx, scanIdx).exists(_.contains("Exchange")),
      s"bloom filter applied after a shuffle:\n$p")
  }

  test("q17 correlated scalar subquery decorrelates to an aggregate+join") {
    val q = SparkEntry.allQueries.find(_.name == "q17_small_qty").get
      .run(spark, sf0001).queryExecution
    // the optimizer must rewrite the per-part correlated aggregate into
    // a join (RewriteCorrelatedScalarSubquery); a surviving subquery
    // would re-run the inner aggregate per outer row
    val opt = q.optimizedPlan.toString
    assert(!opt.toLowerCase.contains("scalar-subquery"),
      s"correlated subquery not decorrelated:\n$opt")
    val phys = q.executedPlan.toString
    assert(phys.contains("Join"), s"no join in decorrelated plan:\n$phys")
    assert(phys.contains("partial_sum"), s"inner aggregate not partial:\n$phys")
  }

  test("q13 pre-aggregates orders map-side and broadcasts the shrunken side") {
    val p = plan("q13_cust_distribution")
    assert(p.contains("partial_count"), s"orders not partial-aggregated:\n$p")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftOuter"),
      s"expected broadcast left-outer of the aggregated side:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"customer side should never shuffle for this join:\n$p")
  }

  test("q22 NOT EXISTS becomes an anti join; scalar avg evaluated once") {
    val q = SparkEntry.allQueries.find(_.name == "q22_idle_rich").get
      .run(spark, sf0001).queryExecution
    val opt = q.optimizedPlan.toString
    // the correlated NOT EXISTS must not survive as a per-row subquery
    assert(!opt.toLowerCase.contains("exists-subquery"),
      s"NOT EXISTS not rewritten:\n$opt")
    val phys = q.executedPlan.toString
    assert(phys.contains("LeftAnti"), s"expected anti join:\n$phys")
    // the uncorrelated avg stays a one-shot scalar subquery (evaluated
    // once, broadcast as a literal), not a join against every row
    assert(phys.contains("Subquery") || opt.toLowerCase.contains("scalar-subquery"),
      s"global avg should be a one-shot scalar:\n$phys")
  }

  test("q15 revenue CTE is aggregated once, max applied as a scalar") {
    val q = SparkEntry.allQueries.find(_.name == "q15_top_supplier").get
      .run(spark, sf0001).queryExecution
    val phys = q.executedPlan.toString
    assert(phys.contains("partial_sum"), s"revenue agg not partial:\n$phys")
    assert(phys.contains("BroadcastHashJoin"),
      s"supplier dim should broadcast:\n$phys")
  }

  test("q4 EXISTS runs as one semi join, each order emitted at most once") {
    val p = plan("q4_priority")
    assert(p.contains("LeftSemi"), s"expected a semi join:\n$p")
    // the lateness residual (l_shipdate vs o_orderdate + 30d) must ride
    // inside the join, not force a pre-join aggregate or distinct of
    // lineitem
    assert(!p.contains("Distinct") && !p.contains("partial_first"),
      s"lineitem should not be deduplicated before the semi join:\n$p")
  }

  test("q21 double existential decorrelates to semi + anti joins") {
    val q = SparkEntry.allQueries.find(_.name == "q21_waiting").get
      .run(spark, sf0001).queryExecution
    val opt = q.optimizedPlan.toString
    assert(!opt.toLowerCase.contains("exists-subquery"),
      s"correlated EXISTS survived optimization:\n$opt")
    val phys = q.executedPlan.toString
    assert(phys.contains("LeftSemi") || phys.contains("ExistenceJoin"),
      s"EXISTS did not become a semi join:\n$phys")
    assert(phys.contains("LeftAnti"),
      s"NOT EXISTS did not become an anti join:\n$phys")
  }

  test("q2 correlated MIN decorrelates; no per-row subquery loop") {
    val q = SparkEntry.allQueries.find(_.name == "q2_min_cost").get
      .run(spark, sf0001).queryExecution
    val opt = q.optimizedPlan.toString
    assert(!opt.toLowerCase.contains("scalar-subquery"),
      s"correlated MIN not decorrelated:\n$opt")
    val phys = q.executedPlan.toString
    assert(phys.contains("partial_min"),
      s"per-part MIN should partial-aggregate map-side:\n$phys")
  }

  test("q11 threshold is a one-row broadcast, per-part values stream once") {
    val p = plan("q11_important_stock")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"scalar threshold should broadcast into the filter:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the 1-row threshold join must never shuffle the part values:\n$p")
    assert(p.contains("partial_sum"), s"value agg not partial:\n$p")
  }

  test("q20 nested-IN chain: part filter broadcasts, survivors semi-join supplier") {
    val p = plan("q20_excess")
    assert(p.contains("LeftSemi"), s"supplier IN should be a semi join:\n$p")
    assert(p.contains("partial_sum"),
      s"(supplier, part) HAVING agg should map-side combine:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"nothing in this chain should sort-merge at test scale:\n$p")
  }

  test("token_burstiness: the vocab-sized rank runs HASH-PARTITIONED before the global window") {
    // the round-10 escape hatch, pinned positively (the inventory
    // allowlist alone would mask a regression that reintroduces the
    // vocabulary-sized single-partition window): the plan must carry
    // a bucket-partitioned window (vocab-sized input, parallel) and
    // the unpartitioned top-30 window must sit ABOVE it, consuming
    // only the bucket survivors
    val p = plan("token_burstiness")
    val windows = p.linesIterator.filter(_.contains("Window ")).toList
    val bucketed = windows.filter(w =>
      w.contains("windowspecdefinition(bkt"))
    assert(bucketed.nonEmpty,
      s"no bucket-partitioned window in the plan — vocab rank no longer spreads:\n$p")
    val globalIdx = windows.indexWhere(w =>
      !w.contains("windowspecdefinition(bkt") && w.contains("row_number"))
    assert(globalIdx >= 0, s"global ranking window missing:\n$p")
    // plan strings print top-down: the global window (consumer) must
    // appear BEFORE the bucketed window (producer) in the tree dump
    assert(windows.indexWhere(_.contains("windowspecdefinition(bkt")) > globalIdx,
      s"global window does not consume the bucketed survivors:\n$windows")
  }

  test("web-curation gate: blocklist broadcasts LEFT ANTI; per-domain caps salt-bucket first") {
    // the J1 anti-join shape at corpus scale: the corpus side must
    // never shuffle for the blocklist gate
    val g = plan("domain_blocklist_gate")
    assert(g.contains("BroadcastHashJoin") && g.contains("LeftAnti"),
      s"domain_blocklist_gate: expected broadcast LEFT ANTI:\n$g")
    assert(!g.contains("SortMergeJoin"),
      s"domain_blocklist_gate: blocklist join shuffled the corpus:\n$g")
    // per-domain caps: level-1 rank inside (domain, salt-bucket) so a
    // hot domain (hub.* holds ~25% of the corpus) stays 16-way
    // parallel; level-2 consumes only bucket winners. Both windows
    // hash-partitioned — no single-partition exchange anywhere.
    val c = plan("domain_caps")
    val windows = c.linesIterator.filter(_.contains("Window ")).toList
    assert(windows.exists(w =>
        w.contains("windowspecdefinition(domain") && w.contains("bkt")),
      s"domain_caps: level-1 (domain, salt-bucket) rank missing:\n$c")
    assert(windows.exists(w =>
        w.contains("windowspecdefinition(domain") && !w.contains("bkt")),
      s"domain_caps: level-2 per-domain rank missing:\n$c")
    assert(!c.contains("SinglePartition"),
      s"domain_caps funnels through one partition:\n$c")
  }

  test("key_skew_gini: no window partitions over raw keys; census cumsum and head rank both bucketed") {
    val p = plan("key_skew_gini")
    // the Gini prefix runs TWO-PHASE over the count-VALUE census: the
    // within-bucket cumsum must be PARTITIONED by bit-length (bl) and
    // the head rank by hash bucket (bkt) — NOTHING may window over
    // user_id-sized or census-sized data unpartitioned except the
    // ≤64-row bucket-offset cumsum
    val windows = p.linesIterator.filter(_.contains("Window ")).toList
    assert(windows.exists(_.contains("windowspecdefinition(bkt")),
      s"two-level head rank lost its bucket partitioning:\n$p")
    assert(windows.exists(_.contains("windowspecdefinition(bl")),
      s"census prefix cumsum lost its bit-length partitioning:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"key census must map-side combine before any window:\n$p")
  }

  test("html extraction: scan-fused projections, bounded explodes, broadcast-only census joins") {
    // text extraction is a pure per-row string fold + a 10-row source
    // census: no join, no window, and the census must map-side combine
    val t = plan("html_text_extract")
    assert(!t.contains("Join"), s"html_text_extract grew a join:\n$t")
    assert(!t.contains("Window "), s"html_text_extract grew a window:\n$t")
    assert(t.contains("partial_count") || t.contains("partial_sum"),
      s"source census must partial-aggregate map-side:\n$t")
    // outlinks: ONE bounded Generate (4 hrefs/page), then the
    // domain-pair aggregate — partial map-side, never sort-merge
    val o = plan("html_outlinks")
    assert(o.linesIterator.count(_.contains("Generate ")) === 1,
      s"html_outlinks: expected exactly one explode:\n$o")
    assert(!o.contains("SortMergeJoin"), s"html_outlinks shuffled a join:\n$o")
    assert(o.contains("partial_count"),
      s"edge census must partial-aggregate map-side:\n$o")
    // block classification: one bounded Generate (5 blocks/page), no join
    val b = plan("boilerplate_blocks")
    assert(b.linesIterator.count(_.contains("Generate ")) === 1,
      s"boilerplate_blocks: expected exactly one explode:\n$b")
    assert(!b.contains("Join"), s"boilerplate_blocks grew a join:\n$b")
    // pagerank: every iteration join is on the dimension-bounded edge
    // census — broadcast joins only, nothing sort-merges or cartesians
    val r = plan("host_link_rank")
    assert(!r.contains("SortMergeJoin") && !r.contains("CartesianProduct"),
      s"host_link_rank: census-sized joins must broadcast:\n$r")
  }
}
