package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity, TextAnalysis}

/** Manual scale probe (not part of the driver gate): replicates the
  * sf0.1 fixtures `mult`x with remapped ids and runs the heaviest
  * pipeline shapes, printing rows and seconds per stage. The point is
  * LINEARITY, not absolute speed — a stage whose time grows much
  * faster than `mult` is a quadratic term the small-SF gate can't see
  * (replicated docs are worst-case for banding: every copy set
  * collides in every band, so the pair expansion runs at its
  * structural maximum). Run:
  *
  *   sbt "runMain graft.ScaleSmoke 10"
  *
  * Measured 2026-08-13 (local[32], sf0.1 x10 = 50k docs / 100k
  * vectors): see SCALE.md "10x local scale probe".
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val spark = Session.configure(SparkSession.builder()).master("local[32]")
      // shuffle partitions SCALE with the replicated volume — the
      // production sizing rule SCALE.md states (size partitions so a
      // task's join build / sort fits executor memory at the target
      // SF). A fixed 32 hands each shuffled-hash task a mult×-bigger
      // build than the sf0.1 gate tunes for: at 10× the adversarial
      // dedup joins (every doc a mult-way duplicate) build >1 GB hash
      // relations per task and die; at 8·mult partitions they fit.
      .config("spark.sql.shuffle.partitions",
        math.max(32, 8 * mult).toString)
      // the codegen cache sized as in Bench: the whole probe battery
      .config("spark.sql.codegen.cache.maxEntries", "5000").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.1"

    def replicate(df: DataFrame, idCol: String): DataFrame =
      df.crossJoin(spark.range(mult).select(col("id").as("__copy")))
        .withColumn(idCol, col(idCol) + col("__copy") * 10000000L)
        .drop("__copy")

    val docs = replicate(Tables.load(spark, dir, "documents"), "doc_id")
      .localCheckpoint(true)
    val emb = replicate(Tables.load(spark, dir, "embeddings"), "vec_id")
      .localCheckpoint(true)
    println(s"[smoke] mult=$mult docs=${docs.count()} vectors=${emb.count()}")
    // the two replicated inputs stay cached across stages; only blocks
    // a stage itself checkpointed (connectedComponents rounds) are
    // released between stages
    val keep = spark.sparkContext.getPersistentRDDs.keySet

    // optional trailing args = stage-name filter (re-run one probe
    // without paying for the whole battery)
    val only: Set[String] = args.drop(1).toSet

    def time(name: String)(f: => Long): Unit =
      if (only.nonEmpty && !only(name)) ()
      else {
      val t0 = System.nanoTime()
      val rows = f
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => keep(id) }
        .values.foreach(_.unpersist(false))
      println(f"[smoke] $name%-28s $dt%7.2f s   $rows%12d rows")
    }

    time("minhash_signatures") {
      val sig = Dedup.minhashFromText(docs, "doc_id", "text", 12)
      sig.write.format("noop").mode("overwrite").save(); sig.count()
    }
    time("band_candidate_pairs") {
      val sig = Dedup.minhashFromText(docs, "doc_id", "text", 12)
      Dedup.candidatePairs(Dedup.bandKeys(sig, "doc_id", 6, 2), "doc_id").count()
    }
    // the replicated corpus IS the degenerate-band case (every copy of
    // a doc collides in every band): capped pair expansion must stay
    // bounded however large the hot buckets get, and the audit reports
    // exactly the buckets that overflowed instead of silently OOMing
    time("band_pairs_capped_64") {
      val sig = Dedup.minhashFromText(docs, "doc_id", "text", 12)
      val bands = Dedup.bandKeys(sig, "doc_id", 6, 2)
      val overflowed = Dedup.bucketOverflowAudit(
        bands, Seq(col("band")), col("doc_id"), 64).count()
      val pairs = Dedup.bucketPairsCapped(
        bands, Seq(col("band")), col("doc_id"), 64).count()
      println(s"[smoke]   capped-band overflowed buckets: $overflowed")
      pairs
    }
    time("connected_components") {
      val sig = Dedup.minhashFromText(docs, "doc_id", "text", 12)
      val pairs = Dedup.candidatePairs(Dedup.bandKeys(sig, "doc_id", 6, 2), "doc_id")
      Dedup.connectedComponents(pairs, "id_a", "id_b").count()
    }
    time("simhash_fingerprints") {
      Dedup.simhash(docs, "doc_id", "text", 32).count()
    }
    time("exact_dedup_md5") {
      docs.groupBy(md5(col("text"))).agg(count(lit(1))).count()
    }
    time("kmeans_step_k8") {
      val (_, counts) = Similarity.kmeansStep(emb, "embedding",
        Similarity.centroidCoefs(8, 64))
      counts.sum
    }
    time("pq_train_2steps") {
      var cbs: IndexedSeq[Array[Array[Double]]] =
        (0 until 8).map(m => Similarity.pqInitCoefs(m, 16, 8))
      cbs = Similarity.pqStep(emb, "embedding", cbs, 8)
      cbs = Similarity.pqStep(emb, "embedding", cbs, 8)
      cbs.length.toLong
    }
    // pre-r14 posexplode formulations, same session/inputs — the
    // honest baseline for the LloydUpdateAgg rewrite's probe rows
    time("kmeans_step_k8_exploded") {
      val (_, counts) = Similarity.kmeansStepExploded(emb, "embedding",
        Similarity.centroidCoefs(8, 64))
      counts.sum
    }
    time("pq_train_2steps_exploded") {
      var cbs: IndexedSeq[Array[Array[Double]]] =
        (0 until 8).map(m => Similarity.pqInitCoefs(m, 16, 8))
      cbs = Similarity.pqStepExploded(emb, "embedding", cbs, 8)
      cbs = Similarity.pqStepExploded(emb, "embedding", cbs, 8)
      cbs.length.toLong
    }
    // IVFADC probe (ann_ivf_pq's scan half, codebooks pre-trained on
    // the base corpus so the stage isolates encode + ADC scan +
    // shortlist — the per-query cost that must stay linear in the
    // probed-list size, here worst-case because every replica lands
    // in the same list as its original)
    time("ivfpq_encode_adc_scan") {
      import org.apache.spark.sql.expressions.Window
      val base = Tables.load(spark, dir, "embeddings")
      var cbs: IndexedSeq[Array[Array[Double]]] =
        (0 until 8).map(m => Similarity.pqInitCoefs(m, 16, 8))
      cbs = Similarity.pqStep(base, "embedding", cbs, 8)
      cbs = Similarity.pqStep(base, "embedding", cbs, 8)
      val coefs = Similarity.centroidCoefs(4, 64)
      val codeCols = (0 until 8).map(m =>
        graft.functions.CentroidAssign(
          slice(col("embedding"), m * 8 + 1, 8), cbs(m)).as(s"code_$m"))
      val n = emb.select(Seq(col("vec_id").as("n_id"),
        graft.functions.CentroidAssign(col("embedding"), coefs).as("cl")) ++
        codeCols: _*)
      val sims = coefs.toIndexedSeq.map(cen =>
        round(Similarity.dotLit(col("embedding"), cen), 6))
      def subDot(m: Int, cen: Array[Double]) =
        cen.zipWithIndex.map { case (cv, i) =>
          element_at(col("embedding"), m * 8 + i + 1).cast("double") * lit(cv)
        }.reduceLeft(_ + _)
      val lutCols = for { m <- 0 until 8; c <- 0 until 16 }
        yield round(subDot(m, cbs(m)(c)), 6)
      val probes = base.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), array(lutCols: _*).as("luts"),
          explode(array((0 until 4).map(c =>
            struct(lit(c).as("c"), sims(c).as("s"))): _*)).as("cs"))
        .withColumn("crn", row_number().over(Window.partitionBy("q_id")
          .orderBy(col("cs.s").desc, col("cs.c"))))
        .filter(col("crn") <= 2)
        .select(col("q_id"), col("luts"), col("cs.c").as("cl"))
      val score = (0 until 8).map(m =>
          element_at(col("luts"), lit(m * 16 + 1) + col(s"code_$m"))
            .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
        .reduceLeft(_ + _).cast("double")
      val ws = Window.partitionBy(col("q_id"))
        .orderBy(col("approx_dot").desc, col("n_id"))
      n.join(broadcast(probes), Seq("cl"))
        .filter(col("n_id") =!= col("q_id"))
        .select(col("q_id"), col("n_id"), score.as("approx_dot"))
        .withColumn("srn", row_number().over(ws))
        .filter(col("srn") <= 100).count()
    }
    // first-occurrence novelty: replicas contribute no new shingles,
    // so the `first` table stays base-sized while the probe side grows
    // `mult`x — the incremental-store regime at its worst-case ratio
    time("ngram_novelty_scoring") {
      import graft.functions.PortableHash.h32
      val dh = Dedup.distinctShingles(
          docs.select("doc_id", "text"), "doc_id", "text")
        .select(col("doc_id"), h32(col("shingle")).as("hm")).distinct()
      val first = dh.groupBy("hm").agg(min(col("doc_id")).as("first_doc"))
      dh.join(first, "hm").groupBy("doc_id")
        .agg(count(lit(1)).as("n"),
          sum(when(col("first_doc") === col("doc_id"), 1).otherwise(0)).as("novel"))
        .count()
    }
    // DSIR train + score (selection core): λ stays B rows however the
    // corpus grows, so training is one (doc,bucket) aggregate plus a
    // constant-size rollup, and scoring is a broadcast join + doc
    // aggregate — both must scale linearly in token mass (replicas
    // multiply every bucket count uniformly, leaving λ's VALUES near
    // constant while the scored row count grows mult-x)
    time("dsir_train_score") {
      import graft.queries.SelectionQueries
      val dc = SelectionQueries.dsirCountsOf(docs)
      val lam = SelectionQueries.dsirLam(dc)
      dc.filter(col("lang") =!= "en")
        .join(broadcast(lam), "bk")
        .groupBy("doc_id")
        .agg(sum(col("c") * col("lam_u")).as("score_u"))
        .count()
    }
    // SemDeDup pair expansion (semdedup_keep core): replicated vectors
    // are exact duplicates, so every copy set is mutually near-dup —
    // the in-cluster pair count MUST grow ~mult^2 (that is the
    // documented design bound, paid WITHIN clusters and controlled by
    // K, not a hidden scale bug). The stage therefore runs on a
    // DETERMINISTIC 10% id-slice (the quadratic mass still shows:
    // pairs grow mult^2 while sampled rows grow mult) and precomputes
    // per-vector norms scan-side so each pair pays ONE interpreted
    // dot, not three — wall-clock per PAIR is what must stay flat.
    time("semdedup_near_pairs") {
      val coefs = Similarity.centroidCoefs(4, 64)
      val e = emb.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id"), col("embedding"),
          graft.functions.CentroidAssign(col("embedding"), coefs).as("cl"),
          Similarity.normUnrolled(col("embedding"), 64).as("nrm"))
      val a = e.select(col("cl"), col("vec_id").as("va"),
        col("embedding").as("ea"), col("nrm").as("na"))
      val b = e.select(col("cl"), col("vec_id").as("vb"),
        col("embedding").as("eb"), col("nrm").as("nb"))
      a.join(b, Seq("cl")).filter(col("va") < col("vb"))
        .filter(round(Similarity.dot(col("ea"), col("eb"))
          / (col("na") * col("nb")), 6) >= 0.30)
        .count()
    }
    // per-user lag + type-bounded aggregate (markov_transitions core):
    // users are remapped per replica, so per-user density is constant
    // and the one user_id exchange must scale linearly
    time("lag_window_transitions") {
      import org.apache.spark.sql.expressions.Window
      val events = replicate(Tables.load(spark, dir, "events"), "user_id")
        .withColumn("event_id",
          col("event_id") + expr("user_id div 10000000") * 1000000000L)
      val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      events.select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("next_type"))
        .withColumn("prev_type", lag(col("next_type"), 1).over(byUser))
        .filter(col("prev_type").isNotNull)
        .groupBy("prev_type", "next_type").count().count()
    }
    // content-defined chunking + chunk-hash dedup census (cdc_dedup
    // core): replicated docs are the worst case — EVERY chunk has mult
    // copies, so the census's per-hash groups grow mult-x. Cost must
    // stay linear: only (md5, count) pairs shuffle, chunk bodies
    // reduce map-side, and the per-doc boundary window is
    // hash-partitioned by doc_id.
    time("cdc_chunk_dedup_census") {
      TextAnalysis.cdcChunks(docs.select("doc_id", "text"))
        .groupBy("chunk_md5")
        .agg(count(lit(1)).as("n_copies"), max(col("n_tokens")).as("t"))
        .filter(col("n_copies") > 1)
        .count()
    }
    // NB train + score (lang_id_nb core): the model tables stay
    // vocabulary-bounded however large the corpus (replicas multiply
    // counts, not vocab), so train cost is one corpus aggregate and
    // score cost is linear in |doc-token types| x |classes|
    time("nb_train_score") {
      val dt = docs.select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("tok"))
        .groupBy("doc_id", "lang", "tok").agg(count(lit(1)).as("n"))
      val tr = dt.filter(col("doc_id") % 2 === 0)
        .groupBy(col("lang").as("cand"), col("tok"))
        .agg(sum(col("n")).as("c")).localCheckpoint(true)
      val cls = tr.groupBy("cand").agg(sum(col("c")).as("tot"))
      val voc = tr.agg(countDistinct(col("tok")).as("v"))
      val term = round(log((col("c") + 1.0) / (col("tot") + col("v"))), 6)
        .cast(org.apache.spark.sql.types.DataTypes.createDecimalType(20, 6))
      dt.crossJoin(broadcast(cls)).crossJoin(broadcast(voc))
        .join(broadcast(tr), Seq("cand", "tok"), "left")
        .na.fill(0L, Seq("c"))
        .groupBy("doc_id", "cand").agg(sum(col("n") * term).as("lsum"))
        .count()
    }
    // Kneser-Ney shape (kneser_ney_bigram): the per-doc bigram
    // aggregation is the data-sized stage; the count tables stay
    // vocabulary-bounded under replication (copies add counts, not
    // types), so the broadcast sides must NOT grow with mult
    time("kn_bigram_train_score") {
      val arr = Tables.parallelizeByRange(docs, col("doc_id"))
        .select(col("doc_id"), split(col("text"), " ").as("a"))
      val blen = greatest(size(col("a")) - 1, lit(0))
      val bi = arr.select(col("doc_id"), explode(arrays_zip(
          slice(col("a"), lit(1), blen), slice(col("a"), lit(2), blen))).as("p"))
        .select(col("doc_id"), col("p.0").as("w1"), col("p.1").as("w2"))
      val dbc = bi.groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("dc"))
      val b = dbc.filter(col("doc_id") % 2 === 0)
        .groupBy("w1", "w2").agg(sum("dc").as("cb")).localCheckpoint(true)
      val fw = b.groupBy("w1").agg(sum("cb").as("cu"), count(lit(1)).as("n1fw"))
      val bw = b.groupBy("w2").agg(count(lit(1)).as("n1bw"))
      println(s"[smoke]   kn bigram types (must not scale with mult): ${b.count()}")
      dbc.join(broadcast(b), Seq("w1", "w2"), "left")
        .join(broadcast(fw), Seq("w1"), "left")
        .join(broadcast(bw), Seq("w2"), "left")
        .groupBy("doc_id").agg(sum("dc").as("nb")).count()
    }
    // Bloom audit shape (bloom_fpr_audit): the bit set is bounded by
    // m regardless of corpus size — the broadcast stays constant
    // while the shingle scan scales linearly
    time("bloom_bits_probe") {
      import graft.functions.PortableHash
      def lap[T](tag: String)(f: => T): T = {
        val t0 = System.nanoTime(); val r = f
        println(f"[smoke]   bloom lap $tag: ${(System.nanoTime() - t0) / 1e9}%.2f s")
        r
      }
      // the replicated checkpoint can land in ONE partition — spread
      // before the explode exactly as the production query does
      // (Tables.parallelizeByRange): without it the scan stage runs
      // serially and the probe mismeasures the operator (32 s -> ~4 s)
      val sh = lap("shingle+distinct") {
        Tables.parallelizeByRange(docs, col("doc_id"))
          .select((col("doc_id") % 2).as("half"),
            explode(Dedup.shingles(col("text"))).as("w"))
          .distinct().localCheckpoint(true)
      }
      val train = sh.filter(col("half") === 0).select("w")
      val probe = sh.filter(col("half") === 1).select("w")
        .join(train, Seq("w"), "left_anti")
      val bits = lap("bits") {
        (0 to 2).map(j =>
            train.select((PortableHash.h32(j, col("w")) % 131072).as("p")))
          .reduce(_ unionAll _).distinct().localCheckpoint(true)
      }
      println(s"[smoke]   bloom bits set (bounded by m): ${bits.count()}")
      val pp = (0 to 2).map(j => probe.select(col("w"),
          (PortableHash.h32(j, col("w")) % 131072).as("p")))
        .reduce(_ unionAll _)
      lap("probe-join") {
        pp.join(broadcast(bits), Seq("p"))
          .groupBy("w").agg(count(lit(1)).as("nh"))
          .filter(col("nh") === 3).count()
      }
    }
    // Gramian census shape (pca_power_iteration's heavy half): the
    // second-moment census must stay EXACTLY d²+d+1 scalars however
    // large the corpus grows — copies add to the sums, never to the
    // cells — and since round 14 the corpus pass is the
    // GramMatrixAgg partial aggregate (flat Long buffer per task, NO
    // row inflation; the prior d²-cell explode materialized 245M rows
    // at 30× and went GC-bound — the round-13 weak mark)
    time("gramian_census_d64") {
      val e = Tables.parallelizeByRange(emb, col("vec_id"))
        .select(expr("transform(embedding, x -> cast(floor(cast(x as double) * 1000000.0 + 0.5) as bigint))").as("u"))
      val cells = e
        .agg(graft.functions.GramMatrixAgg(col("u"), 64).as("g"))
        .select(explode(col("g")))
        .count()
      println(s"[smoke]   gramian census scalars (must stay d*d+d+1): $cells")
      cells
    }
    // Poisson bootstrap shape (bootstrap_ci): B resample partials per
    // partition shuffle down to a CONSTANT 200-row census; the B
    // hash draws are scan-side and scale linearly with the corpus
    time("poisson_bootstrap_200") {
      import graft.functions.PortableHash
      val d = Tables.parallelizeByRange(docs, col("doc_id"))
        .select(col("doc_id"), size(split(col("text"), " ")).as("x"))
      val resamples = d
        .select(col("doc_id"), col("x"),
          explode(sequence(lit(0), lit(199))).as("b"))
        .select(col("b"), col("x"),
          (PortableHash.h32(concat(lit("b|"), col("b").cast("string"),
            lit("|"), col("doc_id").cast("string"))).cast("double")
            / 4294967296.0).as("uh"))
        .select(col("b"), col("x"),
          when(col("uh") < 0.3678794411714423, 0)
            .when(col("uh") < 0.7357588823428846, 1)
            .when(col("uh") < 0.9196986029286058, 2).otherwise(3).as("w"))
        .groupBy("b").agg(sum(col("w") * col("x")).as("swx"), sum("w").as("sw"))
        .count()
      println(s"[smoke]   bootstrap resample census (must stay B): $resamples")
      resamples
    }

    // SNM blocking: the two-phase prefix-scan rank (bucket census +
    // local windows) and the gap-join candidate expansion are both
    // LINEAR in n — candidate count must land at ~n·w, and time must
    // track mult, not mult². Replicated parts are worst-case for the
    // verify (identical names everywhere), which the name_a <> name_b
    // guard drops scan-side.
    time("snm_rank_window_pairs") {
      import org.apache.spark.sql.expressions.Window
      val part = replicate(Tables.load(spark, dir, "part"), "p_partkey")
        .select(col("p_partkey").as("key"), col("p_name").as("name"))
        .withColumn("bucket", substring(col("name"), 1, 1))
      val cnt = part.groupBy("bucket").agg(count(lit(1)).as("bc"))
      val prefix = cnt.select(col("bucket"),
        sum(col("bc")).over(Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)).as("off"))
      val local = Window.partitionBy("bucket").orderBy("name", "key")
      val ranked = part.join(broadcast(prefix), "bucket")
        .withColumn("rn",
          coalesce(col("off"), lit(0L)) + row_number().over(local))
        .select("key", "name", "rn")
      val probe = ranked.select(col("key").as("key_a"),
          col("name").as("name_a"), col("rn"),
          explode(array((1L to 5L).map(lit): _*)).as("gap"))
        .withColumn("rnb", col("rn") + col("gap"))
      probe.join(ranked.toDF("key_b", "name_b", "rnb"), "rnb")
        .filter(col("name_a") =!= col("name_b"))
        .select(graft.functions.JaroWinkler(col("name_a"), col("name_b"))
          .as("jw"))
        .filter(col("jw") >= 0.84)
        .count()
    }
    // Theil–Sen at a WIDENED SPAN (theil_sen_sampled): each copy
    // shifts the hour census by copy·720 h, so the span — the thing
    // the exact estimator is quadratic in — grows with mult while the
    // sampled estimator's pair mass stays at 2000 draws per type. The
    // would-be exact pair mass is computed ARITHMETICALLY from the
    // census (never materialized); the sampled path actually runs.
    time("theil_sen_sampled_span") {
      val hrs = Tables.load(spark, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
        .agg((sum(col("value").cast(
            org.apache.spark.sql.types.DataTypes.createDecimalType(12, 2)))
          .cast(org.apache.spark.sql.types.DataTypes.createDecimalType(18, 2))
          * 100).cast("long").as("c"))
        .crossJoin(spark.range(mult).select(col("id").as("cp")))
        .select(col("event_type"),
          (expr("unix_micros(hour) div 3600000000L") + col("cp") * 720L).as("t"),
          col("c"))
        .localCheckpoint(true)
      val census = hrs.groupBy("event_type").agg(count(lit(1)).as("nb"))
        .localCheckpoint(true)
      val exactPairs = census
        .agg(sum(col("nb") * (col("nb") - 1))).first().getLong(0) / 2
      val spanHours = census.agg(max("nb")).first().getLong(0)
      // the SHARED production core (graft.ops.RobustTrend) — the smoke
      // measures exactly the pipeline the oracle pins, not a copy
      val sampled = graft.ops.RobustTrend.sampledSlopes(hrs, 2000).count()
      println(s"[smoke]   span=$spanHours h: exact pair mass would be " +
        s"$exactPairs (quadratic in span); sampled pair rows: $sampled (bounded)")
      sampled
    }
    // Media decode at scale (png_pixel_stats / jpeg_pixel_stats): the
    // decode stage is NARROW — encode+decode run inside mapPartitions
    // where the bytes live, per-image cost is bounded by the dims
    // cap, so total time must track mult linearly with zero shuffle
    // growth. Replicated doc_ids keep per-image work identical.
    time("media_decode_png_jpeg") {
      import graft.ops.Multimodal
      val pngDocs = docs.filter(col("doc_id") % 6 === 0 || col("doc_id") % 3 === 2)
      val jpgDocs = docs.filter(col("doc_id") % 6 === 3)
      val a = Multimodal.decodePixelStats(Multimodal.mediaContainers(
        Tables.parallelizeByRange(pngDocs, col("doc_id")))).count()
      val b = Multimodal.decodeJpegStats(Multimodal.jpegPixelMedia(
        Tables.parallelizeByRange(jpgDocs, col("doc_id")))).count()
      println(s"[smoke]   decoded $a png/apng + $b jpeg rasters")
      a + b
    }
    // Vocabulary-census growth audit (the Heaps-law worry on the
    // allowlisted vocab-bounded exchanges): per-copy token suffixing
    // models NEW vocabulary arriving with corpus growth — the vocab
    // census grows ~linearly with mult, while the 2-char prefix-bucket
    // census (the ONLY single-partition exchange under
    // negative_sampling_table's two-phase shape) stays
    // alphabet²-bounded. The df-cap/top-k escape hatches for the other
    // vocab-census queries are recorded per-query in SCALE.md.
    time("vocab_census_growth") {
      val toks = Tables.parallelizeByRange(docs, col("doc_id"))
        .select((col("doc_id") / 10000000L).cast("long").as("cp"),
          explode(split(col("text"), " ")).as("t0"))
        .filter(length(col("t0")) > 0)
        .select(concat(col("t0"), lit("~"), col("cp").cast("string")).as("tok"))
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("freq"))
        .localCheckpoint(true)
      val v = vocab.count()
      val buckets = vocab.groupBy(substring(col("tok"), 1, 2).as("b"))
        .agg(count(lit(1))).count()
      println(s"[smoke]   vocab census rows (grows with corpus): $v; " +
        s"prefix-bucket census rows (the single-partition exchange): $buckets")
      v
    }
    // Vocab-window escape hatch audit (round 10): the last two
    // vocabulary-sized single-partition windows are gone —
    // token_burstiness' global top-30 window consumes only the
    // per-bucket survivor union (≤ 30·B rows at ANY vocab size) and
    // key_skew_gini's prefix window only the COUNT-VALUE census
    // (distinct counts ≤ √(2·total)). Under the same Heaps growth
    // model as above, the vocab census grows ~mult while both window
    // inputs must stay bounded.
    time("vocab_window_escape_hatch") {
      import org.apache.spark.sql.expressions.Window
      val toks = Tables.parallelizeByRange(docs, col("doc_id"))
        .select((col("doc_id") / 10000000L).cast("long").as("cp"),
          explode(split(col("text"), " ")).as("t0"))
        .filter(length(col("t0")) > 0)
        .select(concat(col("t0"), lit("~"), col("cp").cast("string")).as("tok"))
      val census = toks.groupBy("tok").agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      val v = census.count()
      val survivors = census
        .withColumn("bkt", pmod(hash(col("tok")), lit(32)))
        .withColumn("brnk", row_number().over(
          Window.partitionBy("bkt").orderBy(col("tf").desc, col("tok"))))
        .filter(col("brnk") <= 30)
        .count()
      val countValues = census.groupBy("tf").count().count()
      println(s"[smoke]   vocab census $v (grows ~mult) -> top-30 window " +
        s"input $survivors (<= 960); count-value census $countValues " +
        s"(<= sqrt(2 tokens))")
      survivors
    }
    // Curation funnel at scale: the end-to-end composite must track
    // mult linearly — its exchanges are the fingerprint hash shuffle
    // (dedup window), the (domain, salt) + domain rank shuffles of the
    // round-11 web-curation gate, and the 8-shard packing shuffle; the
    // replicated corpus is the worst case for the dedup window
    // (every copy set lands in one fingerprint partition's tie group)
    // AND for the domain windows (the hot hub domain grows with mult,
    // which is exactly what the 16-way salt level absorbs).
    time("curation_funnel_composite") {
      import org.apache.spark.sql.expressions.Window
      import graft.queries.WebCuration
      val a = split(col("text"), " ")
      val f = Tables.parallelizeByRange(docs, col("doc_id"))
        .select(col("doc_id"), col("lang"), size(a).as("n_tokens"),
          md5(concat_ws(" ", array_sort(array_distinct(a))).cast("binary"))
            .as("fp"),
          WebCuration.domainCol(WebCuration.hostCol(WebCuration.urlCol))
            .as("domain"))
      val kept = f.withColumn("kd", row_number().over(
          Window.partitionBy("fp").orderBy("doc_id")) === 1)
        .filter(col("kd") && col("n_tokens").between(5, 200) &&
          col("lang").isin("en", "de"))
      val gated = kept
        .filter(!col("domain").isin(WebCuration.Blocklist: _*))
        .withColumn("bkt", pmod(hash(col("doc_id")), lit(16)))
        .withColumn("brnk", row_number().over(
          Window.partitionBy("domain", "bkt").orderBy("doc_id")))
        .filter(col("brnk") <= 8)
        .withColumn("rnk", row_number().over(
          Window.partitionBy("domain").orderBy("doc_id")))
        .filter(col("rnk") <= 8)
      val packed = gated
        .select(col("doc_id"), col("n_tokens"),
          (graft.functions.PortableHash.h32(col("doc_id").cast("string"))
            % 8).as("shard"))
        .withColumn("cum", sum(col("n_tokens")).over(
          Window.partitionBy("shard").orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("shard"), expr("(cum - n_tokens) div 2048").as("seq"))
        .distinct().count()
      println(s"[smoke]   funnel survivors -> $packed packed sequences " +
        s"(dedup window spread over fingerprint partitions; domain gate " +
        s"salt-bucketed 16-way)")
      packed
    }
    // HTML extraction at scale: synthesis + strip + decode is a
    // per-row projection (must track mult linearly with NO new
    // exchange), the href explode is bounded 4/page, and the link
    // graph contracts onto the FORMULA-bounded domain grid — the
    // replicated corpus multiplies pages but CANNOT grow the domain
    // population (the url/cross-link formulas map ANY doc_id onto the
    // fixed site x suffix grid — mods of 3/4/5/7/11/97 over 10 source
    // values), which is exactly the host-graph contraction claim:
    // edge-census rows must stay FLAT while pages grow ~mult.
    time("html_extract_linkgraph") {
      import graft.queries.Html
      val pages = Html.pageProjection(
        Tables.parallelizeByRange(docs, col("doc_id")))
      val vis = pages.agg(
        sum(length(graft.queries.Html.visibleText(col("html"))))).first()
      val edges = Html.outlinkEdges(pages).localCheckpoint(true)
      val eRows = edges.count()
      val links = edges.agg(sum("n_links")).first().getLong(0)
      println(s"[smoke]   visible chars ${vis.getLong(0)} (grows ~mult); " +
        s"links $links = 4 x pages; edge census rows $eRows (must stay " +
        s"FLAT vs mult — the domain grid is formula-bounded)")
      eRows
    }
    // Durable-ledger MERGE write amplification (round 12): deliver the
    // replicated corpus in BUCKET-ALIGNED batches through the same
    // partition-pruned merge monitorDurable runs. The contract a
    // full-ledger rewrite breaks: each version dir holds ONLY the one
    // bucket its batch touched, so the LAST batch's bytes stay ~1/nB
    // of the ledger total at ANY mult — per-batch writes track the
    // touched-bucket footprint, never the corpus seen so far.
    time("ledger_merge_pruning") {
      import graft.streaming.StreamCuration
      val evidence = graft.queries.SelectionQueries
        .evalEvidence(docs).localCheckpoint(true)
      val nB = 8
      val ledgerDir = java.nio.file.Files
        .createTempDirectory("smoke_ledger").toString
      val base = docs.select("doc_id", "lang", "source", "text")
        .withColumn("b", pmod(hash(col("doc_id")), lit(nB)))
        .localCheckpoint(true)
      (0 until nB).foreach { id =>
        StreamCuration.durableBatch(
          base.filter(col("b") === id).drop("b"), id, ledgerDir, nB,
          evidence).collect()
      }
      def bytes(f: java.io.File): Long =
        if (f.isFile) f.length
        else Option(f.listFiles).fold(0L)(_.map(bytes).sum)
      val versions = new java.io.File(ledgerDir).listFiles
        .filter(_.getName.startsWith("v")).sortBy(_.getName.drop(1).toLong)
      val lastB = bytes(versions.last)
      val totalB = versions.map(bytes).sum
      val buckets = versions.map(_.listFiles.count(_.getName.startsWith("bkt=")))
      val rows = StreamCuration.readLedger(spark, ledgerDir).get.count()
      println(s"[smoke]   buckets per version ${buckets.mkString(",")} " +
        s"(must all be 1); last batch wrote $lastB of $totalB ledger " +
        f"bytes = ${lastB.toDouble / totalB}%.3f (must stay ~${1.0 / nB}%.3f " +
        s"at any mult — pruned writes track the batch, not the corpus)")
      rows
    }
    // Scheduled-vacuum disk bounding (round 13): run 3x more batches
    // than the ledger has buckets — every bucket rewritten 3 times —
    // with monitorDurable's vacuum cadence (end of each bucket cycle).
    // Without vacuum, disk holds rounds x nB bucket copies; with it,
    // only the nB live copies plus the post-horizon tail (< one
    // cycle) may remain — O(live buckets) at ANY batch count.
    time("ledger_vacuum_bounding") {
      import graft.streaming.StreamCuration
      val evidence = graft.queries.SelectionQueries
        .evalEvidence(docs).localCheckpoint(true)
      val nB = 8
      val rounds = 3
      val ledgerDir = java.nio.file.Files
        .createTempDirectory("smoke_ledger_vac").toString
      val base = docs.select("doc_id", "lang", "source", "text")
        .withColumn("b", pmod(hash(col("doc_id")), lit(nB)))
        .localCheckpoint(true)
      (0 until rounds * nB).foreach { i =>
        StreamCuration.durableBatch(
          base.filter(col("b") === (i % nB)).drop("b"),
          i.toLong, ledgerDir, nB, evidence).collect()
        if (i % nB == nB - 1)
          StreamCuration.vacuumLedger(spark, ledgerDir, beforeBatch = i.toLong)
      }
      val copies = new java.io.File(ledgerDir).listFiles
        .filter(_.getName.startsWith("v"))
        .flatMap(v => Option(v.listFiles).getOrElse(Array.empty)
          .map(_.getName).filter(_.startsWith("bkt=")))
      val rows = StreamCuration.readLedger(spark, ledgerDir).get.count()
      println(s"[smoke]   ${copies.length} of ${rounds * nB} written bucket " +
        s"copies remain after in-stream vacuum (must stay ~$nB+1 = live " +
        s"buckets + post-horizon tail at any round count); view $rows rows")
      rows
    }
    // StreamAnnIndex's two cost regimes (round 14): a REFRESH batch
    // retrains + re-encodes the whole committed corpus (documented
    // O(corpus) — must grow ~mult), while a DELTA batch encodes only
    // its own rows with frozen codebooks (O(batch) — a FIXED-size
    // batch must cost ~the same at every mult). The printed ratio is
    // the refresh-cadence sizing input: choose refreshEvery so the
    // amortized refresh cost per batch ~ the delta cost, i.e.
    // refreshEvery ≈ refresh_s / delta_s — at 100 TB that naturally
    // pushes refreshes to a daily/weekly compaction cadence while
    // deltas keep sub-minute freshness.
    time("stream_ann_delta_vs_refresh") {
      import graft.streaming.StreamAnnIndex
      val root = java.nio.file.Files
        .createTempDirectory("smoke_annx").toString
      emb.select("vec_id", "embedding")
        .write.mode("overwrite").parquet(s"$root/vecs/d0")
      val t0 = System.nanoTime()
      val cb = StreamAnnIndex.refresh(spark, root, 0)
      val tRefresh = (System.nanoTime() - t0) / 1e9
      // fixed 2000-vector delta batch — the size a micro-batch would
      // carry regardless of corpus scale
      val batch = emb.select("vec_id", "embedding").limit(2000)
        .localCheckpoint(true)
      val t1 = System.nanoTime()
      StreamAnnIndex.encode(batch, cb)
        .write.mode("overwrite").partitionBy("cl").parquet(s"$root/v0/d1")
      val tDelta = (System.nanoTime() - t1) / 1e9
      println(f"[smoke]   refresh(full corpus) $tRefresh%7.2f s   " +
        f"delta(2k batch) $tDelta%7.2f s   cadence ratio ${tRefresh / tDelta}%6.1f x")
      spark.read.parquet(s"$root/v0/d1").count()
    }
    // EXPENSIVE-TAIL probe (round 13): the 5 priciest bench queries
    // run AS-IS (the real SparkEntry entries) against a replicated
    // on-disk copy of their tables. Documented growth ceilings the
    // printed numbers must track (SCALE.md "expensive tail"):
    //  - theil_sen: pair stage is span^2-bounded over the HOUR census
    //    (the fixture's time range is fixed, so the census cannot grow
    //    with mult) -> scan-linear in mult.
    //  - dedup_prefix_jaccard / dedup_containment: replication is the
    //    ADVERSARIAL dedup workload (every doc becomes a mult-way
    //    duplicate), so candidate pairs inside replica groups grow
    //    ~mult^2 BY CONSTRUCTION of the workload — that quadratic is
    //    the true dup-group cost any dedup must pay, not a plan
    //    defect; cross-group candidates stay prefix/df-cap bounded.
    //  - pca_power_iteration: ONE GramMatrixAgg corpus pass (flat
    //    buffer per task, no row inflation) + iterations on the d^2
    //    census -> scan-linear in mult (the round-13 d^2 explode read
    //    9.8x wall at 30x; the aggregate must read ~linear).
    //  - bt_confidence: one match-census pass (<= 28 pairs/group,
    //    groups linear in docs) + a |sources|^2 Fisher census ->
    //    scan-linear in mult.
    //  - curation_funnel (round 13's priciest): at sf0.1 the new
    //    decontamination stage's cost is FIXED job overhead (~8 small
    //    Spark jobs), so growth must be SUB-linear until the scans
    //    dominate; evidence dim is eval-slice-bounded, the hits
    //    shuffle carries only evidence matches.
    // Dedup pair-mass growth under the DISTINCT-corpus model (r15):
    // per-copy token suffixing — copies share NO shingles, so shingle
    // document frequency stays base-bounded and the candidate/pair
    // mass of the two most expensive suite queries must grow ~mult
    // (the production growth regime: a growing corpus is mostly new
    // text). The ADVERSARIAL dup model (id replication — every doc a
    // mult-way duplicate, in-group pairs mult² BY DESIGN) is probed
    // separately by expensive_tail_queries at 10x. Printed: prefix
    // candidate count, ngram bucket-pair count, and the containment
    // df-cap survivor count — the three declared pair spaces.
    time("dedup_pair_mass_growth") {
      val sufDir = java.nio.file.Files
        .createTempDirectory("smoke_pairmass").toString
      val docs2 = replicate(Tables.load(spark, dir, "documents"), "doc_id")
        .withColumn("cp", expr("doc_id div 10000000"))
        .withColumn("text", array_join(
          transform(split(col("text"), " "),
            t => concat(t, lit("~"), col("cp").cast("string"))), " "))
        .drop("cp")
      docs2.write.mode("overwrite").parquet(s"$sufDir/documents.parquet")
      def lap(tag: String)(f: => Long): Long = {
        val t0 = System.nanoTime(); val r = f
        println(f"[smoke]   pair-mass $tag%-24s ${(System.nanoTime() - t0) / 1e9}%7.2f s  $r%12d rows")
        r
      }
      val pjCand = lap("prefix_candidates") {
        graft.queries.PrefixJaccard.candidates(spark, sufDir, 0.8).count()
      }
      val d2 = Tables.load(spark, sufDir, "documents")
      val ngPairs = lap("ngram_bucket_pairs") {
        // the r15 scan-fused + hashed-signature shape (the shipped one)
        val base = Tables.parallelizeByRange(
            d2.select("doc_id", "lang", "n_chars", "text"), col("doc_id"))
          .select(col("doc_id"), col("lang"), expr("n_chars div 50").as("bk"),
            array_distinct(Dedup.shingles(col("text"))).as("sh"))
          .select(col("doc_id"), col("lang"), col("bk"),
            size(col("sh")).as("n"), explode(col("sh")).as("shingle"))
          .select(col("doc_id"), col("lang"), col("bk"), col("n"),
            xxhash64(col("shingle")).as("hs"))
        base.groupBy("hs", "lang", "bk")
          .agg(sort_array(collect_set(struct(col("doc_id"), col("n")))).as("xs"))
          .filter(size(col("xs")) > 1)
          .select(explode(flatten(transform(col("xs"), (x, i) =>
            transform(slice(col("xs"), i + 2, size(col("xs"))),
              y => struct(x.as("a"), y.as("b")))))).as("p"))
          .count()
      }
      val contKept = lap("containment_df_cap") {
        val dshRaw = Dedup.distinctShingles(d2, "doc_id", "text")
          .select(col("doc_id"), xxhash64(col("shingle")).as("hs"))
        dshRaw.groupBy("hs").agg(count(lit(1)).as("f"))
          .filter(col("f") <= 16).count()
      }
      println(s"[smoke]   pair-mass growth at mult=$mult (distinct-corpus " +
        s"model): prefix candidates $pjCand, ngram bucket pairs $ngPairs, " +
        s"df<=16 shingle census $contKept — all must track ~mult")
      pjCand + ngPairs
    }
    // Connected-components label materializations on a DEEP planted
    // graph (r15, closing the r14 "two-hop was a wash" question): the
    // corpus pair graphs have diameter <= 2, where halving the round
    // count doubles per-round cost — a wash. Here chains of length 32
    // force ~31 one-hop rounds (each an eager checkpoint + driver
    // count), vs ~16 for a probe-local two-hop variant with identical
    // converged labels (same min-label fixed point). What must show at
    // 10x/30x for the two-hop claim to be real: wall-clock ratio
    // meaningfully under 1.0 on the deep graph.
    time("cc_deep_chain_onehop_vs_twohop") {
      val chainLen = 32
      val n = 20000L * mult
      val base = spark.range(n)
        .filter(pmod(col("id"), lit(chainLen)) =!= (chainLen - 1))
        .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
        .localCheckpoint(true)
      // the mid-stage cleanup must NOT release base's checkpoint (its
      // lineage is truncated — the two-hop half re-reads it)
      val keepLocal = spark.sparkContext.getPersistentRDDs.keySet
      val t0 = System.nanoTime()
      val one = Dedup.connectedComponents(base, "id_a", "id_b", maxIter = 40)
        .agg(countDistinct(col("cluster_id"))).first().getLong(0)
      val tOne = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => keepLocal(id) }.values
        .foreach(_.unpersist(false))
      // probe-local two-hop variant: two propagation steps per
      // checkpoint+count round — identical fixed point
      val t1 = System.nanoTime()
      val edges = base.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(base.select(col("id_b").as("src"), col("id_a").as("dst")))
        .distinct().localCheckpoint(true)
      var labels = edges.select(col("src").as("id")).distinct()
        .withColumn("lbl", col("id")).localCheckpoint(true)
      var converged = false
      var rounds = 0
      while (!converged && rounds < 40) {
        def hop(l: org.apache.spark.sql.DataFrame) = {
          val nm = edges.join(l, edges("dst") === l("id"))
            .groupBy(edges("src").as("nid")).agg(min(col("lbl")).as("nlbl"))
          l.join(nm, l("id") === nm("nid"), "left")
            .select(col("id"),
              least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
        }
        val updated = hop(hop(labels)).localCheckpoint(true)
        converged = updated.join(labels.withColumnRenamed("lbl", "old"), "id")
          .filter(col("lbl") < col("old")).count() == 0
        labels.unpersist()
        labels = updated
        rounds += 1
      }
      val two = labels.agg(countDistinct(col("lbl"))).first().getLong(0)
      val tTwo = (System.nanoTime() - t1) / 1e9
      require(one == two, s"two-hop fixed point diverged: $one vs $two")
      println(f"[smoke]   cc deep-chain: one-hop $tOne%7.2f s vs two-hop " +
        f"$tTwo%7.2f s ($rounds rounds) over $one components " +
        f"(ratio ${tTwo / tOne}%.2f — <1.0 makes the two-hop claim real)")
      one
    }
    time("expensive_tail_queries") {
      val tailDir = java.nio.file.Files
        .createTempDirectory("smoke_tail").toString
      docs.write.mode("overwrite").parquet(s"$tailDir/documents.parquet")
      emb.write.mode("overwrite").parquet(s"$tailDir/embeddings.parquet")
      replicate(Tables.load(spark, dir, "events"), "event_id")
        .write.mode("overwrite").parquet(s"$tailDir/events.parquet")
      val tail0 = Seq("theil_sen", "dedup_prefix_jaccard",
        "dedup_containment", "pca_power_iteration", "bt_confidence",
        "curation_funnel")
      // no silent caps: the two dedup queries' in-group pair mass
      // grows ~mult^2 under replication (~900x at 30x) — past any
      // single-JVM budget by design of the workload, so they are
      // measured at 10x and DROPPED LOUDLY above it (production
      // bounds dup-group pair mass via the banded/capped machinery;
      // PrefixFilterSpec pins the candidate bound)
      val tail =
        if (mult <= 10) tail0
        else {
          println(s"[smoke]   (dropping dedup_prefix_jaccard + " +
            s"dedup_containment at mult=$mult: in-group pair mass " +
            s"~mult^2 exceeds the single-JVM probe budget; measured " +
            s"at 10x)")
          tail0.filterNot(
            Set("dedup_prefix_jaccard", "dedup_containment"))
        }
      tail.map { q =>
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(q)(spark, tailDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[smoke]   $q%-24s $dt%7.2f s  $n%9d rows")
        n
      }.sum
    }
    spark.stop()
  }
}
