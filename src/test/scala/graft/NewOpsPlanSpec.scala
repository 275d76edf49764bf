package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Physical-plan shape checks for the round-6-continuation operators:
  * shuffle counts stay at the keyed minimum and no corpus-derived side
  * acquires a broadcast. (The PartitioningSpec no-BHJ test covers
  * t17/d14; this pins the exchange budget of the event-analytics ops.)
  */
class NewOpsPlanSpec extends SparkSpec {

  private def shuffles(name: String): (Int, String) = {
    val df = SparkEntry.registry.find(_.name == name).get.run(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    def count(p: org.apache.spark.sql.execution.SparkPlan): Int = {
      val self = p match {
        case _: ShuffleExchangeExec => 1
        case _ => 0
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => count(a.executedPlan)
        case _ => p.children.map(count).sum
      }
      self + kids
    }
    (count(plan), plan.toString)
  }

  test("q65 sessionize: both window passes and the rollup ride ONE shuffle") {
    val (n, plan) = shuffles("q65_sessionize")
    assert(n <= 1, s"q65 shuffles $n times — windows/rollup lost the shared " +
      s"user_id partitioning:\n${plan.take(1200)}")
  }

  test("q68 cumulative distinct: two keyed aggs, no more") {
    val (n, plan) = shuffles("q68_cumulative_distinct")
    // (type,user) first-seen agg + (type,day) rollup; window reuses the
    // rollup's partitioning
    assert(n <= 2, s"q68 shuffles $n times:\n${plan.take(1200)}")
  }

  test("q71 mode: count agg + per-group rank stay within two shuffles") {
    val (n, plan) = shuffles("q71_mode_per_group")
    assert(n <= 2, s"q71 shuffles $n times:\n${plan.take(1200)}")
  }

  test("q66 incremental agg: partial aggregations are map-side combined") {
    val df = SparkEntry.registry.find(_.name == "q66_incremental_agg").get.run(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // both branches and the merge must show partial_ aggregate modes —
    // a merge re-agg without partials ships raw rows at 100 TB
    assert(plan.contains("partial_"), s"no partial aggregation in q66:\n${plan.take(900)}")
  }

  test("d17 soft dedup: window-free — agg partials + keyed join, no WindowExec") {
    // r13: the content_hash Window (count + row_number) became a
    // groupBy(count, min) + keyed join. One more shuffle than the window
    // form, bought deliberately: a dup-heavy corpus (d17's whole point)
    // makes content_hash groups hot, and hash-agg PARTIALS absorb a hot
    // group map-side where a window task cannot.
    val (n, plan) = shuffles("d17_soft_dedup_weights")
    assert(n <= 2, s"d17 shuffles $n times — expected count-agg + join:\n${plan.take(1200)}")
    assert(!plan.contains("Window"),
      s"d17 still runs a content_hash window:\n${plan.take(1200)}")
  }

  test("skew-safe caps: no WindowExec on the m4/d3 bucket-cap paths") {
    // r13: every LSH/pHash bucket cap is groupBy-count + keyed join; a
    // count-over-Window here would land a degenerate uncapped bucket on
    // a single window task before the <= cap filter could drop it.
    for (name <- Seq("m4_phash_neardup", "d3_minhash_pairs")) {
      val df = SparkEntry.registry.find(_.name == name).get.run(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"),
        s"$name cap path still runs a window:\n${plan.take(1200)}")
    }
  }

  test("d1/d6/d21: no duplicate-group WindowExec on the dedup rank paths") {
    // r14: the registry queries themselves now carry the 5ce2a76 shape —
    // d1/d6 first-wins = min-per-hash agg (first-wins ≡ min doc_id, no
    // rank at all), d21 keep-longest on the bounded two-pass
    // groupedRowNumber. A Window keyed on a duplicate-group hash puts a
    // boilerplate mega-group's whole membership on ONE task; exact dedup
    // is the first operator a 100 TB corpus run executes.
    for (name <- Seq("d1_exact_dedup", "d6_normalized_dedup", "d21_prefix_dedup")) {
      val df = SparkEntry.registry.find(_.name == name).get.run(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"),
        s"$name still ranks on a duplicate-group window:\n${plan.take(1200)}")
    }
  }

  test("t35/t38 metering stays inside WholeStageCodegen (scan-side, no shuffle)") {
    // the r14 subword/BPE meters are custom UnaryExpressions with
    // doGenCode — the point of that (vs a Scala UDF) is that the whole
    // per-doc meter fuses into the scan's codegen stage. Assert the
    // Project carrying the metering expression sits inside a codegen'd
    // span (the `*(n)` marker) and the plan has no exchange at all.
    // fallback=false (r16): the `*(` marker prints before Janino
    // compiles, so without it a doGenCode emitting invalid Java passes
    // this test while silently interpreting (the BloomProbe bug class).
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      for ((name, marker) <- Seq(
          ("t35_subword_tokens", "subword_count"),
          ("t38_bpe_token_counts", "bpe_count"))) {
        val df = SparkEntry.registry.find(_.name == name).get.run(spark, sf)
        df.collect()
        val plan = df.queryExecution.executedPlan.toString
        val line = plan.linesIterator.find(_.contains(marker))
        assert(line.isDefined, s"$name plan carries no $marker expression:\n${plan.take(900)}")
        assert(line.get.contains("*("),
          s"$name's $marker fell out of WholeStageCodegen:\n${line.get.take(300)}")
        assert(!plan.contains("Exchange"),
          s"$name metering must be scan-side only:\n${plan.take(900)}")
      }
    } finally spark.conf.set("spark.sql.codegen.fallback", prevFallback)
  }

  test("every custom codegen expression COMPILES: family probes under fallback=false") {
    // one entry per custom-Expression family (CosineSimF32/ArrayDot →
    // s1; PqEncodeF32 + PqAdc table → s23; Sha256Chunks → d13 covers it
    // via the probe test above; SubwordCount/Tokens → t35; BpeCount →
    // t38; BloomProbe → d13): executing with codegen fallback DISABLED
    // turns any invalid generated Java into a hard failure instead of a
    // silent interpreted run. d13/st13/t35/t38 are covered by the two
    // tests above; this closes the remaining families.
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      for (name <- Seq("s1_knn_brute", "s23_ivf_pq_index", "t5_fingerprint")) {
        val df = SparkEntry.registry.find(_.name == name).get.run(spark, sf)
        assert(df.collect().nonEmpty, s"$name returned no rows under fallback=false")
      }
    } finally spark.conf.set("spark.sql.codegen.fallback", prevFallback)
  }

  test("st13/d13 scan-side verdicts stay inside WholeStageCodegen") {
    // r15: the BPE budget gate is ONE stateless projection (no exchange
    // at all — it must run in a streaming plan), and d13's broadcast
    // bloom probe is a codegen'd expression (the typedLit literal it
    // replaced would have shipped the bitmap per task).
    val st = SparkEntry.registry.find(_.name == "st13_bpe_budget_gate").get.run(spark, sf)
    st.collect()
    val stPlan = st.queryExecution.executedPlan.toString
    val bpeLine = stPlan.linesIterator.find(_.contains("bpe_count"))
    assert(bpeLine.isDefined && bpeLine.get.contains("*("),
      s"st13's bpe_count fell out of WholeStageCodegen:\n${stPlan.take(900)}")
    assert(!stPlan.contains("Exchange"),
      s"st13 must be a stateless scan-side projection:\n${stPlan.take(900)}")
    // run d13 with codegen fallback DISABLED: the `*(` plan marker prints
    // before Janino compiles, so a doGenCode emitting invalid Java (the r15
    // addImmutableStateIfNotExists-returns-Unit bug) passes the plan-string
    // assertion while silently interpreting every run. fallback=false turns
    // that into a hard failure here.
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val d13 = SparkEntry.registry.find(_.name == "d13_bloom_prefilter").get.run(spark, sf)
      d13.collect()
      val dPlan = d13.queryExecution.executedPlan.toString
      val probeLine = dPlan.linesIterator.find(_.contains("bloom_probe"))
      assert(probeLine.isDefined && probeLine.get.contains("*("),
        s"d13's bloom_probe fell out of WholeStageCodegen:\n${dPlan.take(900)}")
    } finally spark.conf.set("spark.sql.codegen.fallback", prevFallback)
  }

  test("q72 rolling DAU: keyed shuffles only, no nested-loop range join") {
    val df = SparkEntry.registry.find(_.name == "q72_rolling_dau").get.run(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"q72 planned a cross-product range join:\n${plan.take(1200)}")
  }

  test("d19 sorted neighborhood: no cross-product from the rank band") {
    val df = SparkEntry.registry.find(_.name == "d19_sorted_neighborhood").get.run(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the w=2 band must be the two keyed equi-joins, and the only
    // broadcasts the bounded offset tables — never a nested loop
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"d19 planned a cross-product:\n${plan.take(1200)}")
  }

  test("q69 funnel: ONE corpus scan, ONE shuffle (sorted-fold form)") {
    // the oracle's 4-scan/3-join formulation is what DuckDB replays; the
    // Spark plan must be the single-pass fold — at 100 TB the difference
    // is 4 corpus reads vs 1
    val df = SparkEntry.registry.find(_.name == "q69_event_funnel").get.run(spark, sf)
    df.collect()
    val (n, plan) = {
      val p = df.queryExecution.executedPlan
      def count(q: org.apache.spark.sql.execution.SparkPlan): Int = {
        val self = q match { case _: ShuffleExchangeExec => 1; case _ => 0 }
        val kids = q match {
          case a: AdaptiveSparkPlanExec => count(a.executedPlan)
          case _ => q.children.map(count).sum
        }
        self + kids
      }
      (count(p), p.toString)
    }
    assert(n <= 1, s"q69 shuffles $n times:\n${plan.take(1200)}")
    val scans = df.queryExecution.optimizedPlan.collect {
      case _: org.apache.spark.sql.execution.datasources.LogicalRelation => 1
    }.sum
    assert(scans === 1, s"q69 scans the corpus $scans times")
  }

  test("t22 heavy hitters: recount is map-side combined, candidates are literals") {
    // the final frame is the ExistingRDD of the two-pass rank, so the
    // recount's plan is pinned on the factored production stage itself
    import org.apache.spark.sql.functions._
    val tok = Tables.documents(spark, sf)
      .select(explode(split(trim(col("text")), "\\s+")).as("t"))
    val df = graft.llm.TextStats.candidateRecount(tok, Seq("table", "value", "a"), 10)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the exact recount must partial-aggregate before its shuffle, and
    // the candidate restriction must be a literal In filter in the scan
    // stage — never a join against a corpus-derived frame
    assert(plan.contains("partial_"), s"t22 recount not map-side combined:\n${plan.take(900)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin")
      && !plan.contains("Join"), s"t22 recount planned a join:\n${plan.take(900)}")
    assert(plan.contains("t#") && (plan.contains(" IN ") || plan.contains("INSET")
      || plan.contains("In(")), s"t22 candidate filter is not a literal IN:\n${plan.take(900)}")
    // and the top-k is a distributed TakeOrdered, not a global sort
    assert(plan.contains("TakeOrderedAndProject"),
      s"t22 top-k is not TakeOrdered:\n${plan.take(900)}")
  }

  test("s11 PQ-ADC: keyed broadcast joins only, partial ADC aggregation") {
    val df = SparkEntry.registry.find(_.name == "s11_pq_adc").get.run(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the codebook and query tables ride parameter-bounded BROADCAST
    // HASH joins keyed on (ss[, cid]); a nested-loop anywhere means the
    // equi-keys were lost and the join degenerated to all-pairs
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"s11 planned an all-pairs join:\n${plan.take(1200)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"s11 lost its bounded broadcast:\n${plan.take(1200)}")
    assert(plan.contains("partial_"), s"s11 ADC sum not map-side combined:\n${plan.take(900)}")
  }

  test("st11 pair kernel: keyed joins survive with broadcast disabled (the 100 TB plan)") {
    import org.apache.spark.sql.functions._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val docs = Tables.documents(spark, sf)
      val art = graft.llm.Dedup.dedupIndexArtifacts(docs)
        .join(docs.select(col("doc_id"), (col("doc_id") % 3 === 0).as("__ledger")),
          Seq("doc_id"))
      val df = graft.llm.Dedup.incrementalNearDupPairs(
        art.filter(!col("__ledger")).drop("__ledger"), art)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      // band-bucket candidates, hash-equality exacts, and the Jaccard
      // verify are ALL keyed joins — a cartesian/nested-loop anywhere
      // means a corpus-derived side degenerated to all-pairs
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"st11 pair kernel degenerated to all-pairs:\n${plan.take(1200)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("ep1/ep2 merges: no forced broadcast — keyed joins survive above the threshold") {
    // r13: the batch-derived delta/violation frames lost their hard
    // broadcast() hints. With the threshold off (every side "too big"),
    // the merges must still plan as keyed joins (SMJ/shuffled-hash), not
    // a driver-materialized broadcast and not a nested-loop fallback.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      for (name <- Seq("ep1_order_approval", "ep2_process_movement")) {
        val df = SparkEntry.registry.find(_.name == name).get.run(spark, sf)
        df.collect()
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastNestedLoopJoin") &&
          !plan.contains("CartesianProduct"),
          s"$name degenerated to all-pairs with broadcast off:\n${plan.take(1200)}")
        // the hint is gone: nothing broadcasts when the threshold says no
        // (typedLit/statusMap literal dims are not joins in these plans)
        assert(!plan.contains("BroadcastHashJoin"),
          s"$name still forces a broadcast with the threshold off:\n${plan.take(1200)}")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("t33 packed shards: the cumsum's keyed partials feed ONE final aggregation") {
    val df = SparkEntry.registry.find(_.name == "t33_packed_shards").get.run(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // per-(source, shard) counters must be map-side combined — raw
    // per-doc rows crossing the wire is the shape that dies at 100 TB
    assert(plan.contains("partial_"),
      s"t33 shard manifest not map-side combined:\n${plan.take(900)}")
    assert(!plan.contains("CartesianProduct"),
      s"t33 planned a cartesian:\n${plan.take(900)}")
  }

  test("s22 purge: the rewrite scan reads ONLY tombstone-bearing cells (directory pruning)") {
    import org.apache.spark.sql.functions._
    val e = graft.llm.Similarity.clusteredEmbeddings(Tables.embeddings(spark, sf))
    val idx = graft.llm.Similarity.IvfIndex.build(e,
      graft.llm.Similarity.Quantizer.sampled(e)).root
    // tombstone exactly one vector → its single cell is the whole
    // rewrite footprint
    val tomb = e.filter(col("vec_id") === 0).select("vec_id")
    val allFiles = spark.read.parquet(s"$idx/assignments").inputFiles.length
    val hitCell = spark.read.parquet(s"$idx/assignments")
      .filter(col("vid") === 0).select("cell").head().getInt(0)
    // replicate the purge's pruned read and pin its file footprint
    val pruned = spark.read.parquet(s"$idx/assignments")
      .filter(col("cell").isin(hitCell))
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[Long] = (p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(s.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        Seq(f.metrics("numFiles").value)
      case other => other.children.flatMap(scans)
    })
    pruned.collect()
    val n = scans(pruned.queryExecution.executedPlan)
    assert(n.nonEmpty && n.head < allFiles,
      s"purge-shaped scan read ${n.headOption} of $allFiles files — no pruning")
    // and the purge itself leaves the index serving correctly
    graft.llm.Similarity.IvfIndex.open(spark, idx).purge(tomb)
    assert(spark.read.parquet(s"$idx/assignments")
      .filter(col("vid") === 0).count() === 0L)
  }

  test("s27 filtered ANN: the label predicate is PUSHED to the scan; no cartesian") {
    val df = SparkEntry.registry.find(_.name == "s27_filtered_ann").get.run(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the predicate rides the candidate scan as an ordinary pushed
    // filter — the one-index-serves-every-filter scale story
    assert(plan.contains("LessThan(label,3)") || plan.contains("label#"),
      s"label predicate not visible in the executed plan:\n${plan.take(800)}")
    assert(plan.contains("PushedFilters: [IsNotNull(label), LessThan(label,3)"),
      "label predicate must be pushed to the parquet scan")
    assert(!plan.contains("CartesianProduct"), "no cartesian in filtered ANN")
  }

  test("st16 front door: gates priced ONCE at the spill boundary; keyed joins only") {
    val df = SparkEntry.registry.find(_.name == "st16_front_door").get.run(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the output plan consumes the SPILLED gate verdict tables — the
    // codegen'd BPE walk ran exactly once (the budget spill write) and
    // must not reappear under any of the three output branches; without
    // the boundary each branch re-walked the corpus (measured ~2× the
    // whole-entry cost)
    assert(!plan.contains("bpe_count"),
      s"st16's output plan re-prices the corpus:\n${plan.take(900)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"st16 cascade must stay on keyed joins:\n${plan.take(900)}")
  }

  test("st17 batched kernel: corpus scans are FIXED, independent of batch count") {
    // the 100 TB claim of incrementalNearDupBatches: the expensive
    // artifact derivation (sha256 signature chains over text) runs once
    // into the spill; per-batch kernels read the spill only. If a batch
    // loop ever re-derived from text, scans would grow with nBatches.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val src = java.nio.file.Files.createTempDirectory("st17-plan").toString
    Tables.documents(spark, sf).write.mode("overwrite").parquet(src)
    val docs = spark.read.parquet(src)
    val srcScans = new java.util.concurrent.atomic.AtomicInteger(0)
    def fileScans(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
      case s: QueryStageExec => fileScans(s.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        if (f.relation.location.rootPaths.exists(_.toString.contains(src))) 1
        else 0
      case other => other.children.map(fileScans).sum
    }
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = { srcScans.addAndGet(fileScans(qe.executedPlan)); () }
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    def scansFor(nBatches: Int): Int = {
      spark.listenerManager.register(listener)
      try {
        srcScans.set(0)
        graft.llm.Dedup.incrementalNearDupBatches(docs,
          pmod(col("doc_id"), lit(3)) === 0,
          pmod(col("doc_id"), lit(nBatches)), nBatches)
          .write.format("noop").mode("overwrite").save()
        org.apache.spark.GraftSparkInternals
          .waitListenerBusEmpty(spark.sparkContext, 30000)
        srcScans.get()
      } finally { spark.listenerManager.unregister(listener); () }
    }
    // one untimed warm-up run: first-touch planning effects (statistics,
    // spread's partition probe) add a one-time scan event that has
    // nothing to do with batch count
    scansFor(2)
    val s2 = scansFor(2)
    val s4 = scansFor(4)
    assert(s2 === s4,
      s"corpus scans grew with batch count ($s2 vs $s4) — a per-batch " +
        "kernel is re-deriving artifacts from text instead of reading " +
        "the spill")
    // the artifact job reads the source twice (signature derivation +
    // the seed/batch flag join); everything after is spill-only
    assert(s2 <= 2, s"artifact stage scans the corpus $s2 times")
  }

  test("st17 batched kernel: the returned plan is O(1) in batch count (spilled verdicts, not an N-way union)") {
    // r18 verdict #5: at the N-tick law's production shape (N in the
    // hundreds) a reduce(unionByName) over N kernel plans grows the
    // returned plan — and every downstream analysis — O(N). The kernel
    // now spills each batch's verdicts and returns ONE scan; at N=50
    // the plan must look exactly like it does at N=2.
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
      .orderBy(col("doc_id")).limit(55).cache()
    def planNodes(n: Int): Int = {
      val out = graft.llm.Dedup.incrementalNearDupBatches(docs,
        pmod(col("doc_id"), lit(n + 1)) === 0,
        pmod(col("doc_id"), lit(n + 1)) - 1, n)
      assert(out.queryExecution.optimizedPlan.collect {
        case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
      }.isEmpty, s"N=$n: the returned plan still unions per-batch kernels")
      out.queryExecution.optimizedPlan.collect { case p => p }.size
    }
    val n2 = planNodes(2)
    val n50 = planNodes(50)
    assert(n2 === n50,
      s"returned plan grew with batch count ($n2 nodes at N=2, $n50 at N=50)")
    assert(n50 <= 4, s"expected a flat spill scan, got $n50 nodes")
    docs.unpersist()
    ()
  }
}
