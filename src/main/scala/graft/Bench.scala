package graft

/** Benchmark main: runs every registered query against
  * `SPARK_GRAFT_SF_DIR`, forcing full materialization of all output
  * columns via a noop-format write (a bare `count()` would let Catalyst
  * prune the projection and under-measure). Prints ONE JSON line.
  *
  * Measurement protocol (adaptive_r20 = adaptive_r19 + (1) a
  * warm≫cold NOISE RETAKE pass (the r19 verdict's #2): an entry whose
  * best warm rep lands > 1.5× its own cold (and > 0.25 s over it —
  * keeps sub-noise-floor fast entries out) is physically backwards
  * for a deterministic plan whose codegen is already warm, so it gets
  * ONE retake rep, largest first, hard-ceiling-gated; entries STILL
  * contradicted after the retake carry a per-entry `noise_suspect`
  * flag, a scalar count, and a sidecar name list, and cross-round
  * regression adjudication EXCLUDES them (the r19 driver window
  * shipped m8 at 13.6 s on exactly this signature — cold 7.4, warm
  * median 18.6 — with no rule to catch it); (2) peak-regime
  * adjudicability (the r19 verdict's #3): whenever peak entries move,
  * the artifact records the median and p25/p75 of the per-entry peak
  * SCALE ratio (new/prior), so a clean cross-JVM page-quanta regime
  * (tight ratio cluster near a power of two, shuffle_changed 0) is
  * distinguishable from organic per-entry memory growth without
  * leaving the artifact; (3) `shapeMoved` computed once per entry.
  * NOTE for cross-round reads: r19 switched the measured session to
  * `.withExtensions(GraftExtensions)` (s29 needs the resolution
  * rule), so r18→r19 value/shape deltas compare a differently-
  * configured engine; r19→r20 compares like with like.
  *
  * adaptive_r19 = adaptive_r18 + four
  * ARTIFACT-side additions, timing and estimators unchanged: (1) the
  * shape audit SPLITS by class — per-entry `shuffle_changed` /
  * `peak_changed`, scalar counts for both, a `peak_regime_shift`
  * detector (the r18 163-flag storm was 100% peak, a systematic ~8×
  * cross-JVM page-quanta scale — a wholesale same-direction peak
  * shift stays out of the headline `shape_changed`), an
  * order-independent `shape_digest`, and the FULL name lists in a
  * `<out>.shapes.json` sidecar; (2) `calib_spark` — a fixed 1M-row
  * cached groupBy probe timing scheduler+shuffle+codegen the way the
  * registry does (the LCG over-corrects scheduler-bound entries) —
  * with `value_norm_spark` once a prior artifact carries the probe;
  * (3) the artifact is ALWAYS also written to repo-root
  * `bench_latest.json`, so the driver run's full spread is
  * committable; (4) protocol tag bump. adaptive_r18 added: per-entry
  * shape flags vs the newest prior artifact
  * (`SPARK_GRAFT_PRIOR_BENCH` overrides), `value_norm` = value ×
  * prior_calib_nt / calib_nt, and the `depth_violations` self-audit
  * proving the ">1 s ⇒ ≥2 reps" rule held. Budget 240 → 265 for the
  * two r18 entries (the honest-growth settlement, see PLANS); depth
  * runway 210 → 280 s (re-sized to the 216-entry tail's measured
  * ~220 s second-rep cost).
  * adaptive_r17 = adaptive_r13 + pass 1.5
  * slow-tail DEPTH: every entry whose single timed rep exceeds 1 s
  * gets a guaranteed second warm rep — on the pass's own bounded
  * 210 s runway, before any entry earns its third — and the default
  * budget moves 210 → 240 s, the round-16 verdict's budget decision;
  * estimators unchanged.
  * adaptive_r13 = adaptive_r12 with phase 2
  * BREADTH-FIRST: every fast query earns one rep — gated only by the
  * hard ceiling — before any earns its second — gated by the budget —
  * so a budget squeeze degrades rep DEPTH, never COVERAGE; timing and
  * estimators otherwise unchanged. adaptive_r12 = adaptive_r11 with slow_tail
  * publishing BOTH estimators (med + min) per entry; timing and the
  * reported point estimates are unchanged from r11. adaptive_r11 = r10
  * protocol + slow-query contention retry; per-query
  * plan-shape metrics {shuffle_mb, peak_mem_mb} in `spread`):
  *
  *   1. Input PRE-TOUCH, timed separately (`input_touch_sec`): every
  *      table gets one full-column noop-write scan before any query is
  *      timed, so per-query "cold" measures codegen + plan cost, not
  *      first-touch parquet IO. (The round-8 artifacts diverged 3-10× on
  *      exactly the queries whose driver-side runs were charged cold IO
  *      and got no warm reps — this plus #3 is the reconciliation.)
  *   2. One COLD pass per query, in registry order. The cold time is the
  *      warm-up (Janino codegen) and the scheduling signal; it is never
  *      folded into the reported median. A query whose cold took
  *      ≥ 0.5 s runs its ONE timed rep IMMEDIATELY after its cold
  *      (generated classes still hot — a rep deferred behind the whole
  *      registry re-pays codegen compilation and mislabels it "warm"),
  *      and that rep is never budget-gated: heavy queries are the
  *      scrutinized numbers, and budget-skipping the last registry
  *      entries was the round-8 cross-artifact divergence.
  *      CONTENTION RETRY (adaptive_r11, the round-10 verdict's
  *      med ≫ cold finding): if that rep lands > 1.5× its own cold —
  *      physically implausible for a deterministic plan whose codegen
  *      is already warm, so a host-contention spike, not the query —
  *      ONE more immediate rep runs, and a slow query reports the MIN
  *      of its timed reps (the least-contended observation; standard
  *      practice for deterministic workloads, and the estimator that
  *      makes cross-artifact divergence readable as signal again). A
  *      true regression shows in BOTH reps and still reports slow. Fast
  *      queries keep the median of their deferred reps.
  *   3. Fast queries (< 0.5 s cold) get up to TWO deferred reps
  *      (capped by `SPARK_GRAFT_REPS`-1, median reported), largest
  *      cold first, while the global budget
  *      (`SPARK_GRAFT_BUDGET_SEC`, default 240 s of bench-phase wall)
  *      lasts. A budget-degraded fast query reports its cold, flagged
  *      `"cold_only":true` — a ≤0.3 s absolute error. A
  *      degraded-but-parsed artifact beats an rc=124 one.
  *
  * Per-query spread carries min/max of the timed reps plus the cold
  * time, so a reader can still judge noise. The JSON line is ordered
  * spread → queries → `slow_tail` (top-8 slowest with cold AND median)
  * → scalar totals, so a bounded stdout TAIL capture lands on the
  * digest and totals rather than mid-spread. Host-speed calibration
  * (fixed keys `calib_1t`/`calib_nt`/`n_threads`) lets totals be
  * normalized across rounds and hosts; the LCG loop is JIT-warmed once
  * untimed so the 1-thread number measures the host, not the compiler.
  */
object Bench {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  private val SlowThresh = 0.5 // cold secs above which 1 timed rep suffices
  // timed-rep secs above which a single rep is NOT allowed to stand
  // (adaptive_r17 pass 1.5: guaranteed second warm rep for the tail)
  private val SlowDepthThresh = 1.0

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val maxReps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    // 271 (r19): 265 was settled for the 216-entry registry (PLANS r18);
    // r19 adds s29_lateral_ann_sql — the r18 verdict's #1 as a registry
    // row, pre-priced 4.5–6.5 s (the s16 chain + the SQL lateral serve
    // + the equality gate) — so the budget moves by the pre-priced
    // midpoint, the same honest-growth rule as 210 → 240 → 265.
    // PLANS.md r19 carries the pricing.
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BUDGET_SEC", "271").toDouble
    val spark = GraftSession.local(cpus)

    // Input pre-touch (protocol step 1): full-column scans, timed.
    val touchT0 = System.nanoTime()
    Tables.all.foreach { t =>
      try Tables.load(spark, sfDir, t).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] pre-touch $t failed: ${e.getMessage}")
      }
    }
    val inputTouch = (System.nanoTime() - touchT0) / 1e9

    val benchT0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - benchT0) / 1e9

    // Plan-shape metrics (round-9 verdict "Next #6"): per-query shuffle
    // WRITE volume and max per-task peak execution memory, collected by
    // a SparkListener and drained synchronously before each snapshot.
    // Wall time on 32 local cores hides a plan regression (an extra
    // shuffle costs little over loopback tmpfs, everything at sf0.1
    // fits in memory); these two numbers are the 100 TB failure modes
    // the clock can't see — shuffle bytes scale with the data, and
    // per-task peak memory is what decides spill-vs-OOM on a real
    // executor.
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0)
    val peakTaskMem = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          peakTaskMem.updateAndGet(cur => math.max(cur, m.peakExecutionMemory))
          ()
        }
      }
    })
    // per-query metrics of the LAST successful run (reps of one query
    // have identical plans, so any rep's shape is THE shape)
    val qShuffleMb = scala.collection.mutable.Map.empty[String, Double]
    val qPeakMemMb = scala.collection.mutable.Map.empty[String, Double]

    // A rep that THROWS is not a measurement: its elapsed time is
    // discarded (failure latency folded into a median would make a
    // broken query look like a timed one) and the error prints once.
    val errReported = scala.collection.mutable.Set.empty[String]
    def runOnce(q: OpQuery): Option[Double] = {
      org.apache.spark.GraftSparkInternals
        .waitListenerBusEmpty(spark.sparkContext, 10000)
      shuffleBytes.set(0)
      peakTaskMem.set(0)
      val t0 = System.nanoTime()
      try {
        q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        org.apache.spark.GraftSparkInternals
          .waitListenerBusEmpty(spark.sparkContext, 10000)
        qShuffleMb(q.name) = shuffleBytes.get() / 1048576.0
        qPeakMemMb(q.name) = peakTaskMem.get() / 1048576.0
        Some(dt)
      } catch { case e: Throwable =>
        if (errReported.add(q.name))
          System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
        None
      } finally {
        // each run's spill-backed plans (t15/d8/d20) are consumed by the
        // noop write — reclaim them so runs don't accumulate one
        // tokenized-corpus copy apiece
        graft.llm.Dedup.releaseSpills(spark)
      }
    }

    case class QRes(name: String, cold: Option[Double], times: Seq[Double],
                    attempted: Int, coldOnly: Boolean, slow: Boolean = false) {
      // slow queries: min of the immediate reps (contention-robust, see
      // protocol step 2); fast queries: median of the deferred reps
      def measurement: Option[Double] =
        if (times.isEmpty) cold
        else if (slow) Some(times.min)
        else Some(median(times))
    }
    // Phase 1 (registry order): cold pass, and queries whose cold is
    // slow (≥ SlowThresh) take their single timed rep IMMEDIATELY —
    // back-to-back with the cold, while their generated classes are
    // hot. A rep deferred behind 170+ other queries re-pays Janino
    // compilation out of the bounded codegen cache and reports it as
    // "warm" (measured +30-70% on the heavy pipelines). Immediate slow
    // reps are never budget-gated: they are the scrutinized numbers,
    // and budget-skipping the LAST registry entries on a slow host was
    // exactly the round-8 cross-artifact divergence. A failed cold gets
    // one immediate retry (transient vs broken).
    // Escape hatch for a catastrophically slow host: once elapsed passes
    // 2.5× the budget even the immediate slow reps stop (cold-only
    // artifact beats rc=124). Never triggers on a healthy host — the
    // full cold pass + slow reps run ~2× budget there.
    val hardCeiling = 2.5 * budgetSec
    // (r10 note: a second immediate rep for slow queries was tried and
    // REVERTED — it pushed the cold-pass wall past the hard ceiling on
    // a 191-query registry, starving the LAST slow entries of any rep
    // at all, which is precisely the r8 bias the single guaranteed
    // immediate rep exists to prevent. The ~1.5× single-rep spread of
    // the spill-pipeline family is the documented cost of that
    // guarantee; cross-round comparisons should read those entries'
    // min/cold spread, not the point value.)
    val phase1: Seq[(OpQuery, Option[Double], Seq[Double], Int, Boolean)] =
      SparkEntry.registry.map { q =>
        val cold = runOnce(q)
        val (times, attempted, slow) = cold match {
          case None => (runOnce(q).toSeq, 1, false)
          case Some(c) if c >= SlowThresh && elapsed < hardCeiling =>
            val r1 = runOnce(q)
            // contention retry: a warm rep > 1.5× its own cold is a host
            // spike, not the plan — one more immediate rep, report min
            val r2 = r1 match {
              case Some(t) if t > 1.5 * c && elapsed < hardCeiling => runOnce(q)
              case _ => None
            }
            ((r1.toSeq ++ r2.toSeq), 1 + r2.size, true)
          case Some(_) => (Seq.empty[Double], 0, false)
        }
        (q, cold, times, attempted, slow)
      }
    // Phase 2 (adaptive_r13: BREADTH before depth): every fast query
    // gets its FIRST rep before any query gets a second, largest cold
    // first. The r11/r12 depth-first grant left ~70 entries cold-only
    // once elapsed crossed the budget — each reporting its
    // codegen-inflated cold as the point estimate, which is exactly the
    // bias the reps exist to remove. Pass 1 is gated only by the hard
    // ceiling (a fast rep costs ≤0.5 s by definition; full coverage is
    // worth ~40 s of wall on any sane host), pass 2 by the budget.
    // Tradeoff, documented: a query's two reps are no longer
    // back-to-back, so min/max spread includes cross-pass drift — the
    // slow tail (the scrutinized numbers) still reps immediately after
    // its cold, unchanged.
    val phase2: Map[String, (Seq[Double], Int)] = {
      val fastQs = phase1
        .filter { case (_, c, t, _, _) => c.isDefined && t.isEmpty }
        .sortBy { case (_, c, _, _, _) => -c.get }
        .map(_._1)
      val reps = scala.collection.mutable.Map.empty[String, (Seq[Double], Int)]
      def addRep(q: OpQuery): Unit = {
        val (ts, att) = reps.getOrElse(q.name, (Seq.empty[Double], 0))
        reps(q.name) = (ts ++ runOnce(q), att + 1)
      }
      val passes = (maxReps - 1).min(2).max(1)
      // pass 1: BREADTH — every fast query's first rep, gated only by
      // the hard ceiling (full coverage beats rep depth)
      for (q <- fastQs) if (elapsed < hardCeiling) addRep(q)
      // pass 1.5 (adaptive_r17, the round-16 verdict's #3): DEPTH for
      // the slow tail — every entry whose ONLY timed rep exceeds
      // SlowDepthThresh gets a guaranteed second warm rep, largest
      // first, hard-ceiling-gated like pass 1, BEFORE any entry earns
      // its third. The m-family's ±2-4x single-rep swings (min > cold
      // on a deterministic plan = pure host noise) cost diagnosis time
      // every round; min-of-two collapses them to the noise floor.
      // Contention-retried entries already hold two reps and are not
      // re-deepened — second reps before third, the r13 breadth rule.
      // The depth pass carries its OWN bounded runway instead of
      // competing with phase 1 for the global ceiling: the slow tail is
      // the scrutinized number set, its second reps cost ~150 s of
      // quiet-host wall, and any shared cap silently voids the
      // guarantee exactly when the host is degraded (measured r17:
      // 5-10% CPU-steal windows stretched phase 1 ~24%, and a 3×-budget
      // shared cap starved 18-44 tail entries across five takes). The
      // runway is 210 s from the pass's own start — tail cost plus a
      // steal margin — so total wall stays bounded by construction at
      // ~hardCeiling + one fast rep + 210 + one tail rep, while the
      // guarantee survives a slow phase 1. At most ONE rep per >1 s
      // entry either way.
      val slowTail1 = phase1
        .filter { case (_, c, t, _, _) =>
          c.isDefined && t.length == 1 && t.head > SlowDepthThresh }
        .sortBy { case (_, _, t, _, _) => -t.head }
        .map(_._1)
      // runway sizing (r18): tail second-rep cost plus a steal margin.
      // 210 was sized for r17's ~150 s tail; the 216-entry registry's
      // >1 s tail costs ~220 s of second reps (measured: a take on the
      // session's FASTEST window still starved 35 tail entries under
      // 210), so the guarantee needs ~280. Still bounded by
      // construction: wall ≤ ~hardCeiling + one fast rep + runway +
      // one tail rep.
      val depthDeadline = elapsed + 280.0
      for (q <- slowTail1) if (elapsed < depthDeadline) addRep(q)
      // pass 2: fast second reps, budget-gated
      if (passes >= 2) for (q <- fastQs) if (elapsed <= budgetSec) addRep(q)
      (fastQs ++ slowTail1)
        .map(q => q.name -> reps.getOrElse(q.name, (Seq.empty[Double], 0)))
        .toMap
    }
    val resultsPre = phase1.map { case (q, cold, t1, a1, slow) =>
      val (t2, a2) = phase2.getOrElse(q.name, (Seq.empty[Double], 0))
      val times = t1 ++ t2
      QRes(q.name, cold, times, a1 + a2, cold.isDefined && times.isEmpty, slow)
    }
    // Pass 3 (adaptive_r20, the r19 verdict's #2): warm≫cold noise
    // retake. A series whose BEST warm rep exceeds 1.5× its own cold
    // (by > 0.25 s absolute) is a host-noise window mid-entry, not the
    // plan — codegen was already warm. One retake rep per contradicted
    // entry, largest first, hard-ceiling-gated like every pass; the
    // retake folds into the entry's rep series (min for slow entries,
    // median for fast — the normal estimators). Entries STILL
    // contradicted afterwards are flagged `noise_suspect` and excluded
    // from cross-round regression adjudication (names in the sidecar).
    def warmContradicted(r: QRes): Boolean =
      r.cold.exists(c => r.times.nonEmpty &&
        r.times.min > 1.5 * c && r.times.min - c > 0.25)
    val qByName = SparkEntry.registry.map(q => q.name -> q).toMap
    val results: Seq[QRes] = {
      val retaken = scala.collection.mutable.Map.empty[String, Seq[Double]]
      for (r <- resultsPre.filter(warmContradicted).sortBy(-_.times.min))
        if (elapsed < hardCeiling)
          retaken(r.name) = runOnce(qByName(r.name)).toSeq
      resultsPre.map(r => retaken.get(r.name).fold(r)(extra =>
        r.copy(times = r.times ++ extra, attempted = r.attempted + 1)))
    }
    val noiseSuspects: Seq[String] =
      results.filter(warmContradicted).map(_.name)

    // Locale.ROOT: default-locale format would emit comma decimals on
    // e.g. de_DE JVMs and corrupt the JSON artifact
    def fmt(v: Double) = "%.4f".formatLocal(java.util.Locale.ROOT, v)

    // Cross-round shape baseline (r18, the r17 verdict's #2): load the
    // newest prior bench artifact's per-entry {shuffle_mb, peak_mem_mb}
    // and flag entries whose PLAN SHAPE moved — those two metrics are
    // deterministic for an unchanged plan (the r17 adjudications proved
    // regressed TIMES with bit-identical shape every time), so "time
    // moved AND shape moved" is the only combination worth a manual
    // adjudication line; everything else is host noise by construction.
    // SPARK_GRAFT_PRIOR_BENCH overrides; default = newest bench_r*.json
    // in the cwd (the committed builder artifact — for the driver's run
    // that is the SAME round's builder take, making the comparison a
    // same-code determinism check; for the builder's own take it is the
    // prior round, the cross-round regression check).
    val priorPath: Option[String] =
      sys.env.get("SPARK_GRAFT_PRIOR_BENCH").orElse {
        val re = "bench_r(\\d+)\\.json".r
        Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
          .flatMap(f => f.getName match {
            case re(n) => Some((n.toInt, f.getPath))
            case _ => None
          }).sortBy(-_._1).headOption.map(_._2)
      }
    val priorText: Option[String] = priorPath.flatMap { p =>
      scala.util.Try(new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
        "UTF-8")).toOption
    }
    val priorSpread: Map[String, (Option[Double], Option[Double])] =
      priorText.map { text =>
        def num(body: String, key: String): Option[Double] =
          ("\"" + key + "\":(-?[0-9.]+)").r.findFirstMatchIn(body)
            .map(_.group(1).toDouble)
        "\"([a-z][a-z0-9_]+)\":\\{([^{}]*)\\}".r.findAllMatchIn(text)
          .map(m => m.group(1) ->
            ((num(m.group(2), "shuffle_mb"), num(m.group(2), "peak_mem_mb"))))
          .toMap
      }.getOrElse(Map.empty)
    val priorCalibNt: Option[Double] = priorText.flatMap(text =>
      "\"calib_nt\":(-?[0-9.]+)".r.findFirstMatchIn(text)
        .map(_.group(1).toDouble))
    // shape moved, SPLIT by class (adaptive_r19, the r18 verdict's #2):
    // shuffle beyond (10%, 0.25 MB) is the DETERMINISTIC band — an
    // unchanged plan writes the same shuffle bytes; peak mem beyond
    // (35%, 4 MB) is informational — the r18 adjudication found the
    // driver-vs-builder 163-flag storm was 100% peak-only, a systematic
    // ~8× page-quanta scale shift between the two JVMs (8→64 MB,
    // 16→128 MB, zero shuffle moves), i.e. a cross-PROCESS memory
    // regime, not 163 regressions. Peak therefore carries its own
    // count, a regime detector (below) keeps a wholesale same-direction
    // shift out of the headline, and the FULL name lists land in a
    // committed sidecar so the audit is adjudicable from artifacts
    // alone (the 16-name tail truncation hid 147 of the 163).
    def shapeMoved(name: String): (Boolean, Boolean) =
      priorSpread.get(name).fold((false, false)) { case (ps, pp) =>
        val sMoved = (ps, qShuffleMb.get(name)) match {
          case (Some(a), Some(b)) =>
            math.abs(b - a) > math.max(0.10 * a, 0.25)
          case _ => false
        }
        val pMoved = (pp, qPeakMemMb.get(name)) match {
          case (Some(a), Some(b)) =>
            math.abs(b - a) > math.max(0.35 * a, 4.0)
          case _ => false
        }
        (sMoved, pMoved)
      }
    // computed once per entry (r19 ADVICE: the per-entry flags and both
    // name lists re-ran the prior-spread matching three times)
    val movedByName: Map[String, (Boolean, Boolean)] =
      results.map(r => r.name -> shapeMoved(r.name)).toMap
    val qs = results.map { r =>
      "\"" + r.name + "\":" + r.measurement.fold("null")(fmt)
    }.mkString("{", ",", "}")
    val spread = results.map { r =>
      if (r.measurement.isEmpty) "\"" + r.name + "\":{\"failed\":true}"
      else {
        val body = new StringBuilder
        if (r.times.nonEmpty)
          body ++= "\"min\":" + fmt(r.times.min) + ",\"max\":" + fmt(r.times.max)
        r.cold.foreach { c =>
          if (body.nonEmpty) body ++= ","
          body ++= "\"cold\":" + fmt(c)
        }
        body ++= ",\"reps_used\":" + r.times.length
        qShuffleMb.get(r.name).foreach(v => body ++= ",\"shuffle_mb\":" + fmt(v))
        qPeakMemMb.get(r.name).foreach(v => body ++= ",\"peak_mem_mb\":" + fmt(v))
        val (sMv, pMv) = movedByName(r.name)
        if (sMv) body ++= ",\"shuffle_changed\":true"
        if (pMv) body ++= ",\"peak_changed\":true"
        if (noiseSuspects.contains(r.name)) body ++= ",\"noise_suspect\":true"
        if (r.coldOnly) body ++= ",\"cold_only\":true"
        if (r.times.length < r.attempted)
          body ++= ",\"failed_reps\":" + (r.attempted - r.times.length)
        "\"" + r.name + "\":{" + body + "}"
      }
    }.mkString("{", ",", "}")
    // compact digest of the 8 slowest (by reported measurement): cold,
    // median AND min side by side — the entries a tail capture must
    // carry. r11's protocol switched the slow-query point estimate to
    // min-of-reps mid-series, which made cross-round totals subtly
    // incomparable (the r11 verdict's estimator caveat); publishing BOTH
    // estimators lets any round's report cite whichever matches the
    // series it compares against. "med" is now always the true median of
    // the timed reps; "min" the least-contended rep; the REPORTED
    // per-query measurement (min for slow, med for fast) is unchanged.
    val slowTail = results
      .filter(_.measurement.isDefined)
      .sortBy(-_.measurement.get).take(8)
      .map { r =>
        val med = if (r.times.isEmpty) r.cold.fold("null")(fmt)
                  else fmt(median(r.times))
        val mn = if (r.times.isEmpty) r.cold.fold("null")(fmt)
                 else fmt(r.times.min)
        "\"" + r.name + "\":{\"cold\":" + r.cold.fold("null")(fmt) +
          ",\"med\":" + med + ",\"min\":" + mn + "}"
      }.mkString("{", ",", "}")
    val failed = results.count(_.measurement.isEmpty)
    val degraded = results.count(_.coldOnly)
    val total = results.flatMap(_.measurement).sum
    val benchWall = elapsed
    // Depth-rule self-audit (r18, the r17 verdict's #3): the canonical
    // driver artifact keeps only a bounded stdout TAIL, which never
    // reaches the per-entry reps_used — so the artifact now AUDITS
    // itself in the scalar segment: an entry violates the depth rule
    // when its reported measurement exceeds 1 s on fewer than 2 timed
    // reps. A judge reads depth_violations straight off the tail.
    val depthViol = results.filter(r =>
      r.measurement.exists(_ > SlowDepthThresh) && r.times.length < 2)
    val depthNames = depthViol.map(_.name).take(12)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // shape audit (adaptive_r19): per-class name lists, a wholesale-
    // regime detector for peak, an order-independent digest, and the
    // FULL lists in a sidecar file next to the artifact.
    val shuffleNames = results.filter(r => movedByName(r.name)._1).map(_.name)
    val peakNames = results.filter(r => movedByName(r.name)._2).map(_.name)
    // peak REGIME shift: most compared entries moved peak in the same
    // direction ⇒ a cross-process memory regime (heap size → execution-
    // memory page quanta), not per-entry plan changes — keep it out of
    // the headline count but report it loudly as its own flag
    val peakRegimeShift: Boolean = {
      val dirs = peakNames.flatMap { n =>
        for ((_, pp) <- priorSpread.get(n); a <- pp; b <- qPeakMemMb.get(n))
          yield math.signum(b - a)
      }
      val compared = results.count(r => priorSpread.get(r.name)
        .exists(_._2.isDefined) && qPeakMemMb.contains(r.name))
      compared > 0 && dirs.size * 2 >= compared &&
        dirs.nonEmpty && math.abs(dirs.sum) >= 0.8 * dirs.size
    }
    // peak SCALE distribution (adaptive_r20, the r19 verdict's #3): the
    // regime detector alone cannot be told apart, from the artifact,
    // from a genuine wholesale memory regression — a code change that
    // grew peak ~8× everywhere classifies identically. The median and
    // p25/p75 of the per-entry new/prior peak ratio make it
    // adjudicable: a cross-JVM page-quanta regime is a TIGHT ratio
    // cluster near a power of two with shuffle_changed 0; organic
    // growth spreads the quartiles and moves shuffle too. Adjudication
    // rule (PLANS r20): peak_regime_shift may be read as benign ONLY
    // when p25/p75 bracket the median within ~±25% AND
    // shuffle_changed == 0; otherwise treat as a memory regression.
    val peakScaleStats: Option[(Double, Double, Double)] = {
      val scales = peakNames.flatMap { n =>
        for ((_, pp) <- priorSpread.get(n); a <- pp;
             b <- qPeakMemMb.get(n) if a > 0) yield b / a
      }.sorted
      if (scales.isEmpty) None
      else Some((median(scales), scales((scales.size - 1) / 4),
        scales(3 * (scales.size - 1) / 4)))
    }
    // headline = deterministic shuffle moves, plus per-entry peak moves
    // only when they are NOT one wholesale regime shift
    val shapeNames =
      (shuffleNames ++ (if (peakRegimeShift) Nil else peakNames)).distinct
    val shapeNamesJson = shapeNames.sorted.take(16)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // order-independent digest of the FULL flagged set (r18's bounded
    // tail truncated the names at 16, hiding 147 flags): sha-256 over
    // the sorted union, first 16 hex chars
    def digest(names: Seq[String]): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.digest(names.sorted.mkString("\n").getBytes("UTF-8"))
        .take(8).map("%02x".format(_)).mkString
    }
    val shapeDigest = digest(shapeNames)
    // Host-speed calibration: a fixed single-thread LCG loop and the same
    // loop on every core. Round-4/5/6 adjudications kept re-litigating
    // "is this regression or a slow host" — these two denominators let a
    // reader NORMALIZE totals across rounds (calib_1t ≈ core speed;
    // calib_nt/calib_1t ≫ 1 ⇒ the box was oversubscribed during the run).
    def lcgLoop(): Double = {
      val t0 = System.nanoTime()
      var x = 12345L; var i = 0
      while (i < 200000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
      if (x == 42L) System.err.println("") // defeat dead-code elimination
      (System.nanoTime() - t0) / 1e9
    }
    lcgLoop() // JIT warm-up: untimed, so calib_1t measures the host not the compiler
    val calib1 = lcgLoop()
    val nThreads = Runtime.getRuntime.availableProcessors()
    val calibN = {
      val t0 = System.nanoTime()
      val threads = (1 to nThreads).map(_ => new Thread(() => { lcgLoop(); () }))
      threads.foreach(_.start()); threads.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    // Spark-shaped calibration probe (adaptive_r19, the r18 verdict's
    // #7): the CPU-bound LCG over-corrects scheduler-bound entries
    // (PLANS r18's own finding) — a fixed tiny Spark job (1M-row
    // groupBy over a cached frame, noop sink) exercises scheduler +
    // shuffle machinery + codegen the way the registry entries do.
    // Median of 3 timed runs after an untimed warm-up.
    val calibSpark: Double = {
      import org.apache.spark.sql.functions.sum
      val df = spark.range(0L, 1000000L, 1L)
        .selectExpr("id % 997 AS k", "id AS v")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      df.count() // materialize, untimed
      def once(): Double = {
        val t0 = System.nanoTime()
        df.groupBy("k").agg(sum("v"))
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warm-up, untimed
      val v = median(Seq(once(), once(), once()))
      df.unpersist()
      v
    }
    val priorCalibSpark: Option[Double] = priorText.flatMap(text =>
      "\"calib_spark\":(-?[0-9.]+)".r.findFirstMatchIn(text)
        .map(_.group(1).toDouble))
    // calib-normalized totals: the LCG-normalized value_norm (r18) and
    // the Spark-shaped value_norm_spark (r19) — PLANS adjudication
    // reads the Spark-shaped one once a prior artifact carries the probe
    val normFields = priorCalibNt.map { ref =>
      s""","calib_ref":${fmt(ref)},"value_norm":${
        fmt(total * ref / calibN)}"""
    }.getOrElse("") + priorCalibSpark.map { ref =>
      s""","calib_spark_ref":${fmt(ref)},"value_norm_spark":${
        fmt(total * ref / calibSpark)}"""
    }.getOrElse("")
    // scalar summary LAST so a bounded stdout tail capture lands on it
    val peakScaleFields = peakScaleStats.map { case (med, p25, p75) =>
      s""","peak_scale_med":${fmt(med)},"peak_scale_p25":${
        fmt(p25)},"peak_scale_p75":${fmt(p75)}"""
    }.getOrElse("")
    val line = s"""{"spread":$spread,"queries":$qs,"slow_tail":$slowTail,"metric":"total","unit":"sec","protocol":"adaptive_r20","max_reps":$maxReps,"budget_sec":$budgetSec,"bench_wall_sec":${fmt(benchWall)},"input_touch_sec":${fmt(inputTouch)},"failed":$failed,"cold_only":$degraded,"depth_violations":${depthViol.size},"depth_violation_names":$depthNames,"noise_suspect":${noiseSuspects.size},"shape_changed":${shapeNames.size},"shuffle_changed":${shuffleNames.size},"peak_changed":${peakNames.size},"peak_regime_shift":$peakRegimeShift$peakScaleFields,"shape_digest":"$shapeDigest","shape_changed_names":$shapeNamesJson,"prior_bench":${priorPath.fold("null")(p => "\"" + p + "\"")},"n_threads":$nThreads,"calib_1t":${fmt(calib1)},"calib_nt":${fmt(calibN)},"calib_spark":${fmt(calibSpark)}$normFields,"sf":"$sfDir","value":$total}"""
    println(line)
    // The driver's log capture keeps only a 2000-char stdout tail — far
    // smaller than a 216-query JSON line — so persist the artifact
    // whole: SPARK_GRAFT_BENCH_OUT (default target/bench.json), PLUS a
    // stable repo-root copy `bench_latest.json` the round can commit
    // (r19, the r18 verdict's #8: the judge needs the driver run's full
    // spread, not its 2000-char tail), PLUS the full shape-audit name
    // lists as a sidecar (`<out>.shapes.json`) so the audit is
    // adjudicable without re-deriving anything.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json")
    def writeFile(path: String, content: String): Unit =
      try {
        val p = java.nio.file.Paths.get(path)
        Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.writeString(p, content)
        ()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $path: ${e.getMessage}")
      }
    writeFile(outPath, line + "\n")
    writeFile("bench_latest.json", line + "\n")
    def namesJson(names: Seq[String]) =
      names.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val shapesLine =
      s"""{"protocol":"adaptive_r20","prior_bench":${
        priorPath.fold("null")(p => "\"" + p + "\"")},"shape_digest":"$shapeDigest","peak_regime_shift":$peakRegimeShift$peakScaleFields,"noise_suspect_names":${
        namesJson(noiseSuspects)},"shuffle_changed_names":${
        namesJson(shuffleNames)},"peak_changed_names":${
        namesJson(peakNames)},"shape_changed_names":${namesJson(shapeNames)}}"""
    writeFile(outPath + ".shapes.json", shapesLine + "\n")
    writeFile("bench_latest.json.shapes.json", shapesLine + "\n")
    spark.stop()
  }
}
