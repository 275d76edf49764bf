package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.{OpQuery, Tables}
import graft.OpQuery.sql
import graft.core.Envelope

/** Structured-Streaming surface (SURVEY.md §2.9). The reference IS a
  * streaming system in the small — one webhook per event, state in an
  * external ledger. Here: event-time windowed aggregation with watermarks,
  * session windows, and the EP1/EP2 pipelines run incrementally via
  * `foreachBatch` (reusing the batch DataFrame functions verbatim — the
  * reason they're pure DataFrame→DataFrame).
  *
  * The registry entries run the BATCH-equivalent plans (the oracle gate is
  * batch); StreamingSpec proves batch ≡ streaming on the same input.
  */
object Streams {

  /** Tumbling-window aggregation, usable both batch and streaming. */
  def tumblingAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double").as("sum_value"))
      .select(col("win.start").as("win_start"), col("event_type"), col("n"), col("sum_value"))

  /** Sliding-window aggregation (1 hour window, 30 min slide). */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("win.start").as("win_start"), col("event_type"), col("n"))

  /** Session windows: 5-minute inactivity gap per user. */
  def sessionAgg(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "5 minutes").as("win"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("win.start").as("session_start"), col("n_events"))

  /** Streaming form of [[tumblingAgg]] with a watermark: rows later than
    * 30 minutes behind the max seen event time are dropped.
    */
  def streamTumbling(stream: DataFrame): DataFrame =
    tumblingAgg(stream.withWatermark("ts", "30 minutes"))

  /** Stream-static enrichment (§2.9): the stream side joins a static
    * dimension, re-read per micro-batch in streaming mode. By default the
    * dim is broadcast, so the (unbounded) stream side never shuffles —
    * the right plan when the dim fits executors (the usual enrichment
    * contract). PRECONDITION of the default: the dim is bounded (a
    * lookup/reference table, not an SF-scaling fact) — pass
    * `broadcastDim = false` for a large dim and each micro-batch plans a
    * keyed shuffle join of the (bounded) batch against it instead.
    * Identical DataFrame code serves batch and streaming; StreamsSpec
    * ("stream-static join enriches…") proves the streaming form.
    */
  def staticEnrich(events: DataFrame, dim: DataFrame,
      broadcastDim: Boolean = true): DataFrame = {
    val d = if (broadcastDim) broadcast(dim) else dim
    events.join(d, events("user_id") === dim("c_custkey"), "left")
      .select(col("event_id"), col("user_id"), col("c_name"), col("c_mktsegment"))
  }

  /** Stream-stream interval join (§2.9): each view pairs with the same
    * user's clicks within the 12 hours after it. In streaming both
    * sides carry watermarks and the time bound lets Spark expire join
    * state (StreamsSpec "stream-stream join honors the event-time
    * interval bound" proves that form); in batch the same predicate plans
    * as an equi shuffle join on user_id with the range as residual — no
    * cartesian, no unbounded state.
    */
  def intervalPairJoin(views: DataFrame, clicks: DataFrame,
      joinType: String = "inner"): DataFrame = {
    val v = views.select(col("event_id").as("view_id"),
      col("user_id"), col("ts").as("vts"))
    val c = clicks.select(col("event_id").as("click_id"),
      col("user_id").as("c_user"), col("ts").as("cts"))
    v.join(c,
        col("user_id") === col("c_user") &&
          col("cts") > col("vts") &&
          col("cts") <= col("vts") + expr("INTERVAL 12 HOURS"),
        joinType)
      .select(col("view_id"), col("click_id"), col("user_id"))
  }

  /** First-wins ingestion dedup — exactly-once-ify an at-least-once
    * delivery stream at the SOURCE: keep the earliest delivery per
    * event_id ([[IdempotentMerge]] guards the SINK side; together they
    * bracket the reference's webhook-retry double-apply). Batch form:
    * one window keyed by event_id (a single keyed shuffle — scales).
    * Streaming form: [[streamDedup]] keeps watermark-bounded keyed
    * state via dropDuplicatesWithinWatermark, so a retry arriving
    * within the delay horizon is dropped and state for settled keys is
    * expired rather than growing with the stream (StreamsSpec proves
    * the drop).
    */
  /** Per-window event-type counts ranked to the top 3 — the "trending"
    * query. Batch and streaming share the COUNT stage ([[trendingCounts]]);
    * the rank runs post-aggregation (in streaming: over the update-mode
    * sink's latest rows, since a rank inside the stream would re-emit
    * whole windows on every update). Counts shuffle keyed on
    * (window, type) with map-side partial agg; the rank's window
    * partitions by win_start — never a global sort.
    */
  def trendingCounts(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("win_start"), col("event_type"), col("n"))

  def streamTrendingCounts(stream: DataFrame): DataFrame =
    trendingCounts(stream.withWatermark("ts", "1 day"))

  def rankTopK(counts: DataFrame, k: Int = 3): DataFrame = {
    val w = Window.partitionBy(col("win_start")).orderBy(col("n").desc, col("event_type"))
    counts.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Per-user funnel progress for the streaming form of q69: the first
    * qualifying timestamp of each hop, microseconds. */
  final case class FunnelState(t1: Option[Long], t2: Option[Long], t3: Option[Long]) {
    def stage: Long =
      if (t3.isDefined) 3L else if (t2.isDefined) 2L else if (t1.isDefined) 1L else 0L
  }
  final case class FunnelEvent(userId: Long, et: String, us: Long)

  /** One funnel hop: identical to q69's batch fold — each event can
    * advance at most the single hop its type matches, judged against the
    * PRE-event state, so batch and stream replay the same transitions.
    */
  def funnelAdvance(s: FunnelState, et: String, us: Long, winUs: Long): FunnelState =
    FunnelState(
      t1 = if (s.t1.isEmpty && et == "view") Some(us) else s.t1,
      t2 = if (s.t2.isEmpty && et == "click" &&
        s.t1.exists(t => us > t && us <= t + winUs)) Some(us) else s.t2,
      t3 = if (s.t3.isEmpty && et == "purchase" &&
        s.t2.exists(t => us > t && us <= t + winUs)) Some(us) else s.t3)

  /** Streaming funnel: q69 as `mapGroupsWithState` — per-user hop
    * timestamps live in Spark-managed keyed state; each micro-batch's
    * events are folded in event-time order on top of the carried state,
    * and the user's CURRENT stage is emitted (Update mode). State is 3
    * optional longs per user; with `idleTimeout = Some(d)`, users idle
    * for `d` of processing time expire (state bounded by the ACTIVE
    * user set — the setting any 100 TB deployment wants, since
    * NoTimeout state grows with lifetime user cardinality). On expiry
    * the user's last stage is re-emitted and the state removed; a user
    * re-appearing later restarts at stage 0 — that TTL boundary, and
    * the cross-batch out-of-order boundary (a hop event delivered in an
    * EARLIER micro-batch than its predecessor hop cannot advance the
    * funnel, while the batch fold's global sort would count it), are
    * the two documented divergences from q69 (StatefulSpec pins both).
    * Within a batch, events fold in event-time order; an out-of-order
    * hop older than a completed hop is ignored, matching the batch
    * fold's first-wins rule.
    *
    * `idleTimeout = None` (the default) keeps NoTimeout semantics. The
    * default is None for a HARNESS reason, not a scale one: with a
    * processing-time timeout, every trigger legitimately requires
    * another micro-batch (timers must be re-checked), so
    * `processAllAvailable()` — the standard test/backfill
    * synchronization point — never observes "no new data" and blocks
    * forever. Callers that opt in must synchronize on sink contents,
    * not on processAllAvailable.
    */
  def funnelStream(events: org.apache.spark.sql.Dataset[FunnelEvent],
      winUs: Long = 86400000000L,
      idleTimeout: Option[String] = None): org.apache.spark.sql.Dataset[(Long, Long)] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val mode = idleTimeout.fold(GroupStateTimeout.NoTimeout())(_ =>
      GroupStateTimeout.ProcessingTimeTimeout())
    events.groupByKey(_.userId)
      .mapGroupsWithState(mode) {
        (uid: Long, rows: Iterator[FunnelEvent], gs: GroupState[FunnelState]) =>
          if (gs.hasTimedOut) {
            val last = gs.getOption.map(_.stage).getOrElse(0L)
            gs.remove()
            (uid, last)
          } else {
            val init = gs.getOption.getOrElse(FunnelState(None, None, None))
            val fin = rows.toSeq.sortBy(e => (e.us, e.et))
              .foldLeft(init)((s, e) => funnelAdvance(s, e.et, e.us, winUs))
            gs.update(fin)
            idleTimeout.foreach(gs.setTimeoutDuration)
            (uid, fin.stage)
          }
      }
  }

  /** [[funnelStreamOrdered]]'s input row: a funnel event plus the
    * TimestampType column the watermark is declared on.
    */
  final case class TimedFunnelEvent(userId: Long, et: String, us: Long,
      ts: java.sql.Timestamp)

  /** [[funnelStreamOrdered]]'s keyed state: hop timestamps plus the
    * events still inside the lateness horizon, held until the watermark
    * proves nothing older can arrive.
    */
  final case class OrderedFunnelState(pending: Seq[FunnelEvent],
      t1: Option[Long], t2: Option[Long], t3: Option[Long])

  /** The ordered streaming funnel: [[funnelStream]] without the
    * cross-batch out-of-order divergence. Events BUFFER in keyed state
    * until the watermark passes their event time; only then do they fold
    * (in event-time order) into the hop state — so a click delivered two
    * micro-batches before its view still counts, and the final stages
    * equal the q69 batch fold for EVERY arrival order whose delay stays
    * within `lateness` (StatefulSpec proves equality under seeded
    * shuffled delivery). Events later than `lateness` fold on arrival,
    * best-effort — same first-wins rule, no retraction; that horizon is
    * the documented boundary, and it is the knob a deployment tunes
    * against its real delivery skew (st6's webhook-retry horizon).
    *
    * Scale shape: per-user state is the 3 hop longs plus ONLY the events
    *   inside the lateness horizon (bounded by per-user rate × lateness
    *   — the honest, tunable price of total ordering; NOT lifetime
    *   history). Event-time timers re-fold a user exactly when the
    *   watermark ripens their oldest held event — no polling batches, so
    *   `processAllAvailable` still terminates (unlike a processing-time
    *   timer, which demands a batch every trigger).
    */
  def funnelStreamOrdered(events: org.apache.spark.sql.Dataset[FunnelEvent],
      winUs: Long = 86400000000L,
      lateness: String = "1 hour"): org.apache.spark.sql.Dataset[(Long, Long)] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val timed = events
      .withColumn("ts", timestamp_micros(col("us")))
      .withWatermark("ts", lateness)
      .as[TimedFunnelEvent]
    timed.groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[TimedFunnelEvent], gs: GroupState[OrderedFunnelState]) =>
          val st0 = gs.getOption.getOrElse(OrderedFunnelState(Nil, None, None, None))
          val incoming = rows.map(e => FunnelEvent(uid, e.et, e.us)).toList
          val wmUs = gs.getCurrentWatermarkMs() * 1000L
          // one sorted pass: everything the watermark has sealed folds
          // now (st0.pending is each earlier batch's survivors, so the
          // concatenation re-sorts the full horizon, not the whole past)
          val (ripe, hold) = (st0.pending ++ incoming)
            .sortBy(e => (e.us, e.et))
            .partition(_.us <= wmUs)
          val fs = ripe.foldLeft(FunnelState(st0.t1, st0.t2, st0.t3))(
            (s, e) => funnelAdvance(s, e.et, e.us, winUs))
          gs.update(OrderedFunnelState(hold, fs.t1, fs.t2, fs.t3))
          if (hold.nonEmpty) {
            // wake when the oldest held event ripens (timestamps must
            // sit strictly beyond the current watermark to be legal)
            gs.setTimeoutTimestamp(
              math.max(hold.iterator.map(_.us).min / 1000L,
                gs.getCurrentWatermarkMs() + 1))
          }
          Iterator.single((uid, fs.stage))
      }
  }

  def firstDelivery(delivered: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_id")).orderBy(col("ts"))
    delivered.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Streaming form of [[firstDelivery]] — see its scaladoc. */
  def streamDedup(stream: DataFrame, watermark: String = "30 minutes"): DataFrame =
    stream.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Run the EP2 process-movement pipeline incrementally: each micro-batch
    * of webhook JSON merges its counter deltas into the keyed state via
    * `foreachBatch`, guarded by [[IdempotentMerge]] — the merge is keyed
    * by batchId, so a replayed micro-batch (foreachBatch is at-least-once
    * on restart) is a no-op rather than a double-apply. With a
    * `checkpointLocation` on the sink config this is exactly-once state
    * maintenance; the reference double-applies on webhook retries (no
    * idempotency key at all).
    *
    * @param getState  () => current inventory snapshot
    * @param setState  merged inventory writer (e.g. Delta/parquet upsert in
    *                  prod; in-memory swap in tests). The ledger carries a
    *                  `__max_applied_batch` high-watermark column (see
    *                  [[IdempotentMerge.BatchCol]]).
    * @param sink      per-app credentials + reader options (backpressure:
    *                  `maxFilesPerTrigger`) + checkpoint location
    */
  def runProcessMovementStream(
      spark: SparkSession,
      inputDir: String,
      getState: () => DataFrame,
      setState: DataFrame => Unit,
      trigger: Trigger = Trigger.AvailableNow(),
      sink: SinkConfig = SinkConfig()): StreamingQuery = {
    val parsed = readWebhooks(spark, inputDir, sink, Envelope.processWebhookSchema)
    startForeachBatch(parsed, trigger, sink) { (batch, batchId) =>
      val merged = IdempotentMerge(getState(), batchId) { state =>
        graft.pipelines.ProcessMovement(batch, state).inventory
      }
      setState(merged)
    }
  }

  /** EP1 streaming form: order-approval webhooks merge stock transfers into
    * the inventory ledger per micro-batch (same contract — and the same
    * batchId idempotency guard — as [[runProcessMovementStream]]).
    */
  def runOrderApprovalStream(
      spark: SparkSession,
      inputDir: String,
      getState: () => DataFrame,
      setState: DataFrame => Unit,
      trigger: Trigger = Trigger.AvailableNow(),
      sink: SinkConfig = SinkConfig()): StreamingQuery = {
    val parsed = readWebhooks(spark, inputDir, sink, Envelope.orderWebhookSchema)
    startForeachBatch(parsed, trigger, sink) { (batch, batchId) =>
      val merged = IdempotentMerge(getState(), batchId) { state =>
        graft.pipelines.OrderApproval(batch, state).inventory
      }
      setState(merged)
    }
  }

  /** Webhook-dir streaming source: one JSON body per line, parsed against
    * the given envelope schema. Reader options from the sink config apply
    * here — `maxFilesPerTrigger` bounds admission per micro-batch (§2.9
    * backpressure, the analogue of the reference's 5 MB body cap).
    */
  private def readWebhooks(spark: SparkSession, inputDir: String,
      sink: SinkConfig, schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val reader = sink.readerOptions.foldLeft(spark.readStream.format("text")) {
      case (r, (k, v)) => r.option(k, v)
    }
    reader.load(inputDir)                  // one webhook JSON per line
      .withColumnRenamed("value", "body")
      .withColumn("record", from_json(col("body"), schema).getField("record"))
      // content hash as event id (monotonically_increasing_id is not
      // available on streaming DataFrames); the pipelines' deltas don't
      // depend on it — it only labels dead-letter rows
      .withColumn("event_id", xxhash64(col("body")))
  }

  private def startForeachBatch(parsed: DataFrame, trigger: Trigger,
      sink: SinkConfig)(body: (DataFrame, Long) => Unit): StreamingQuery = {
    val writer = parsed.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) => body(batch, batchId) }
      .trigger(trigger)
    sink.checkpointLocation
      .fold(writer)(p => writer.option("checkpointLocation", p))
      .start()
  }

  /** Scan-side Gopher verdict for the streaming quality router: t23's
    * four rules as ONE stateless projection per doc — no explode, no
    * aggregation — so it runs in a streaming plan in append mode with no
    * watermark or state. The per-row cost of the dominance rule is
    * O(distinct·n) HOF work, the right side of the trade for a streaming
    * router whose doc sizes are bounded by the ingestion contract; a
    * batch sweep over unbounded docs takes t23's aggregation form
    * instead. Semantics are pinned to t23: the st8 oracle recomputes the
    * verdict via the aggregation CTEs, and the spec cross-checks `route`
    * against [[graft.llm.TextStats.gopherRules]]' `keep` on the corpus.
    * `reason` is the FIRST failing rule in the fixed order
    * ntok → wlen → stop → dom (null on pass) — dead-letter taxonomy
    * needs one deterministic label, not four flags.
    */
  def qualityRoute(docs: DataFrame): DataFrame = {
    val (n, reason) = qualityCols(col("text"))
    docs.select(col("doc_id"), n.as("n_tok"), reason.as("reason"))
      .withColumn("route", when(col("reason").isNull, "pass").otherwise("fail"))
  }

  /** (n_tok, first-failing-reason) of the st8 battery over a text
    * column — the ONE definition shared by [[qualityRoute]], the
    * composed front door, and the `graft_quality_route` SQL function
    * (r19, the r18 verdict's #6): the SQL gate must be the DataFrame
    * gate verbatim, not a re-derivation that can drift.
    */
  private[graft] def qualityCols(text: Column): (Column, Column) = {
    // r21 (guide §1.2 step 2): the four battery counters ride ONE
    // codegen'd single-pass expression instead of the higher-order-
    // function composition (HOFs are CodegenFallback — interpreted
    // lambda dispatch per token — and the max-multiplicity term was
    // O(n_tok · n_distinct) per doc, quadratic on the long docs the
    // battery's own ntok bound admits). TokenBatterySpec property-pins
    // bit-equality against the original composition; the reason chain
    // below is unchanged, so the route verdicts are identical — and the
    // SQL gate (graft_quality_route) shares THESE column defs, so both
    // surfaces move together, drift-free as before.
    val b = graft.functions.TokenBattery.battery(text,
      graft.llm.TextStats.enStopwords)
    val n = b.getField("n_tok")
    val chars = b.getField("chars")
    val stop = b.getField("stop")
    val mx = b.getField("mx")
    val reason = when(!n.between(50, 100000), "ntok")
      .when(chars < n * 3 || chars > n * 10, "wlen")
      .when(stop * 100 < n, "stop")
      .when(mx * 10 > n, "dom")
    (n, reason)
  }

  /** Ingestion-time TOKEN-BUDGET gate metered through a LEARNED BPE
    * table (r15 — the r14 verdict's #7: st8 routes on quality, this
    * routes on what the doc will COST the trainer). Stateless
    * projection like [[qualityRoute]] — the trained merge table is
    * plan-shippable state (a codegen'd [[graft.functions.BpeCount]]
    * with the table riding addReferenceObj), so the same projection
    * runs unchanged in a streaming plan: train once batch-side
    * ([[graft.llm.TextStats.bpeLearnMerges]]), ship the K-pair model
    * with the query, meter every arriving doc scan-side. Rules in
    * fixed order (first failure labels the row): `short` (< minTok —
    * not worth a training slot), `long` (> maxTok — would dominate a
    * pack), `blowup` (n_bpe > 3·n_ws — the table barely covers the
    * doc, i.e. off-distribution script/garbage that would explode the
    * char-fallback budget). All-integer comparisons, so the verdict is
    * engine-exact and the st13 oracle replays it in full.
    */
  def bpeBudgetRoute(docs: DataFrame, merges: Seq[(String, String)],
      minTok: Long = 64L, maxTok: Long = 4096L): DataFrame =
    docs
      .select(col("doc_id"),
        // n_ws deliberately counts via size(split(...)) — on a whitespace-only
        // doc split yields [''] so n_ws = 1 where a tokenizer walk says 0. The
        // st13 oracle replays THIS convention (its bdoc CTE counts the ['']
        // row); a future unification onto the walk must change both sides or
        // the hashes drift.
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_ws"),
        graft.functions.Bpe.count(col("text"), merges).as("n_bpe"))
      .select(col("doc_id"), col("n_ws"), col("n_bpe"),
        budgetReason(col("n_bpe"), col("n_ws"), minTok, maxTok).as("reason"))
      .withColumn("route", when(col("reason").isNull, "pass").otherwise("fail"))

  /** First-failing budget reason over metered counts — shared by
    * [[bpeBudgetRoute]] and the `graft_budget_route` SQL function
    * (r19): `short`/`long`/`blowup` in the fixed st13 order.
    */
  private[graft] def budgetReason(nBpe: Column, nWs: Column,
      minTok: Long, maxTok: Long): Column =
    when(nBpe < minTok, "short")
      .when(nBpe > maxTok, "long")
      .when(nBpe > lit(3L) * nWs, "blowup")

  /** [[bpeBudgetRoute]] metered through a PERSISTED model artifact (r16
    * — the deploy path): load the serving version's merge table from a
    * [[graft.llm.BpeArtifact]] root and ship it into the (possibly
    * streaming) plan. The load is one driver-side bounded read (K merge
    * pairs) at plan-build time; the per-row metering is the same
    * codegen'd projection. A crawl restarts its gate query to pick up a
    * newly published model version — the pointer flip makes that an
    * atomic old-table/new-table switch, never a torn mix.
    */
  def bpeBudgetRouteFromArtifact(docs: DataFrame, modelRoot: String,
      minTok: Long = 64L, maxTok: Long = 4096L): DataFrame =
    bpeBudgetRoute(docs,
      graft.llm.BpeArtifact.loadPairs(docs.sparkSession, modelRoot),
      minTok, maxTok)

  /** Seed the st9 artifact ledger from the cleaned snapshot: per-doc
    * index artifacts plus `__seed = true`. The flag is PERSISTED because
    * the incremental kernel's bucket cap ranks members in arrival order
    * (seed ledger first, then stream docs by doc_id) — see
    * [[graft.llm.Dedup.incrementalVerdictsFromArtifacts]]'s invariance
    * proof; dropping the distinction on read would make ranks drift as
    * the ledger grows and silently flip verdicts in over-full buckets.
    */
  def seedIncrementalLedger(snapshot: DataFrame, ledgerDir: String): Unit =
    graft.llm.Dedup.dedupIndexArtifacts(snapshot)
      .withColumn("__seed", lit(true))
      .write.mode("overwrite").parquet(ledgerDir)

  /** Read the st9 ledger replay-safely: a crashed-and-replayed tick may
    * have appended its artifacts twice (foreachBatch is at-least-once),
    * and duplicate rows would consume bucket-cap slots and shift later
    * ranks — so the read dedups on doc_id (duplicate appends are
    * byte-identical rows, any survivor is correct). `mergeSchema` +
    * coalesce tolerates a pre-`__seed` ledger layout (those rows are by
    * construction the seed).
    */
  private[streaming] def readIncrementalLedger(spark: SparkSession,
      ledgerDir: String): DataFrame = {
    recoverSwap(spark, ledgerDir)
    val raw = spark.read.option("mergeSchema", "true").parquet(ledgerDir)
    val flagged =
      if (raw.columns.contains("__seed"))
        raw.withColumn("__seed", coalesce(col("__seed"), lit(true)))
      else raw.withColumn("__seed", lit(true))
    flagged.dropDuplicates("doc_id")
  }

  /** Rewrite the st9 ledger as one compacted file set. A continuous
    * crawl appends one parquet file set per tick forever; this folds
    * them into `ceil(rows / rowsPerFile)` files. Pure rewrite — verdicts
    * are a function of ledger CONTENT (doc_id-deduped rows + seed
    * flags), which is preserved, so the 1-batch ≡ N-batch law continues
    * to hold across a compaction (StreamsSpec proves it). The swap is
    * crash-SAFE (not atomic): [[swapIntoPlace]] parks the live dir at
    * `__old` before renaming the rewrite in, so no crash point loses
    * data — a crash between the two renames is healed by
    * [[recoverSwap]] on the next read. A production deployment on an
    * object store without atomic rename uses a versioned-pointer flip
    * ([[ParquetLedger]]'s pattern) or a table format with atomic commit.
    */
  def compactIncrementalLedger(spark: SparkSession, ledgerDir: String,
      rowsPerFile: Long = 4000000L): Unit =
    rewriteLedger(spark, ledgerDir, readIncrementalLedger(spark, ledgerDir),
      rowsPerFile)

  /** Right-to-be-forgotten cascade into the st9 artifact ledger: drop
    * the tombstoned docs' artifact rows and compact what remains. The
    * ledger never holds raw text, but band keys and shingle hashes are
    * doc-DERIVED artifacts, so a deletion request must reach them too —
    * `q80_forgotten_purge` rewrites the serving datasets, this rewrites
    * the INDEX. Post-purge semantics are the documented RTBF trade:
    * verdicts already emitted are history and unchanged; a FUTURE dup
    * of a purged doc is no longer caught by it (the doc is forgotten —
    * that is the point, not a defect), and the rank-cap slots it held
    * free up for later arrivals.
    */
  def purgeIncrementalLedger(spark: SparkSession, ledgerDir: String,
      tombIds: DataFrame, rowsPerFile: Long = 4000000L): Unit = {
    // no broadcast HINT on the tombstones: deletion campaigns (the q80
    // fixture's doc_id % 97 shape) are corpus-proportional — let the
    // size threshold / AQE decide (the purgeTombstones rule)
    val tomb = tombIds.select(tombIds.columns.head).toDF("doc_id").distinct()
    rewriteLedger(spark, ledgerDir,
      readIncrementalLedger(spark, ledgerDir)
        .join(tomb, Seq("doc_id"), "left_anti"),
      rowsPerFile)
  }

  /** Crash-safe directory swap/heal — shared via [[graft.core.DirSwap]]
    * (see its scaladoc for the crash-window analysis).
    */
  private def swapIntoPlace(fs: org.apache.hadoop.fs.FileSystem,
      tmp: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Unit =
    graft.core.DirSwap.swapIntoPlace(fs, tmp, dst)

  private def recoverSwap(spark: SparkSession, dir: String): Unit =
    graft.core.DirSwap.recover(spark, dir)

  /** Shared rewrite-and-swap for compaction/purge — see [[swapIntoPlace]]
    * for the crash-safety contract.
    */
  private def rewriteLedger(spark: SparkSession, ledgerDir: String,
      content: DataFrame, rowsPerFile: Long): Unit = {
    val rows = content.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nFiles = math.max(1L, (rows.count() + rowsPerFile - 1) / rowsPerFile)
      val tmp = new org.apache.hadoop.fs.Path(ledgerDir + "__compacting")
      val dst = new org.apache.hadoop.fs.Path(ledgerDir)
      rows.repartition(nFiles.toInt)
        .write.mode("overwrite").parquet(tmp.toString)
      val fs = dst.getFileSystem(spark.sessionState.newHadoopConf())
      swapIntoPlace(fs, tmp, dst)
    } finally { rows.unpersist(); () }
  }

  /** Streaming form of `st9_incremental_neardup`: a parquet stream of new
    * docs, one foreachBatch tick per micro-batch. Each tick (a) computes
    * the batch's index artifacts ONCE (hash + band keys + shingle set —
    * persisted across its three uses), (b) judges the batch against the
    * ledger artifacts ∪ the batch itself (the earlier-doc_id rule covers
    * intra-batch dups), (c) appends verdicts to `outDir` and the batch's
    * artifacts to `ledgerDir`. The ledger never holds raw text — per-doc
    * O(1) artifact columns, mergeable by append, the continuous-crawl
    * index. Seed `ledgerDir` with [[seedIncrementalLedger]] before
    * starting.
    *
    * Exactly-once: each tick is guarded by a per-batchId marker file
    * (written LAST, the IdempotentMerge posture) in a sibling
    * `<ledgerDir>_applied` directory — a replayed micro-batch whose
    * marker exists is a no-op, so verdicts and ledger rows are not
    * double-appended on restart (StreamsSpec replays a tick and proves
    * both unchanged). A crash INSIDE a tick (after some appends, before
    * the marker) replays the whole tick; the ledger read dedups the
    * re-appended artifacts on doc_id, and the verdict sink may then hold
    * duplicate IDENTICAL rows — consumers read it with dropDuplicates
    * (verdict VALUES can never diverge, only repeat).
    *
    * `compactEvery = Some(n)` compacts the ledger after every n-th tick
    * ([[compactIncrementalLedger]]) — the small-file lifecycle knob a
    * long-running crawl needs; when the caller passes None the cadence
    * falls back to the session-level
    * `spark.graft.ledger.compact.every` ([[graft.GraftConfig]]).
    */
  def runIncrementalNearDupStream(spark: SparkSession, srcDir: String,
      ledgerDir: String, outDir: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      compactEvery: Option[Int] = None): StreamingQuery = {
    val compactCadence =
      compactEvery.orElse(graft.GraftConfig.ledgerCompactEvery(spark))
    val schema = spark.read.parquet(srcDir).schema
    val reader = maxFilesPerTrigger.foldLeft(
      spark.readStream.schema(schema).format("parquet")) {
      (r, n) => r.option("maxFilesPerTrigger", n)
    }
    reader.load(srcDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val marker = new org.apache.hadoop.fs.Path(
          s"${ledgerDir}_applied/batch-$batchId")
        val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
        if (!fs.exists(marker)) {
          val bArt = graft.llm.Dedup.dedupIndexArtifacts(batch)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            // replay-exactness (r17 ADVICE): a batch that crashed AFTER its
            // ledger append re-reads a ledger already holding its own
            // artifacts — without the anti-join, idx would hold each batch
            // doc TWICE, the duplicates would consume two rank slots in the
            // arrival-order bucket cap, and over-full buckets could flip
            // verdicts relative to the first attempt's already-appended
            // rows. Anti-joining the batch out restores the first attempt's
            // exact idx (non-crash ticks are unaffected: their docs are not
            // in the ledger yet), keeping the byte-identical-replay claim
            // true in EVERY crash window, not just pre-ledger ones.
            val ledger = readIncrementalLedger(spark, ledgerDir)
              .join(bArt.select(col("doc_id")), Seq("doc_id"), "left_anti")
            val idx = ledger.withColumn("__ledger", col("__seed")).drop("__seed")
              .unionByName(bArt.withColumn("__ledger", lit(false)))
            graft.llm.Dedup.incrementalVerdictsFromArtifacts(bArt, idx)
              .write.mode("append").parquet(outDir)
            bArt.withColumn("__seed", lit(false))
              .write.mode("append").parquet(ledgerDir)
            fs.mkdirs(marker.getParent)
            fs.create(marker, true).close()
            if (compactCadence.exists(n => (batchId + 1) % n == 0))
              compactIncrementalLedger(spark, ledgerDir)
          } finally { bArt.unpersist(); () }
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Streaming form of `st11_incremental_closure`: st9's growing-index
    * machinery feeding PAIRS into the durable closure-label store
    * instead of verdicts into a sink — each tick judges the micro-batch
    * against the artifact ledger ∪ itself, folds the resulting near-dup
    * edges into `labelsDir` ([[graft.llm.Dedup.mergeClosureLabels]] —
    * batch-bounded component merge, no corpus-wide recompute), and
    * appends the batch's artifacts to the ledger. Exactly-once: the
    * marker guard skips replayed batches, and UNLIKE the manifest the
    * fold is also idempotent by math (labels are a fixpoint — a
    * replayed batch's edges collapse to self-loops), so no crash
    * ordering can corrupt the store. Seed `ledgerDir` with
    * [[seedIncrementalLedger]]; read labels with
    * [[graft.llm.Dedup.readClosureLabels]].
    */
  def runIncrementalClosureStream(spark: SparkSession, srcDir: String,
      ledgerDir: String, labelsDir: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val schema = spark.read.parquet(srcDir).schema
    val reader = maxFilesPerTrigger.foldLeft(
      spark.readStream.schema(schema).format("parquet")) {
      (r, n) => r.option("maxFilesPerTrigger", n)
    }
    reader.load(srcDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val marker = new org.apache.hadoop.fs.Path(
          s"${labelsDir}_applied/batch-$batchId")
        val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
        if (!fs.exists(marker)) {
          val bArt = graft.llm.Dedup.dedupIndexArtifacts(batch)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            // anti-join for replay-exactness in the post-ledger-append
            // crash window — see runIncrementalNearDupStream (the closure
            // fold is idempotent by math, but duplicate idx rows would
            // still shift bucket-cap ranks and change which PAIRS emit)
            val ledger = readIncrementalLedger(spark, ledgerDir)
              .join(bArt.select(col("doc_id")), Seq("doc_id"), "left_anti")
            val idx = ledger.withColumn("__ledger", col("__seed")).drop("__seed")
              .unionByName(bArt.withColumn("__ledger", lit(false)))
            graft.llm.Dedup.mergeClosureLabels(spark, labelsDir,
              graft.llm.Dedup.incrementalNearDupPairs(bArt, idx))
            bArt.withColumn("__seed", lit(false))
              .write.mode("append").parquet(ledgerDir)
            fs.mkdirs(marker.getParent)
            fs.create(marker, true).close()
            ()
          } finally { bArt.unpersist(); () }
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** The INGESTION FRONT DOOR as one composed stream (r16 verdict #5):
    * every arriving (doc_id, source, text) micro-batch flows, under ONE
    * foreachBatch and ONE checkpoint, through
    *  1. the tokenizer LIFECYCLE tick ([[BpeLifecycle.tick]] — the
    *     corpus histogram records the batch; drift retrains and
    *     atomically flips the served table),
    *  2. the st8 QUALITY gate ([[qualityRoute]]),
    *  3. the st13 TOKEN-BUDGET gate metered through the
    *     lifecycle-SERVED model ([[bpeBudgetRouteFromArtifact]] against
    *     `<lcRoot>/model` — each batch prices under whatever version
    *     the lifecycle's atomic pointer names when it arrives),
    *  4. the st9 GROWING-INDEX near-dup gate (survivors judged against
    *     the artifact ledger ∪ themselves, then appended to it).
    * Rejects land in `deadDir` as (batch_id, doc_id, gate, reason);
    * survivors' verdicts land in `verdictsDir` as
    * (batch_id, doc_id, verdict). Seed `ledgerDir` with
    * [[seedIncrementalLedger]] first (an empty snapshot is fine) and
    * [[BpeLifecycle.init]] `lcRoot` — the st9/st15 conventions.
    *
    * Failure/replay model — the piece the composition proves: the
    * stores keep their OWN idempotence anchors under the shared
    * checkpoint. The lifecycle tick is guarded by its applied set +
    * absorbs manifest and COMMITS FIRST, so a crashed batch's replay
    * re-prices under the same served version its first attempt used
    * (later batches cannot have run — stream order) and a pending
    * purge/retrain state heals before any gate reads the model. The
    * gate/sink writes are guarded by a per-batch marker written LAST:
    * a replayed COMPLETED batch skips them whole, and a batch that
    * crashed mid-write replays its appends byte-identically — readers
    * dedupe on (batch_id, doc_id), the [[readIncrementalLedger]]
    * convention ([[readComposedVerdicts]]/[[readComposedDead]]).
    *
    * 100 TB shape: every stage is per-batch work against bounded state
    * — the lifecycle's vocabulary-sized histograms, the budget gate's
    * plan-shipped merge table, the near-dup kernel's rank-capped
    * buckets over the parquet ledger. Nothing rescans the corpus.
    */
  def runComposedGateStream(spark: SparkSession, srcDir: String,
      lcRoot: String, ledgerDir: String, verdictsDir: String,
      deadDir: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      minTok: Long = 64L, maxTok: Long = 4096L,
      driftPct: Option[Int] = None): StreamingQuery =
    runComposedGateStreamImpl(spark, srcDir, lcRoot, ledgerDir, verdictsDir,
      deadDir, checkpointDir, maxFilesPerTrigger, minTok, maxTok, driftPct,
      (_, _) => ())

  private[streaming] def runComposedGateStreamImpl(spark: SparkSession,
      srcDir: String, lcRoot: String, ledgerDir: String, verdictsDir: String,
      deadDir: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int], minTok: Long, maxTok: Long,
      driftPct: Option[Int],
      failpoint: (Long, String) => Unit): StreamingQuery = {
    val schema = spark.read.parquet(srcDir).schema
    val reader = maxFilesPerTrigger.foldLeft(
      spark.readStream.schema(schema).format("parquet")) {
      (r, n) => r.option("maxFilesPerTrigger", n)
    }
    reader.load(srcDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        composedGateTick(spark, batch, batchId, lcRoot, ledgerDir,
          verdictsDir, deadDir, checkpointDir, minTok, maxTok, driftPct,
          failpoint)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  private def composedGateTick(spark: SparkSession, batch: DataFrame,
      batchId: Long, lcRoot: String, ledgerDir: String, verdictsDir: String,
      deadDir: String, checkpointDir: String, minTok: Long, maxTok: Long,
      driftPct: Option[Int],
      failpoint: (Long, String) => Unit): Unit = {
    // the lifecycle FIRST: its own guards make it idempotent, and its
    // commit fixes the served version every later stage prices with
    BpeLifecycle.bindStreamIncarnation(spark, lcRoot, checkpointDir)
    // bind the SINK side too (r17 ADVICE): the verdicts/dead sinks and
    // their _applied marker dir anchor exactly-once on batch ids, which
    // restart at 0 under a new incarnation — reused sink dirs would let
    // stale batch-N markers silently swallow genuinely new batches and
    // the (batch_id, doc_id) reader dedupe conflate old and new rows.
    // One token on the verdicts root guards all three (they live and
    // die together under this stream); [[rebindComposedSinks]] is the
    // operator's explicit same-source-replay declaration.
    bindStreamIncarnation(spark, verdictsDir, checkpointDir,
      (old, sid) =>
        s"composed-gate sinks at $verdictsDir are bound to stream " +
          s"incarnation $old but this query is $sid — its batch ids " +
          "restart at 0, so existing batch-N markers would silently " +
          "skip new batches and readers would conflate rows across " +
          "incarnations. If this stream REPLAYS the same source, call " +
          "Streams.rebindComposedSinks to adopt the new incarnation; " +
          "if it ingests NEW data, use fresh sink directories.")
    // complete any pending composed forget before this tick reads or
    // moves the stores (r18, the tick-finalizes-pending-purges posture
    // one level up — a crash mid-forget must not leave a partially-
    // forgotten doc behind a live ingestion stream). No pending request
    // = one existence probe.
    finalizePendingForget(spark,
      FrontDoorStores(lcRoot, ledgerDir, verdictsDir, deadDir))
    BpeLifecycle.tick(spark, lcRoot, batch, batchId, driftPct)
    failpoint(batchId, "post-lifecycle")
    val marker = new org.apache.hadoop.fs.Path(
      s"${verdictsDir}_applied/batch-$batchId")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(marker)) {
      val pinned = batch.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val quality = qualityRoute(pinned).persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val qualPass = pinned.join(
          quality.filter(col("route") === "pass").select(col("doc_id")),
          Seq("doc_id"), "left_semi")
        val budget = bpeBudgetRouteFromArtifact(qualPass,
          BpeLifecycle.modelRoot(lcRoot), minTok, maxTok).persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          quality.filter(col("route") === "fail")
            .select(col("doc_id"), lit("quality").as("gate"), col("reason"))
            .unionByName(budget.filter(col("route") === "fail")
              .select(col("doc_id"), lit("budget").as("gate"), col("reason")))
            .select(lit(batchId).as("batch_id"), col("doc_id"),
              col("gate"), col("reason"))
            .write.mode("append").parquet(deadDir)
          failpoint(batchId, "post-dead")
          val survivors = qualPass.join(
            budget.filter(col("route") === "pass").select(col("doc_id")),
            Seq("doc_id"), "left_semi")
          val bArt = graft.llm.Dedup.dedupIndexArtifacts(survivors).persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            // anti-join for replay-exactness in the post-ledger-append
            // crash window — see runIncrementalNearDupStream (r17 ADVICE:
            // without it a replay of that window holds each batch doc
            // twice in idx and over-full buckets can flip verdicts
            // relative to the already-appended first attempt)
            val ledger = readIncrementalLedger(spark, ledgerDir)
              .join(bArt.select(col("doc_id")), Seq("doc_id"), "left_anti")
            val idx = ledger.withColumn("__ledger", col("__seed"))
              .drop("__seed")
              .unionByName(bArt.withColumn("__ledger", lit(false)))
            graft.llm.Dedup.incrementalVerdictsFromArtifacts(bArt, idx)
              .select(lit(batchId).as("batch_id"), col("doc_id"),
                col("verdict"))
              .write.mode("append").parquet(verdictsDir)
            failpoint(batchId, "post-verdicts")
            bArt.withColumn("__seed", lit(false))
              .write.mode("append").parquet(ledgerDir)
            failpoint(batchId, "post-ledger")
            fs.mkdirs(marker.getParent)
            fs.create(marker, true).close()
            // honor the ledger small-file knob HERE too (r19 — the
            // long-arc soak exposed that only the standalone st9 stream
            // compacted): a continuous crawl through the composed front
            // door otherwise appends one file set per tick forever.
            // After the marker, like st9: compaction is maintenance of
            // committed state, and a crash mid-compaction replays as a
            // completed batch + a crash-safe ledger swap heal.
            if (graft.GraftConfig.ledgerCompactEvery(spark)
                .exists(n => (batchId + 1) % n == 0))
              compactIncrementalLedger(spark, ledgerDir)
          } finally { bArt.unpersist(); () }
        } finally { budget.unpersist(); () }
      } finally { quality.unpersist(); pinned.unpersist(); () }
    }
  }

  /** Replay-safe readers for [[runComposedGateStream]]'s sinks: a batch
    * that crashed between an append and its marker replays the append
    * byte-identically, so any (batch_id, doc_id) survivor is correct —
    * the [[readIncrementalLedger]] convention, including its swap-heal:
    * a [[forgetDocs]] sink rewrite that crashed between DirSwap's two
    * renames leaves the sink parked at `__old`, and a reader must
    * restore it rather than fail until the forget resumes (r18 — the
    * ledger reader already did this; the sinks gained rewrite-and-swap
    * maintenance with the composed forget, so they inherit the heal).
    */
  def readComposedVerdicts(spark: SparkSession, verdictsDir: String): DataFrame =
    readComposedSink(spark, verdictsDir,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("batch_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("verdict",
          org.apache.spark.sql.types.StringType))))

  def readComposedDead(spark: SparkSession, deadDir: String): DataFrame =
    readComposedSink(spark, deadDir,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("batch_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("gate",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("reason",
          org.apache.spark.sql.types.StringType))))

  /** Shared composed-sink read: marker-aware heal, then an empty
    * canonical-schema frame when the sink holds no data yet (absent
    * dir, or only the tick-start incarnation token — the r18 ADVICE
    * 'unable to infer schema' wedge). The heal respects a LIVE purge:
    * while `<dir>__purging` stands it waits for the swap to land
    * instead of restoring the parked dir under the writer
    * (GraftConfig.sinkHealWaitMs bounds the wait — past it the marker
    * is a crashed purge's leftover, and healing is correct: the
    * resumed forget re-runs the rewrite idempotently).
    */
  private def readComposedSink(spark: SparkSession, dir: String,
      emptySchema: org.apache.spark.sql.types.StructType): DataFrame = {
    val dst = new org.apache.hadoop.fs.Path(dir)
    val fs = dst.getFileSystem(spark.sessionState.newHadoopConf())
    val marker = purgeMarkerPath(dir)
    if (!fs.exists(dst) && fs.exists(marker)) {
      val deadline = System.currentTimeMillis() +
        graft.GraftConfig.sinkHealWaitMs(spark)
      while (!fs.exists(dst) && fs.exists(marker) &&
          System.currentTimeMillis() < deadline) Thread.sleep(25)
      if (!fs.exists(dst)) { fs.delete(marker, false); () } // stale: crashed purge
    }
    recoverSwap(spark, dir)
    if (!fs.exists(dst) || !hasDataFiles(fs, dst))
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), emptySchema)
    else
      spark.read.parquet(dir).dropDuplicates(Seq("batch_id", "doc_id"))
  }

  /** Operator acknowledgment that the next [[runComposedGateStream]]
    * incarnation against these sinks replays the same source prefix
    * (checkpoint lost or relocated): drops the sink-side incarnation
    * binding so the next query adopts them. Batch markers are KEPT —
    * under a true replay the ids name the same batches, so the skip
    * set stays valid. The lifecycle root has its own binding
    * ([[BpeLifecycle.rebindStream]]); both must be rebound for a
    * relocated checkpoint.
    */
  def rebindComposedSinks(spark: SparkSession, verdictsDir: String): Unit =
    dropStreamBinding(spark, verdictsDir)

  /** The four durable stores one composed front-door stream writes —
    * the unit [[forgetDocs]] sweeps as ONE operation.
    */
  case class FrontDoorStores(lcRoot: String, ledgerDir: String,
      verdictsDir: String, deadDir: String)

  /** Optional FIFTH store for [[forgetDocs]]: the st11 closure-label
    * store of a deployment running [[runIncrementalClosureStream]]
    * beside the front door. `corpusDir` is the parquet path of the
    * corpus AS INGESTED (the stream source) — the re-closure needs the
    * surviving docs' text, and a PATH (unlike a DataFrame) can ride the
    * persisted intent so the next-tick finalize resumes this leg from
    * disk alone; the post-purge corpus is corpusDir anti-joined with
    * the persisted tombstones. Paths must not contain newlines (the
    * intent is a line file).
    */
  case class LabelStore(labelsDir: String, corpusDir: String)

  /** COMPOSED right-to-be-forgotten across the whole front door (r17
    * verdict #1). Ingestion composed in r17 (one stream, four durable
    * surfaces); erasure was still four separate campaigns — a crash
    * between store purges left a partially-forgotten doc with no
    * resumable record, exactly the hole the r17 purge marker closed
    * WITHIN one store, one level up. This is the r17 marker discipline
    * re-derived for the composition:
    *
    *  1. the deduped request is PERSISTED first (tombstones parquet +
    *     an intent file carrying the order-independent fingerprint and
    *     per-store progress, under `<verdictsDir>_forget`) — the intent
    *     write is the commit point: from here the request completes, by
    *     a re-run with the same tombstones or by the next
    *     [[runComposedGateStream]] tick ([[finalizePendingForget]]);
    *  2. each store's purge runs in a fixed order — the tokenizer
    *     lifecycle ([[BpeLifecycle.purge]]: exact histogram subtraction
    *     + forced retrain + version sweep), the near-dup artifact
    *     ledger ([[purgeIncrementalLedger]]), then the verdict and
    *     dead-letter sinks (doc_id membership is personal signal even
    *     though no raw text is stored) — with the intent's progress
    *     line rewritten (tmp+rename) after each;
    *  3. the intent clears LAST.
    *
    * Every store purge is replay-safe, so a crash ANYWHERE converges:
    * the lifecycle recognizes an exact replay of its last completed
    * request (the `_GRAFT_PURGE_DONE` record — r18) and resumes its own
    * marker otherwise; the ledger and sink purges are idempotent
    * anti-join rewrites behind crash-safe swaps. StreamsSpec injects a
    * crash at every step (after each store's purge and after each
    * progress write) and proves convergence to the uninterrupted end
    * state.
    *
    * `tombstones` is (batch_id, doc_id, text) — batch_id names the
    * lifecycle batch the doc ARRIVED in (seed docs: −1, the base
    * entry), text the doc as ingested: the [[BpeLifecycle.purge]]
    * contract, which needs both for its exact subtraction. A
    * deployment running [[runIncrementalClosureStream]] beside the
    * front door passes its label store as the optional FIFTH leg
    * (`labels` — [[LabelStore]]): the store identity rides the
    * persisted intent (paths, not frames), so that leg resumes from
    * disk like the others, and [[graft.llm.Dedup.purgeClosureLabels]]
    * re-runs are no-ops. 100 TB shape: requests are request-sized;
    * each store's work is bounded by its own store (histogram
    * revisions + retrain from vocabulary-sized tables, one ledger/sink
    * rewrite each, a campaign-bounded label re-closure) — nothing
    * rescans the corpus.
    */
  def forgetDocs(spark: SparkSession, stores: FrontDoorStores,
      tombstones: DataFrame, labels: Option[LabelStore] = None): Unit =
    forgetDocsImpl(spark, stores, tombstones, _ => (), labels)

  private val ForgetIntentFile = "_FORGET_INTENT"
  private val ForgetIntentEnd = "end"
  private def forgetRootOf(stores: FrontDoorStores): String =
    s"${stores.verdictsDir}_forget"

  private[streaming] case class ForgetIntent(fp: Long, done: Set[String],
      labels: Option[LabelStore] = None)

  private def forgetFs(spark: SparkSession, root: String) =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())

  /** Intent lines, or None when the file is absent OR TORN: a crash
    * mid-write of the INITIAL intent can persist a prefix (e.g. the
    * `fp` line without the `labelsdir`/`corpusdir` lines), and parsing
    * that prefix would resume a forget that silently SKIPS the
    * label-store leg while still clearing the intent as complete (r18
    * ADVICE). The trailing `end` sentinel — written last, inside the
    * same buffered write — makes the file self-validating: no
    * sentinel, no intent.
    */
  private def readIntentLines(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[Seq[String]] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().toSeq finally in.close()
      if (lines.lastOption.contains(ForgetIntentEnd)) Some(lines) else None
    }

  private[streaming] def readForgetIntent(spark: SparkSession,
      stores: FrontDoorStores): Option[ForgetIntent] = {
    val root = forgetRootOf(stores)
    val fs = forgetFs(spark, root)
    val p = new org.apache.hadoop.fs.Path(root, ForgetIntentFile)
    // interrupted-commit promotion, the readManifest idiom — but only
    // of a COMPLETE tmp (sentinel-checked): a torn tmp is a crashed
    // initial write, i.e. no intent was ever committed, and promoting
    // it would resume a truncated request as if it were whole
    val tmp = new org.apache.hadoop.fs.Path(root, s"$ForgetIntentFile.tmp")
    if (!fs.exists(p) && readIntentLines(fs, tmp).isDefined) {
      fs.rename(tmp, p); ()
    }
    readIntentLines(fs, p).flatMap { lines =>
      val fp = lines.collectFirst { case l if l.startsWith("fp ") =>
        scala.util.Try(l.stripPrefix("fp ").trim.toLong).toOption }.flatten
      val lab = for {
        ld <- lines.collectFirst { case l if l.startsWith("labelsdir ") =>
          l.stripPrefix("labelsdir ") }
        cd <- lines.collectFirst { case l if l.startsWith("corpusdir ") =>
          l.stripPrefix("corpusdir ") }
      } yield LabelStore(ld, cd)
      fp.map(f => ForgetIntent(f,
        lines.filter(_.startsWith("done ")).map(_.stripPrefix("done ").trim)
          .toSet, lab))
    }
  }

  private def writeForgetIntent(spark: SparkSession, root: String,
      intent: ForgetIntent): Unit = {
    val fs = forgetFs(spark, root)
    val tmp = new org.apache.hadoop.fs.Path(root, s"$ForgetIntentFile.tmp")
    val out = fs.create(tmp, true)
    try out.write((Seq(s"fp ${intent.fp}") ++
      intent.labels.toSeq.flatMap(l =>
        Seq(s"labelsdir ${l.labelsDir}", s"corpusdir ${l.corpusDir}")) ++
      intent.done.toSeq.sorted.map(s => s"done $s") ++
      Seq(ForgetIntentEnd))
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    val dst = new org.apache.hadoop.fs.Path(root, ForgetIntentFile)
    fs.delete(dst, false)
    fs.rename(tmp, dst)
    ()
  }

  /** Order-independent request identity — the
    * [[BpeLifecycle]] tombstone-fingerprint formula.
    */
  private def forgetFingerprint(ts: DataFrame): Long = {
    val r = ts.agg(expr("bit_xor(xxhash64(batch_id, doc_id, text))").as("fp"))
      .head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  private[streaming] def forgetDocsImpl(spark: SparkSession,
      stores: FrontDoorStores, tombstones: DataFrame,
      failpoint: String => Unit,
      labels: Option[LabelStore] = None): Unit = {
    val root = forgetRootOf(stores)
    val ts = tombstones.dropDuplicates(Seq("batch_id", "doc_id"))
    val reqFp = forgetFingerprint(ts)
    readForgetIntent(spark, stores) match {
      case Some(i) if i.fp == reqFp =>
        // a replay of THIS request: resume from the persisted progress
        // (the persisted tombstones ARE this request — same
        // fingerprint; the persisted store list governs, so a replay
        // that passes different `labels` does not fork the request)
        driveForget(spark, stores, i, failpoint)
        return
      case Some(i) =>
        // a DIFFERENT request crashed mid-flight: complete it from its
        // own persisted tombstones before starting this one — two
        // in-flight composed requests would make per-store resume
        // ambiguous (the lifecycle's done-record holds ONE slot)
        driveForget(spark, stores, i, failpoint)
      case None => ()
    }
    // persist the request FIRST: tombstones, then the intent file — the
    // intent is the commit point (a crash before it leaves no pending
    // request; failed guards stay loud, not half-resumed)
    ts.write.mode("overwrite").parquet(s"$root/tombstones")
    failpoint("pre-intent")
    writeForgetIntent(spark, root, ForgetIntent(reqFp, Set.empty, labels))
    driveForget(spark, stores, ForgetIntent(reqFp, Set.empty, labels),
      failpoint)
  }

  /** Drive the per-store purges from the PERSISTED request, skipping
    * stores the intent already records as done, and clear the intent
    * last. Resumable from disk state alone — both [[forgetDocsImpl]]
    * (replay) and [[finalizePendingForget]] (next tick) land here.
    */
  private def driveForget(spark: SparkSession, stores: FrontDoorStores,
      intent0: ForgetIntent, failpoint: String => Unit): Unit = {
    val root = forgetRootOf(stores)
    val fs = forgetFs(spark, root)
    val ts = spark.read.parquet(s"$root/tombstones")
    var done = intent0.done
    def step(name: String)(body: => Unit): Unit =
      if (!done.contains(name)) {
        body
        failpoint(s"purged-$name")
        done += name
        writeForgetIntent(spark, root,
          ForgetIntent(intent0.fp, done, intent0.labels))
        failpoint(s"done-$name")
      }
    // lifecycle FIRST: it is the one store whose replay safety rests on
    // its own done-record rather than idempotent rewrites, and clearing
    // the model versions that embody the forgotten docs is the most
    // urgent obligation (they SERVE)
    step("lifecycle") { BpeLifecycle.purge(spark, stores.lcRoot, ts); () }
    step("ledger") {
      purgeIncrementalLedger(spark, stores.ledgerDir,
        ts.select(col("doc_id")))
    }
    step("verdicts") { purgeComposedSink(spark, stores.verdictsDir, ts) }
    step("dead") { purgeComposedSink(spark, stores.deadDir, ts) }
    // optional fifth store: the st11 closure-label store of a
    // deployment running the closure stream beside the front door. The
    // re-closure corpus is reconstructed from the PERSISTED corpus path
    // (anti-joined with the persisted tombstones), so this leg resumes
    // from disk exactly like the others; purgeClosureLabels re-runs are
    // no-ops (affected set empty after the first pass — DedupSpec).
    intent0.labels.foreach { l =>
      step("labels") {
        graft.llm.Dedup.purgeClosureLabels(spark, l.labelsDir,
          ts.select(col("doc_id")),
          spark.read.parquet(l.corpusDir)
            .join(ts.select(col("doc_id")), Seq("doc_id"), "left_anti"))
      }
    }
    // clear: the intent file is the pending-request marker — deleting it
    // commits completion; the tombstones dir is then stale garbage (a
    // crash between the two deletes leaves it for the next request's
    // overwrite)
    fs.delete(new org.apache.hadoop.fs.Path(root, ForgetIntentFile), false)
    failpoint("post-clear-intent")
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    ()
  }

  /** Complete any pending composed forget before the tick touches the
    * stores — called at every [[runComposedGateStream]] tick start, the
    * [[BpeLifecycle.tick]]-finalizes-pending-purges posture one level
    * up. No pending intent = one existence probe.
    */
  def finalizePendingForget(spark: SparkSession,
      stores: FrontDoorStores): Unit =
    readForgetIntent(spark, stores).foreach { i =>
      driveForget(spark, stores, i, _ => ())
    }

  /** Anti-join rewrite of a composed sink (verdicts or dead-letter):
    * drop the tombstoned doc_ids' rows, publish by crash-safe swap. The
    * sink-side incarnation token rides INSIDE the rewrite dir so the
    * swap carries it atomically — a purge must not unbind the stream.
    * Idempotent (a replay removes nothing more); an absent sink (no
    * rows yet) is a no-op.
    */
  private def purgeComposedSink(spark: SparkSession, dir: String,
      tombIds: DataFrame): Unit =
    purgeComposedSinkImpl(spark, dir, tombIds, () => ())

  /** `midSwap` is the race-spec seam, threaded into
    * [[graft.core.DirSwap.swapIntoPlace]]'s between-the-renames window.
    */
  private[streaming] def purgeComposedSinkImpl(spark: SparkSession,
      dir: String, tombIds: DataFrame, midSwap: () => Unit): Unit = {
    recoverSwap(spark, dir)
    val dst = new org.apache.hadoop.fs.Path(dir)
    val fs = dst.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dst)) return
    // a sink dir can exist holding only underscore-prefixed files — the
    // incarnation token is written at tick START, before any batch
    // commits — and spark.read.parquet on it throws 'unable to infer
    // schema'; with a pending forget intent, finalizePendingForget
    // would then re-throw on every tick, wedging the stream (r18
    // ADVICE). No data files = nothing to purge.
    if (!hasDataFiles(fs, dst)) return
    val tomb = tombIds.select(col("doc_id")).distinct()
    val sink = spark.read.parquet(dir)
    // re-select the sink's own column order: the equi-join moves the key
    // first, and a purge must not silently re-shape the store it sweeps
    val rows = sink.join(tomb, Seq("doc_id"), "left_anti")
      .select(sink.columns.map(col).toIndexedSeq: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // bounded output files, the rewriteLedger sizing (a 100 TB sink
      // rewrite must neither produce one giant file nor per-task confetti)
      val rowsPerFile = 4000000L
      val nFiles = math.max(1L, (rows.count() + rowsPerFile - 1) / rowsPerFile)
      val tmp = new org.apache.hadoop.fs.Path(dir + "__compacting")
      rows.repartition(nFiles.toInt)
        .write.mode("overwrite").parquet(tmp.toString)
      val tokSrc = new org.apache.hadoop.fs.Path(dst, StreamIdFile)
      if (fs.exists(tokSrc)) {
        val in = fs.open(tokSrc)
        val tok = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val out = fs.create(new org.apache.hadoop.fs.Path(tmp, StreamIdFile), true)
        try out.write(tok.getBytes("UTF-8")) finally out.close()
      }
      // purge-in-progress marker (r19, the r13 s22 discipline on
      // composed sinks): a concurrent reader's swap-heal racing into
      // swapIntoPlace's between-the-renames window would restore the
      // parked dir under the writer and fail the forget spuriously.
      // While the marker stands, readers WAIT instead of healing; it
      // comes down after the swap commits, and a crashed purge's stale
      // marker times out reader-side (GraftConfig.sinkHealWaitMs) —
      // the resumed forget re-runs this rewrite idempotently anyway.
      val marker = purgeMarkerPath(dir)
      fs.create(marker, true).close()
      try graft.core.DirSwap.swapIntoPlace(fs, tmp, dst, midSwap)
      finally { fs.delete(marker, false); () }
    } finally { rows.unpersist(); () }
  }

  private def purgeMarkerPath(dir: String) =
    new org.apache.hadoop.fs.Path(dir + "__purging")

  /** Any non-hidden (data) file directly under `dir`? Composed sinks
    * are flat appends — parquet parts at the top level.
    */
  private def hasDataFiles(fs: org.apache.hadoop.fs.FileSystem,
      dst: org.apache.hadoop.fs.Path): Boolean =
    fs.listStatus(dst).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }

  /** Stream-INCARNATION binding shared by the lifecycle stream drivers
    * (r17): foreachBatch batch ids are meaningful only within one
    * streaming query lineage — a fresh/relocated checkpoint restarts
    * them at 0 — so a durable state root records the query id of the
    * stream feeding it and REFUSES a different one. Replaying the same
    * source under a fresh checkpoint is an operator declaration, made
    * through the owning lifecycle's `rebindStream`. The id comes from
    * `checkpointDir/metadata` (written at query start, stable across
    * restarts of the same checkpoint), falling back to the checkpoint
    * path when unreadable.
    */
  private val StreamIdFile = "_applied_stream"

  private[streaming] def streamIncarnationId(spark: SparkSession,
      checkpointDir: String): String = {
    val ckFs = new org.apache.hadoop.fs.Path(checkpointDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val metaP = new org.apache.hadoop.fs.Path(checkpointDir, "metadata")
    if (ckFs.exists(metaP)) {
      val in = ckFs.open(metaP)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      "\"id\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(txt)
        .map(_.group(1)).getOrElse(checkpointDir)
    } else checkpointDir
  }

  private[streaming] def bindStreamIncarnation(spark: SparkSession,
      stateRoot: String, checkpointDir: String,
      mismatch: (String, String) => String): Unit = {
    val sid = streamIncarnationId(spark, checkpointDir)
    val fs = new org.apache.hadoop.fs.Path(stateRoot)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val tokenP = new org.apache.hadoop.fs.Path(stateRoot, StreamIdFile)
    // an empty token is ABSENT, not a mismatch: a crash mid-create could
    // leave a truncated file, and treating it as a binding would brick
    // every same-incarnation restart behind a spurious loud failure
    // (r17 ADVICE) — rewrite it below instead
    val stored: Option[String] =
      if (!fs.exists(tokenP)) None
      else {
        val in = fs.open(tokenP)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
        finally in.close()
      }.filter(_.nonEmpty)
    stored match {
      case Some(old) if old != sid =>
        throw new IllegalStateException(mismatch(old, sid))
      case Some(_) => ()
      case None =>
        // tmp-file + rename, the repo's single-file commit idiom: the
        // token is either absent, whole, or (worst crash case) a torn
        // tmp that never becomes the token — never a torn binding
        val tmp = new org.apache.hadoop.fs.Path(stateRoot, StreamIdFile + ".tmp")
        val out = fs.create(tmp, true)
        try out.write(sid.getBytes("UTF-8")) finally out.close()
        fs.delete(tokenP, false)
        fs.rename(tmp, tokenP)
        ()
    }
  }

  private[streaming] def dropStreamBinding(spark: SparkSession,
      stateRoot: String): Unit = {
    new org.apache.hadoop.fs.Path(stateRoot)
      .getFileSystem(spark.sessionState.newHadoopConf())
      .delete(new org.apache.hadoop.fs.Path(stateRoot, StreamIdFile), false)
    ()
  }

  /** Name of the applied-batch ledger INSIDE the manifest directory.
    * Underscore-prefixed, so Spark's parquet reader treats it as hidden —
    * consumers keep reading the manifest dir directly.
    */
  private val AppliedBatchesFile = "_applied_batches"

  private[streaming] def readAppliedBatches(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Set[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir, AppliedBatchesFile)
    if (!fs.exists(p)) Set.empty
    else {
      val in = fs.open(p)
      // tolerate a malformed line (pre-hardening torn write): dropping
      // an id only means one idempotent replay, never a stuck stream
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .flatMap(l => scala.util.Try(l.trim.toLong).toOption).toSet
      finally in.close()
    }
  }

  /** Write-tmp-then-rename: the manifest path writes this file into a
    * rewrite dir that publishes atomically anyway, but the st12 delta
    * path writes into the LIVE generation dir — a torn in-place write
    * there would leave an unparseable applied-set that fails every
    * later tick. The rename makes the worst crash outcome "applied set
    * missing one id", which every caller tolerates (replays are
    * idempotent; the set is an optimization, not the correctness
    * anchor).
    */
  private[streaming] def writeAppliedBatches(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, ids: Set[Long]): Unit = {
    val dst = new org.apache.hadoop.fs.Path(dir, AppliedBatchesFile)
    val tmp = new org.apache.hadoop.fs.Path(dir, AppliedBatchesFile + ".tmp")
    val out = fs.create(tmp, true)
    try out.write((ids.toSeq.sorted.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    fs.delete(dst, false)
    fs.rename(tmp, dst)
    ()
  }

  /** Streaming dataset-manifest maintenance — q81's algebraic merge law
    * driven through foreachBatch: each micro-batch of newly ingested
    * docs builds its part-manifest ([[graft.operators.Functions
    * .partManifest]]) and merges it into the durable manifest at
    * `manifestDir` — the corpus is NEVER rescanned, which is the whole
    * point of the manifest statistics being algebraic.
    *
    * Exactly-once HAS to be stronger here than st9's after-effect marker
    * file: mergeManifests is NOT idempotent (a replayed merge
    * double-counts n_docs/total_chars and corrupts checksums — and with
    * no corpus rescan there is no recovery), so a marker written after
    * the swap leaves a crash window that silently corrupts the manifest
    * forever. Instead the applied-batch set travels INSIDE the manifest
    * directory (the hidden [[AppliedBatchesFile]], invisible to parquet
    * consumers) and is written into the rewrite dir BEFORE the swap —
    * the rename that publishes a batch's merge publishes the fact that
    * it was applied in the same commit point, so no crash ordering can
    * admit a double-merge. The swap itself is the crash-safe
    * [[swapIntoPlace]]/[[recoverSwap]] pair. The manifest is
    * per-(source, split) — bounded rows, one coalesced file.
    * StreamsSpec proves the N-tick streamed manifest equals the q78
    * full-corpus manifest and that a replay leaves it unchanged.
    */
  def runManifestStream(spark: SparkSession, srcDir: String,
      manifestDir: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val schema = spark.read.parquet(srcDir).schema
    val reader = maxFilesPerTrigger.foldLeft(
      spark.readStream.schema(schema).format("parquet")) {
      (r, n) => r.option("maxFilesPerTrigger", n)
    }
    reader.load(srcDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        recoverSwap(spark, manifestDir)
        val dst = new org.apache.hadoop.fs.Path(manifestDir)
        val fs = dst.getFileSystem(spark.sessionState.newHadoopConf())
        val applied = readAppliedBatches(fs, dst)
        if (!applied.contains(batchId)) {
          val part = graft.operators.Functions.partManifest(batch)
          val merged =
            if (fs.exists(dst))
              graft.operators.Functions.mergeManifests(
                spark.read.parquet(manifestDir).unionByName(part))
            else part
          val tmp = new org.apache.hadoop.fs.Path(manifestDir + "__merging")
          merged.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          writeAppliedBatches(fs, tmp, applied + batchId)
          swapIntoPlace(fs, tmp, dst)
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** DuckDB CTE chain of the st8 quality battery over `documents`
    * restricted by `pred`, ending in
    * `qroute(doc_id, n_tok, reason, route)`. Extracted r17 so the st16
    * front-door oracle replays the IDENTICAL battery instead of a
    * hand-copy that could drift from st8's.
    */
  private def qualityOracleCtes(pred: String): String =
    s"""tok AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
       |  FROM documents WHERE $pred
       |), g AS (
       |  SELECT doc_id, t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
       |), f AS (
       |  SELECT doc_id, sum(c) AS n, sum(c * len(t)) AS chars,
       |    sum(CASE WHEN t IN ${graft.llm.TextStats.stopwordsInList} THEN c ELSE 0 END) AS stop_c,
       |    max(c) AS mx
       |  FROM g GROUP BY doc_id
       |), qroute AS (
       |  SELECT doc_id, CAST(n AS BIGINT) AS n_tok,
       |    CASE WHEN NOT (n BETWEEN 50 AND 100000) THEN 'ntok'
       |         WHEN chars < 3 * n OR chars > 10 * n THEN 'wlen'
       |         WHEN stop_c * 100 < n THEN 'stop'
       |         WHEN mx * 10 > n THEN 'dom' END AS reason,
       |    CASE WHEN (n BETWEEN 50 AND 100000) AND chars >= 3 * n
       |          AND chars <= 10 * n AND stop_c * 100 >= n AND mx * 10 <= n
       |         THEN 'pass' ELSE 'fail' END AS route
       |  FROM f
       |)""".stripMargin

  def registry: Seq[OpQuery] = Seq(

    // ---- streaming corpus quality gate (batch-equivalent plan) -----------
    // The ingestion-time router a training pipeline puts in front of its
    // raw sink: each arriving doc passes the Gopher battery or routes to
    // a dead-letter with its first failing rule. Registered in the
    // batch-equivalent form (the st1/st6 convention); StreamsSpec drives
    // the same projection through readStream + foreachBatch into
    // pass/fail sinks and asserts the union equals this output.
    sql("st8_quality_gate", {
      s"""WITH ${qualityOracleCtes("TRUE")}
         |SELECT doc_id, n_tok, reason, route FROM qroute""".stripMargin
    }) { (s, d) =>
      qualityRoute(Tables.documents(s, d))
    },

    // ---- streaming token-budget gate through the LEARNED table (r15) ------
    // st8's router answers "is this doc language"; this answers "what
    // will it cost the trainer" — the ingestion-time budget gate a
    // continuous crawl needs, metered by the t37-trained BPE table
    // instead of whitespace (whose ~1.3× mispricing t35 measured).
    // Registered batch-equivalent (the st1/st6 convention); StreamsSpec
    // drives the identical projection through readStream + foreachBatch
    // with the PRE-TRAINED table shipped into the streaming plan and
    // asserts stream ≡ batch. FULL oracle: DuckDB re-learns the table
    // and re-prices every doc before replaying the routing rules.
    sql("st13_bpe_budget_gate", {
      import graft.llm.TextStats._
      s"""WITH ${bpeTrainCtes(BpeTrainTopV, BpeTrainRounds)},
         |${bpeApplyCtes(BpeTrainRounds)},
         |$bpeDocTokCte
         |SELECT doc_id, n_ws, n_tok AS n_bpe,
         |  CASE WHEN n_tok < 64 THEN 'short'
         |       WHEN n_tok > 4096 THEN 'long'
         |       WHEN n_tok > 3 * n_ws THEN 'blowup' END AS reason,
         |  CASE WHEN n_tok >= 64 AND n_tok <= 4096 AND n_tok <= 3 * n_ws
         |       THEN 'pass' ELSE 'fail' END AS route
         |FROM bdoc""".stripMargin
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      val merges = graft.llm.TextStats.bpeLearnMerges(docs).map(m => (m._2, m._3))
      bpeBudgetRoute(docs, merges)
    },

    // ---- incremental near-dup gate with a GROWING index (§2.9 + dedup) ---
    // The continuous-crawl tick d12 only gestures at: the index is not a
    // fixed snapshot — every processed doc JOINS it, so a dup of an
    // earlier stream doc is caught even though that doc wasn't in the
    // seed ledger. Registered batch-equivalent (the st1/st6 convention):
    // docs with doc_id % 3 = 0 seed the ledger, the rest replay as the
    // stream in doc_id order. StreamsSpec drives the same kernel through
    // readStream + foreachBatch with a parquet artifact ledger and
    // asserts verdicts are IDENTICAL for 1-batch and N-batch executions
    // (the rank-capped index makes batch boundaries unobservable —
    // Dedup.incrementalVerdictsFromArtifacts scaladoc has the proof).
    sql("st9_incremental_neardup", graft.llm.Dedup.incrementalOracleSql(3)) {
      (s, d) =>
        graft.llm.Dedup.incrementalNearDup(
          Tables.documents(s, d), col("doc_id") % 3 === 0)
    },

    // ---- incremental closure maintenance (round-9 verdict "Next #4") -----
    // st9 keeps the growing-index VERDICTS incremental; this keeps the
    // d8 duplicate-cluster LABELS incremental: each tick's near-dup
    // pairs fold into a durable label store by merging component
    // representatives (batch-bounded closure + one keyed remap — the
    // corpus-wide d8 recompute that d25/d27/m8 pay per run never
    // happens). FULL oracle: the one-batch pair set + recursive-CTE
    // min-label closure in DuckDB must hash-match the 2-tick Spark fold
    // exactly — tick boundaries are unobservable, the st9 law extended
    // to component labels. [[graft.llm.Dedup.mergeClosureLabels]] holds
    // the composition proof; StreamsSpec drives the same fold through a
    // real file-source stream with replay.
    sql("st11_incremental_closure",
      graft.llm.Dedup.incrementalClosureOracleSql(3)) { (s, d) =>
      graft.llm.Dedup.incrementalClosure(
        Tables.documents(s, d), col("doc_id") % 3 === 0)
    },

    // ---- drift-aware streaming index lifecycle (st12, r10; PQ r12) -------
    // s20 proves the append-or-retrain DECISION; this proves the
    // DURABLE lifecycle around it: generation dirs + committed-pointer
    // cutover, idempotent per-batch delta appends (overwrite, never
    // parquet-append), applied-set-guarded retrains. r12: generations
    // carry the s23 IVF-PQ serving shape — builds train BOTH codebooks,
    // delta ticks encode through the generation's frozen codebooks
    // (codes_deltas/batch overwrite), and serve() runs ADC over
    // base ∪ delta codes with exact re-rank off the assignments.
    // Ticked in-process here (the batch-equivalent form, like
    // st1–st10); StreamsSpec drives the same arc through a real
    // file-source stream with replay. Gates, all in-query raise_error:
    // the in-distribution batch must NOT cut over (same generation,
    // lands as a delta) and must leave a COMMITTED code delta beside
    // the vector delta, its REPLAY must leave assignment AND code sets
    // unchanged (exactly-once without markers), the drifted batch MUST
    // cut over to a new generation whose assignments hold every vector
    // exactly once (deltas absorbed) and whose code store covers the
    // same set at ≤ 20 logical bytes/vector (the s23 memory contract,
    // now on a STREAMING generation), and serving recall from the
    // final generation — through the PQ + re-rank path — clears the
    // s4 floor.
    OpQuery.rowsOnly("st12_drift_aware_index") { (s, d) =>
      import graft.llm.Similarity
      // r16 (the r15 verdict's #6): the lifecycle SIMULATION's fixture is
      // capped at 800 vectors — the gates (no-cutover / replay-no-op /
      // cutover / exactly-once / recall ≥ 0.8) are N-independent laws that
      // already hold at the smaller SFs' 500-vector fixture, and the
      // entry's cost is stage count × per-job data, so the cap cuts the
      // bench's single largest entry without weakening any gate. The
      // hash-matched END-STATE statement lives in st14 on the FULL fixture.
      val e = Similarity.clusteredEmbeddings(Tables.embeddings(s, d))
        .filter(col("vec_id") < 800)
      val lcRoot = graft.llm.Dedup.trackSpill(
        s"${graft.llm.Dedup.spillBase(s, None, "st12")}/${graft.llm.Dedup.runDirName("ivflc")}")
      val base = e.filter(pmod(col("vec_id"), lit(3)) === 0)
      val undrifted = e.filter(pmod(col("vec_id"), lit(3)) === 1)
      val drifted = e.filter(pmod(col("vec_id"), lit(3)) === 2)
        .select(col("vec_id"),
          transform(col("embedding"), x => x + lit(0.75f)).as("embedding"))
      IndexLifecycle.init(s, lcRoot, base)
      val gen0 = IndexLifecycle.currentRoot(s, lcRoot).get
      val r1 = IndexLifecycle.tick(s, lcRoot, undrifted, 1L)
      val gen1 = IndexLifecycle.currentRoot(s, lcRoot).get
      // gate probes fused into ONE action per checkpoint (r13): the
      // crossJoin of 1-row aggregates costs one job where separate
      // .count() calls cost one EACH — at the lifecycle's
      // many-small-jobs profile the scheduler overhead was a third of
      // the entry's wall
      def storeCounts(root: String): (Long, Long) = {
        val idx = Similarity.IvfIndex.open(s, root)
        val r = idx.vectors.agg(count(lit(1)).as("na"))
          .crossJoin(idx.codes.agg(count(lit(1)).as("nc")))
          .head()
        (r.getLong(0), r.getLong(1))
      }
      val (nAfter1, nCodes1) = storeCounts(gen1)
      val r1replay = IndexLifecycle.tick(s, lcRoot, undrifted, 1L)
      val genReplay = IndexLifecycle.currentRoot(s, lcRoot).get
      val (nAfterReplay, nCodesReplay) = storeCounts(genReplay)
      val r2 = IndexLifecycle.tick(s, lcRoot, drifted, 2L)
      val gen2 = IndexLifecycle.currentRoot(s, lcRoot).get
      // final checkpoint: vector-store totals, code-store coverage (the
      // s23 memory contract: every vector exactly once at a bounded
      // logical width), and the corpus size. r20: these ride the OUTPUT
      // plan as 1-row crossJoined aggregates (r13 fused them into one
      // head; the head itself is now gone) — the final stores are
      // immutable at this point in the simulation, so deferring the
      // read into the serving action changes no observed state, and
      // the serve/brute/audit subtrees evaluate concurrently. The
      // mid-simulation probes above (nAfter1/nCodes1/replay) stay
      // EAGER by necessity: they observe state that later ticks mutate.
      val finalIdx = Similarity.IvfIndex.open(s, gen2)
      val finalStats = finalIdx.vectors
        .agg(count(lit(1)).as("nf"), countDistinct(col("vid")).as("nd"))
        .crossJoin(finalIdx.codes
          .agg(countDistinct(col("vid")).as("ncd"), max(size(col("code"))).as("w")))
        .crossJoin(e.agg(count(lit(1)).as("ncorp")))
      val q = drifted.filter(col("vec_id") < 32)
      val full = base.unionByName(undrifted).unionByName(drifted)
      Similarity.withRecallGate(
        IndexLifecycle.serve(s, lcRoot, q, 5)
          .crossJoin(broadcast(finalStats))
          .select(col("qid"), col("vid"),
          when(lit(r1 || gen1 != gen0), raise_error(
            lit("in-distribution batch must delta-append on the same generation")))
            .when(lit(nCodes1 != nAfter1), raise_error(
              lit(s"delta tick must encode its batch into the code store " +
                s"($nCodes1 codes vs $nAfter1 vectors)")))
            .when(lit(r1replay || nAfterReplay != nAfter1 || nCodesReplay != nCodes1),
              raise_error(
                lit("replayed delta batch must be a no-op on vectors AND codes")))
            .when(lit(!r2 || gen2 == gen1), raise_error(
              lit("drifted batch must cut over to a new generation")))
            .when(col("nf") =!= col("ncorp") || col("nd") =!= col("ncorp"),
              raise_error(concat(
                lit("final generation must hold every vector exactly once ("),
                col("nf").cast("string"), lit("/"), col("nd").cast("string"),
                lit(" vs "), col("ncorp").cast("string"), lit(")"))))
            .when(col("ncd") =!= col("ncorp"), raise_error(concat(
              lit("final code store must cover every vector ("),
              col("ncd").cast("string"), lit(" vs "),
              col("ncorp").cast("string"), lit(")"))))
            .when(col("w") > 20, raise_error(concat(
              lit("generation PQ code width "), col("w").cast("string"),
              lit(" > 20 B/vector"))))
            .otherwise(col("sim")).as("sim")),
        Similarity.bruteTopK(q, full, 5), minRecall = 0.80)
    },

    // ---- st12's FINAL STATE promoted to a hash-matched oracle (r16 —
    // the r15 verdict's #5). The tick ORDERING stays st12's simulation
    // (its 4 in-query lifecycle gates are untouched); what promotes is
    // the END STATE after the LITERAL batch schedule with PINNED drift
    // verdicts — init(base) → batch 1 append (in-distribution) →
    // batch 2 retrain (the +0.75f-shifted batch) — executed on the
    // REPLAYABLE chain (hash60 seeds, decimal-exact Lloyd, rounded
    // routing, persisted round trips). The retrain's input is read OFF
    // THE OLD INDEX's committed listing (base ∪ delta batches — the
    // lifecycle's actual retrain input, now through the r16 manifest),
    // so a lost or duplicated append row re-trains a DIFFERENT index
    // and mismatches the hash, not just an audit. DuckDB independently
    // re-derives: fixture → float-exact drift shift → full-corpus Lloyd
    // retrain → rounded routing → probe → rank → recall.
    sql("st14_lifecycle_final_state", {
      graft.llm.Similarity.ivfReplayOracleSql(withScanFrac = false,
        queryPred = "vec_id % 3 = 2 AND vec_id < 32",
        exactPred = "a.vec_id % 3 = 2 AND a.vec_id < 32",
        driftShiftPred = "vec_id % 3 = 2")
    }) { (s, d) =>
      import graft.llm.Similarity
      val e = Similarity.clusteredEmbeddings(Tables.embeddings(s, d))
      val base = e.filter(pmod(col("vec_id"), lit(3)) === 0)
      val undrifted = e.filter(pmod(col("vec_id"), lit(3)) === 1)
      val drifted = e.filter(pmod(col("vec_id"), lit(3)) === 2)
        .select(col("vec_id"),
          transform(col("embedding"), x => x + lit(0.75f)).as("embedding"))
      // the literal schedule, verdicts pinned: batch 1 appends
      val idx0 = Similarity.IvfIndex.build(base, Similarity.Quantizer.replayable(base))
      idx0.append(undrifted, batchId = 1L)
      // batch 2 retrains: input = the OLD index's joint committed listing
      // ∪ the drifted batch (exactly IndexLifecycle.tick's retrain input)
      val old = idx0.vectors
        .select(col("vid").as("vec_id"), col("ve").as("embedding"))
      val full = old.unionByName(drifted)
      // r20: ONE corpus count — it sizes nlist here and anchors the
      // every-vector-exactly-once audit below (was two identical jobs)
      val nCorpus = e.count()
      val idx2 = Similarity.IvfIndex.build(full,
        Similarity.Quantizer.replayable(full, Some(Similarity.deriveNlist(nCorpus))))
      val q = drifted.filter(col("vec_id") < 32)
      val served = idx2.serve(q, 5)
      // final-state audit (st12's end-state law, here hash-backed too):
      // the retrained store holds every corpus vector exactly once
      val audit = idx2.vectors
        .groupBy(col("vid")).agg(count(lit(1)).as("c"))
        .agg(sum(when(col("c") =!= 1, 1L).otherwise(0L)).as("n_dup"),
          count(lit(1)).as("n_vec"))
      Similarity.withRecallGate(
        served.crossJoin(broadcast(audit))
          .select(col("qid"), col("vid"),
            when(col("n_dup") > 0 || col("n_vec") =!= nCorpus, raise_error(concat(
              lit("retrained generation must hold every vector exactly once: dup="),
              col("n_dup").cast("string"), lit(" n="),
              col("n_vec").cast("string"), lit(s" vs $nCorpus"))))
              .otherwise(col("sim")).as("sim")),
        Similarity.bruteTopK(q,
          base.unionByName(undrifted).unionByName(drifted), 5),
        minRecall = 0.80)
    },

    // ---- drift-aware TOKENIZER lifecycle (st15, r16) ----------------------
    // IndexLifecycle's arc applied to the OTHER served model: the BPE
    // table gets drift-triggered retrains with a versioned atomic flip
    // ([[BpeLifecycle]]). The literal batch schedule on the REAL
    // persisted store: init trains v1 on the base third; batch 0 (same
    // distribution) is recorded but does NOT retrain; batch 1 (every
    // vowel remapped — a charset/domain shift) degrades v1's
    // codepoints-per-token ~35% vs the ≤2.7% same-distribution noise
    // (measured at all 3 SFs; threshold 10% splits with ≥3× margin) and
    // retrains into v2. FULL oracle: DuckDB independently re-learns BOTH
    // tables (v1 on the base third, the final table on the full shifted
    // corpus), re-prices both batches under v1, re-derives both drift
    // verdicts by the same exact-integer cross-multiplication, and
    // re-fingerprints the final table — so a drift anywhere (trainer,
    // tokenizer walk, decision algebra, version bookkeeping, fingerprint
    // canon) mismatches the hash. The `table_fp` column doubles as the
    // provenance proof: the version that prices downstream manifests is
    // named engine-independently (the t41 column, here on the lifecycle's
    // own end state).
    sql("st15_bpe_drift_lifecycle", {
      import graft.llm.TextStats.{bpeTrainCtes, bpeApplyCtes, bpeTableFpCte,
        BpeTrainTopV, BpeTrainRounds}
      s"""WITH docsA AS MATERIALIZED (
         |  SELECT * FROM documents WHERE doc_id % 3 = 0
         |),
         |${bpeTrainCtes(BpeTrainTopV, BpeTrainRounds, "", "docsA")},
         |docsS AS MATERIALIZED (
         |  SELECT doc_id, source,
         |    CASE WHEN doc_id % 3 = 2 THEN translate(text, 'aeiou', '01234')
         |         ELSE text END AS text
         |  FROM documents
         |),
         |${bpeApplyCtes(BpeTrainRounds, "", "", "docsS")},
         |cls AS MATERIALIZED (
         |  SELECT CAST(w.doc_id % 3 AS BIGINT) AS cls,
         |    CAST(sum(length(w.w)) AS BIGINT) AS ncp,
         |    CAST(sum(coalesce(t.n_sub, 0)) AS BIGINT) AS ntok
         |  FROM words w LEFT JOIN wn t USING (w) GROUP BY 1
         |),
         |${bpeTrainCtes(BpeTrainTopV, BpeTrainRounds, "2", "docsS")},
         |${bpeTableFpCte(BpeTrainRounds, "2")},
         |b0 AS (SELECT ncp, ntok FROM cls WHERE cls = 0),
         |dec AS (
         |  SELECT c.cls - 1 AS batch_id, c.ncp, c.ntok,
         |    (c.ntok > 0 AND b0.ntok > 0 AND
         |     CAST(c.ncp AS HUGEINT) * b0.ntok * 100
         |       < CAST(b0.ncp AS HUGEINT) * c.ntok * 90) AS retrained
         |  FROM cls c, b0 WHERE c.cls IN (1, 2)
         |),
         |agg AS (
         |  SELECT max(CASE WHEN batch_id = 0 THEN
         |           CASE WHEN retrained THEN 1 ELSE 0 END END) AS r0,
         |         max(CASE WHEN batch_id = 1 THEN
         |           CASE WHEN retrained THEN 1 ELSE 0 END END) AS r1
         |  FROM dec
         |)
         |SELECT d.batch_id,
         |  CAST(CASE WHEN d.batch_id = 0 THEN 1 ELSE 1 + a.r0 END AS BIGINT)
         |    AS served_version,
         |  d.ncp AS n_cp, d.ntok AS n_tok, d.retrained,
         |  CAST(1 + a.r0 + a.r1 AS BIGINT) AS cur_version,
         |  CASE WHEN a.r0 = 0 AND a.r1 = 1 THEN f.table_fp
         |       ELSE CAST(-1 AS BIGINT) END AS table_fp
         |FROM dec d, agg a, tfp2 f""".stripMargin
    }) { (s, d) =>
      import graft.llm.TextStats
      // the registry discipline: a session knob must never SILENTLY
      // drift a pinned oracle — the lifecycle trains through the
      // production bpeTrainParams resolution, so pin it loudly here
      require(TextStats.bpeTrainParams(s) ==
        ((TextStats.BpeTrainTopV, TextStats.BpeTrainRounds)) &&
        graft.GraftConfig.bpeLifecycleDriftPct(s).isEmpty,
        "st15 oracle is pinned to the default spark.graft.bpe.* knobs")
      val docs = Tables.documents(s, d)
      val shifted = docs.select(col("doc_id"), col("source"),
        when(pmod(col("doc_id"), lit(3)) === 2,
          translate(col("text"), "aeiou", "01234"))
          .otherwise(col("text")).as("text"))
      val base = shifted.filter(pmod(col("doc_id"), lit(3)) === 0)
      val b1 = shifted.filter(pmod(col("doc_id"), lit(3)) === 1)
      val b2 = shifted.filter(pmod(col("doc_id"), lit(3)) === 2)
      val lcRoot = graft.llm.Dedup.trackSpill(
        s"${graft.llm.Dedup.spillBase(s, None, "st15")}/${graft.llm.Dedup.runDirName("bpelc")}")
      BpeLifecycle.init(s, lcRoot, base)
      val r1 = BpeLifecycle.tick(s, lcRoot, b1, 0L).get
      val r2 = BpeLifecycle.tick(s, lcRoot, b2, 1L).get
      // end state read OFF THE STORE (not from the tick returns): the
      // serving version and its fingerprint are whatever the atomic
      // pointer flip actually committed
      val m = BpeLifecycle.currentModel(s, lcRoot)
      import s.implicits._
      Seq(r1, r2).map(r => (r.batchId, r.servedVersion, r.nCp, r.nTok,
          r.retrained, m.version, m.tableFingerprint))
        .toDF("batch_id", "served_version", "n_cp", "n_tok", "retrained",
          "cur_version", "table_fp")
    },

    // ---- the composed FRONT-DOOR CASCADE, hash-matched (st16, r17) -------
    // runComposedGateStream's gate pipeline in its id-ordered one-shot
    // law: base third seeds the tokenizer AND the near-dup ledger; every
    // stream doc runs quality (st8 battery) → token budget under the
    // base-trained table (st13 rules) → incremental near-dup against
    // seed ∪ earlier SURVIVORS (st9 kernel — crucially over survivors
    // only: a gate-rejected doc must not occupy rank-capped bucket
    // slots). One row per stream doc: the FIRST gate that rejected it
    // (with its reason) or its near-dup verdict, plus the priced n_bpe
    // where the doc reached pricing. The multi-batch streaming form
    // with mid-stream retrain + kill/replay lives in StreamsSpec (the
    // st9 rank law makes a one-shot oracle valid only for id-ordered
    // arrivals — PLANS.md r17 has the argument); THIS entry pins the
    // cascade's routing, pricing, and verdict algebra engine-
    // independently. FULL oracle: DuckDB re-learns the table, re-runs
    // the battery, re-prices, re-derives survivors, and replays the
    // incremental kernel over exactly seed ∪ survivors.
    sql("st16_front_door", {
      import graft.llm.TextStats.{bpeTrainCtes, bpeApplyCtes, bpeDocTokCte,
        BpeTrainTopV, BpeTrainRounds}
      s"""WITH docsA AS MATERIALIZED (
         |  SELECT * FROM documents WHERE doc_id % 3 = 0
         |),
         |${bpeTrainCtes(BpeTrainTopV, BpeTrainRounds, "", "docsA")},
         |${bpeApplyCtes(BpeTrainRounds)},
         |$bpeDocTokCte,
         |${qualityOracleCtes("doc_id % 3 <> 0")},
         |broute AS (
         |  SELECT b.doc_id, b.n_ws, b.n_tok,
         |    CASE WHEN b.n_tok < 64 THEN 'short'
         |         WHEN b.n_tok > 4096 THEN 'long'
         |         WHEN b.n_tok > 3 * b.n_ws THEN 'blowup' END AS reason,
         |    CASE WHEN b.n_tok >= 64 AND b.n_tok <= 4096
         |          AND b.n_tok <= 3 * b.n_ws
         |         THEN 'pass' ELSE 'fail' END AS route
         |  FROM bdoc b JOIN qroute q ON q.doc_id = b.doc_id AND q.route = 'pass'
         |),
         |fdocs AS MATERIALIZED (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT d.doc_id, d.text FROM documents d
         |  JOIN broute s ON s.doc_id = d.doc_id AND s.route = 'pass'
         |),
         |${graft.llm.Dedup.incrementalOracleCtesFor("fdocs", 3)}
         |SELECT doc_id, 'quality' AS stage, reason AS outcome,
         |  CAST(NULL AS BIGINT) AS n_bpe
         |FROM qroute WHERE route = 'fail'
         |UNION ALL
         |SELECT doc_id, 'budget' AS stage, reason AS outcome,
         |  n_tok AS n_bpe
         |FROM broute WHERE route = 'fail'
         |UNION ALL
         |SELECT v.doc_id, 'neardup' AS stage, v.verdict AS outcome,
         |  b.n_tok AS n_bpe
         |FROM ndv v JOIN broute b ON b.doc_id = v.doc_id""".stripMargin
    }) { (s, d) =>
      import graft.llm.{Dedup, TextStats}
      // the st15 discipline: a session knob must never silently drift a
      // pinned oracle
      require(TextStats.bpeTrainParams(s) ==
        ((TextStats.BpeTrainTopV, TextStats.BpeTrainRounds)),
        "st16 oracle is pinned to the default spark.graft.bpe.* knobs")
      val docs = Tables.documents(s, d)
      val base = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      val stream = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      // spill each gate's verdict table ONCE (the t15/incrementalNearDup
      // materialization pattern): the final three-way union references
      // quality twice and the budget pricing three times, and without a
      // boundary every reference re-tokenizes the corpus / re-walks the
      // codegen'd BPE counter — measured ~2× the whole-entry cost.
      // r20: the tokenizer training (over base) and the quality-gate
      // spill (over stream) share no inputs — overlap them (guide §2.6)
      val spill = Dedup.trackSpill(
        s"${Dedup.spillBase(s, None, "st16")}/${Dedup.runDirName("fdoor")}")
      val (pairs, _) = graft.llm.Similarity.inParallel(
        TextStats.bpeLearnMerges(base).map(m => (m._2, m._3)),
        qualityRoute(stream)
          .write.mode("overwrite").parquet(s"$spill/qual"))
      val qual = s.read.parquet(s"$spill/qual")
      val qualPass = stream.join(
        qual.filter(col("route") === "pass").select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      bpeBudgetRoute(qualPass, pairs)
        .write.mode("overwrite").parquet(s"$spill/budget")
      val budget = s.read.parquet(s"$spill/budget")
      val survivors = qualPass.join(
        budget.filter(col("route") === "pass").select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      val verdicts = Dedup.incrementalNearDup(
        base.unionByName(survivors), pmod(col("doc_id"), lit(3)) === 0)
      qual.filter(col("route") === "fail")
        .select(col("doc_id"), lit("quality").as("stage"),
          col("reason").as("outcome"), lit(null).cast("long").as("n_bpe"))
        .unionByName(budget.filter(col("route") === "fail")
          .select(col("doc_id"), lit("budget").as("stage"),
            col("reason").as("outcome"), col("n_bpe")))
        .unionByName(verdicts
          .join(budget.select(col("doc_id"), col("n_bpe")), Seq("doc_id"))
          .select(col("doc_id"), lit("neardup").as("stage"),
            col("verdict").as("outcome"), col("n_bpe")))
    },

    // ---- COMPOSED FORGET across the whole front door, audited (q82, r18) --
    // The r17 verdict's top ask: ingestion composed in r17, so erasure
    // composes here — ONE front door is built on real stores (init +
    // seed + one composed tick over the capped corpus), ONE
    // [[forgetDocs]] request (doc_id % 7 = 1, spanning seed docs,
    // gate-rejected docs, and judged docs — every store holds some of
    // them), and the output is the POST-forget content of all four
    // stores: ledger membership, verdict rows, dead-letter rows, and
    // the retrained model's version + engine-independent fingerprint.
    // FULL oracle: DuckDB re-learns the serving table, re-runs the
    // battery + pricing + incremental kernel (the st16 chain), drops
    // the tombstoned docs from every surface, and re-learns the
    // POST-purge table from the corpus minus the tombstones (histogram
    // additivity makes that the exact lifecycle end state) — so a
    // partially-forgotten doc in ANY store, or a model that still
    // embodies the forgotten text, mismatches the hash. Corpus capped
    // at doc_id < 2400 (the st12 cap discipline: the sweep is a
    // per-store law, not an SF law; st16 pins the uncapped cascade).
    // Crash-resume of the same composed request is spec-gated
    // (StreamsSpec injects a crash at every step).
    sql("q82_front_door_forget", {
      import graft.llm.TextStats.{bpeTrainCtes, bpeApplyCtes, bpeDocTokCte,
        bpeTableFpCte, BpeTrainTopV, BpeTrainRounds}
      s"""WITH dcap AS MATERIALIZED (
         |  SELECT * FROM documents WHERE doc_id < 2400
         |),
         |docsA AS MATERIALIZED (
         |  SELECT * FROM dcap WHERE doc_id % 3 = 0
         |),
         |${bpeTrainCtes(BpeTrainTopV, BpeTrainRounds, "", "docsA")},
         |${bpeApplyCtes(BpeTrainRounds, "", "", "dcap")},
         |$bpeDocTokCte,
         |${qualityOracleCtes("doc_id % 3 <> 0 AND doc_id < 2400")},
         |broute AS (
         |  SELECT b.doc_id, b.n_ws, b.n_tok,
         |    CASE WHEN b.n_tok < 64 THEN 'short'
         |         WHEN b.n_tok > 4096 THEN 'long'
         |         WHEN b.n_tok > 3 * b.n_ws THEN 'blowup' END AS reason,
         |    CASE WHEN b.n_tok >= 64 AND b.n_tok <= 4096
         |          AND b.n_tok <= 3 * b.n_ws
         |         THEN 'pass' ELSE 'fail' END AS route
         |  FROM bdoc b JOIN qroute q ON q.doc_id = b.doc_id AND q.route = 'pass'
         |),
         |fdocs AS MATERIALIZED (
         |  SELECT doc_id, text FROM dcap WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT d.doc_id, d.text FROM dcap d
         |  JOIN broute s ON s.doc_id = d.doc_id AND s.route = 'pass'
         |),
         |${graft.llm.Dedup.incrementalOracleCtesFor("fdocs", 3)},
         |docsP AS MATERIALIZED (
         |  SELECT * FROM dcap WHERE doc_id % 7 <> 1
         |),
         |${bpeTrainCtes(BpeTrainTopV, BpeTrainRounds, "2", "docsP")},
         |${bpeTableFpCte(BpeTrainRounds, "2")}
         |SELECT 'ledger' AS store, doc_id, CAST(NULL AS VARCHAR) AS val
         |FROM fdocs WHERE doc_id % 7 <> 1
         |UNION ALL
         |SELECT 'verdicts' AS store, doc_id, verdict AS val
         |FROM ndv WHERE doc_id % 7 <> 1
         |UNION ALL
         |SELECT 'dead' AS store, doc_id, concat('quality:', reason) AS val
         |FROM qroute WHERE route = 'fail' AND doc_id % 7 <> 1
         |UNION ALL
         |SELECT 'dead' AS store, doc_id, concat('budget:', reason) AS val
         |FROM broute WHERE route = 'fail' AND doc_id % 7 <> 1
         |UNION ALL
         |SELECT 'model' AS store, CAST(2 AS BIGINT) AS doc_id,
         |  CAST(table_fp AS VARCHAR) AS val
         |FROM tfp2""".stripMargin
    }) { (s, d) =>
      import graft.llm.{Dedup, TextStats}
      require(TextStats.bpeTrainParams(s) ==
        ((TextStats.BpeTrainTopV, TextStats.BpeTrainRounds)) &&
        graft.GraftConfig.bpeLifecycleDriftPct(s).isEmpty,
        "q82 oracle is pinned to the default spark.graft.bpe.* knobs")
      val docs = Tables.documents(s, d).filter(col("doc_id") < 2400)
      val base = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      val stream = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      val run = Dedup.trackSpill(
        s"${Dedup.spillBase(s, None, "q82")}/${Dedup.runDirName("forget")}")
      val stores = FrontDoorStores(s"$run/lc", s"$run/ledger",
        s"$run/v", s"$run/d")
      // r20: lifecycle bootstrap and ledger seed write DISJOINT stores
      // (lcRoot vs ledgerDir) — overlap them (guide §2.6); the composed
      // tick starts strictly after both, as before
      graft.llm.Similarity.inParallel(
        BpeLifecycle.init(s, stores.lcRoot, base),
        seedIncrementalLedger(base, stores.ledgerDir))
      composedGateTick(s, stream, 0L, stores.lcRoot, stores.ledgerDir,
        stores.verdictsDir, stores.deadDir, s"$run/ck", 64L, 4096L, None,
        (_, _) => ())
      val tombs = docs.filter(pmod(col("doc_id"), lit(7)) === 1)
        .select(when(pmod(col("doc_id"), lit(3)) === 0, lit(-1L))
          .otherwise(lit(0L)).as("batch_id"), col("doc_id"), col("text"))
      forgetDocs(s, stores, tombs)
      val m = BpeLifecycle.currentModel(s, stores.lcRoot)
      import s.implicits._
      readIncrementalLedger(s, stores.ledgerDir)
        .select(lit("ledger").as("store"), col("doc_id"),
          lit(null).cast("string").as("val"))
        .unionByName(readComposedVerdicts(s, stores.verdictsDir)
          .select(lit("verdicts").as("store"), col("doc_id"),
            col("verdict").as("val")))
        .unionByName(readComposedDead(s, stores.deadDir)
          .select(lit("dead").as("store"), col("doc_id"),
            concat(col("gate"), lit(":"), col("reason")).as("val")))
        .unionByName(Seq(("model", m.version, m.tableFingerprint.toString))
          .toDF("store", "doc_id", "val"))
    },

    // ---- the MULTI-BATCH growing-index law, hash-matched (st17, r18) ------
    // The r17 verdict's #4: st16 pins the front-door cascade in its
    // id-ordered ONE-SHOT law, and the one-shot oracle is provably
    // invalid for interleaved arrivals (its index holds every stream
    // doc at once, so a batch judged early would see candidates that
    // have not arrived yet). This entry pins the genuinely
    // batch-DEPENDENT component — the st9 growing-index kernel — under
    // an INTERLEAVED schedule (batch 0 = doc_id % 3 = 2, batch 1 =
    // doc_id % 3 = 1: batch 1 carries ids below batch 0's), by
    // iterating the kernel per batch against seed ∪ batches ≤ k —
    // exactly what runIncrementalNearDupStream computes tick by tick
    // (StreamsSpec proves stream ≡ this batch form on an interleaved
    // file schedule). The front door's OTHER components are
    // batch-independent per doc (quality/budget: st8/st13/st16) or
    // pinned on their own store (lifecycle: st15), so this is the
    // missing piece of the multi-batch front-door argument — PLANS.md
    // r18 composes it.
    sql("st17_interleaved_neardup", graft.llm.Dedup.interleavedOracleSql()) {
      (s, d) =>
        graft.llm.Dedup.incrementalNearDupBatches(
          Tables.documents(s, d), pmod(col("doc_id"), lit(3)) === 0,
          when(pmod(col("doc_id"), lit(3)) === 2, 0).otherwise(1), 2)
    },

    // ---- tumbling event-time windows (SURVEY §2.9 windows) ---------------
    sql("st1_tumbling_window",
      """SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS TIMESTAMP) AS win_start,
        |  event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, d) =>
      tumblingAgg(Tables.events(s, d))
    },

    // ---- windowed trending top-k, batch-equivalent plan (§2.9) -----------
    sql("st7_trending_topk",
      """WITH w AS (
        |  SELECT CAST(time_bucket(INTERVAL '1 day', ts) AS TIMESTAMP) AS win_start,
        |         event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT win_start, event_type, n, CAST(rn AS BIGINT) AS rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY win_start
        |    ORDER BY n DESC, event_type) AS rn
        |  FROM w) t WHERE rn <= 3""".stripMargin) { (s, d) =>
      rankTopK(trendingCounts(Tables.events(s, d)))
    },

    // ---- sliding windows: each event lands in two 1h/30m windows ---------
    sql("st2_sliding_window",
      """WITH assigned AS (
        |  SELECT CAST(time_bucket(INTERVAL '30 minutes', ts) AS TIMESTAMP) AS win_start,
        |         event_type FROM events
        |  UNION ALL
        |  SELECT CAST(time_bucket(INTERVAL '30 minutes', ts) AS TIMESTAMP)
        |           - INTERVAL '30 minutes' AS win_start,
        |         event_type FROM events
        |)
        |SELECT win_start, event_type, CAST(count(*) AS BIGINT) AS n
        |FROM assigned GROUP BY 1, 2""".stripMargin) { (s, d) =>
      slidingAgg(Tables.events(s, d))
    },

    // ---- session windows: gaps-and-islands oracle ------------------------
    sql("st3_session_window",
      """WITH seq AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              >= INTERVAL '5 minutes' OR
        |              LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |), sess AS (
        |  SELECT user_id, ts,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM seq
        |)
        |SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS session_start,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM sess GROUP BY user_id, sid""".stripMargin) { (s, d) =>
      sessionAgg(Tables.events(s, d))
    },

    // ---- stream-static join, batch-equivalent plan (§2.9) ----------------
    // broadcastDim asserted true: streaming enrichment broadcasts the dim
    // whenever it fits executors (the usual contract; true at test SFs).
    // customer is SF-scaling, so a 100 TB-regime deployment either passes
    // false (per-batch keyed shuffle against the dim) or replaces the dim
    // with a pre-bucketed / keyed-state lookup — staticEnrich's scaladoc
    // owns that precondition.
    sql("st4_stream_static_join",
      """SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment
        |FROM events e
        |LEFT JOIN customer c ON c.c_custkey = e.user_id""".stripMargin) { (s, d) =>
      staticEnrich(Tables.events(s, d),
        Tables.customer(s, d).select(col("c_custkey"), col("c_name"), col("c_mktsegment")),
        broadcastDim = true)
    },

    // ---- streaming ingestion dedup, batch-equivalent plan (§2.9) ---------
    // At-least-once delivery simulated deterministically: every 7th event
    // is re-delivered an hour later (a webhook retry); first-wins per
    // event_id must keep every ORIGINAL and drop every retry — the hash
    // gate fails if the window keeps the wrong delivery.
    sql("st6_stream_dedup",
      """WITH delivered AS (
        |  SELECT event_id, ts, user_id, event_type, value, props FROM events
        |  UNION ALL
        |  SELECT event_id, ts + INTERVAL '1 hour' AS ts, user_id, event_type,
        |         value, props
        |  FROM events WHERE event_id % 7 = 0
        |), r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY ts) AS rn
        |  FROM delivered
        |)
        |SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
        |  value, props
        |FROM r WHERE rn = 1""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"), col("props"))
      val retries = ev.filter(col("event_id") % 7 === 0)
        .withColumn("ts", col("ts") + expr("INTERVAL 1 HOUR"))
      firstDelivery(ev.unionByName(retries))
    },

    // ---- stream-stream interval join, batch-equivalent plan (§2.9) -------
    sql("st5_stream_stream_join",
      """SELECT v.event_id AS view_id, c.event_id AS click_id, v.user_id
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON c.user_id = v.user_id
        |  AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL '12 hours'""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      intervalPairJoin(ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "click"))
    },

    // ---- stream-stream LEFT OUTER interval join (§2.9) -------------------
    // st5's attribution join, plus the rows st5 silently drops: views
    // with NO click inside the window emit (view_id, NULL). In the
    // streaming form that null emission is the hard part — an unmatched
    // view can only be declared unmatched once BOTH sides' watermarks
    // pass its join-window end, at which point its buffered state is
    // evicted and the null row emits (StreamsSpec proves emission and
    // that the watermark actually gates it). Batch-equivalent plan: the
    // same equi key + range residual, left_outer.
    sql("st10_stream_left_outer",
      """SELECT v.event_id AS view_id, c.event_id AS click_id, v.user_id
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON c.user_id = v.user_id
        |  AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL '12 hours'""".stripMargin) {
      (s, d) =>
        val ev = Tables.events(s, d)
        intervalPairJoin(ev.filter(col("event_type") === "view"),
          ev.filter(col("event_type") === "click"), "left_outer")
    }
  )
}
