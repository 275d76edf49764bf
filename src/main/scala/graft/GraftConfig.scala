package graft

import org.apache.spark.sql.SparkSession

/** THE config surface for the engine's durable-artifact lifecycle knobs
  * (round-9 verdict "Next #7" — one documented place instead of a
  * sysprop here and a parameter there). All keys live in the session's
  * SparkConf under `spark.graft.*`, so they flow through
  * `--conf`/`spark-defaults.conf`/`GraftSession.builder` like any other
  * Spark setting and reach every executor-side consumer.
  *
  * | key | default | consumer |
  * |---|---|---|
  * | `spark.graft.spill.ttl.minutes` | 60 | [[graft.llm.Dedup]]'s stale-run
  *   pruner: abandoned spill run-dirs under the LOCAL-MODE tmpdir
  *   fallback older than this are reclaimed (explicit spillDir /
  *   checkpoint dirs are caller-owned and never touched) |
  * | `spark.graft.ledger.compact.every` | off | default compaction cadence
  *   for the st9/st11 streaming ledgers: compact after every N-th tick
  *   when the caller doesn't pass `compactEvery` explicitly |
  * | `spark.graft.closure.unionFindMax` | 2000000 | edge bound up to which
  *   [[graft.llm.Dedup.mergeClosureLabels]] folds a tick's representative
  *   graph driver-side; a larger tick (an AvailableNow catch-up replaying
  *   a backlog) falls back to the distributed spill-looped closure.
  *   Lower it when driver memory is tight; StreamsSpec drives a stream
  *   tick across the bound to prove both paths yield identical labels |
  * | `spark.graft.bpe.trainTopV` / `.trainRounds` | 64 / 32 | BPE trainer
  *   sample size and merge rounds, resolved by [[graft.llm.TextStats
  *   .bpeTrainParams]] for both production train entry points |
  * | `spark.graft.index.compactAfterBatches` | off | streaming IVF index:
  *   fold committed delta batches once the set reaches n |
  * | `spark.graft.bpe.lifecycleDriftPct` | 10 | tokenizer lifecycle:
  *   retrain when a batch compresses >n% worse than the serving model's
  *   train-time baseline |
  * | `spark.graft.bpe.keepVersions` | off | tokenizer lifecycle: reclaim
  *   model versions older than the newest n after a retrain |
  * | `spark.graft.bpe.compactAfterBatches` | off | tokenizer lifecycle:
  *   fold committed corpus histograms once the set reaches n |
  * | `spark.graft.bpe.modelRoot` | unset | artifact root the
  *   `graft_bpe_count`/`graft_bpe_tokens` SQL functions serve from |
  * | `spark.graft.index.root` | unset | IVF index (or IndexLifecycle)
  *   root the `graft_ann_topk` SQL table function serves from |
  * | `spark.graft.sink.healWaitMs` | 10000 | composed-sink readers: wait
  *   this long for a live purge swap (marker present, primary mid-swap)
  *   before treating the marker as stale and healing the swap |
  */
object GraftConfig {

  val SpillTtlKey = "spark.graft.spill.ttl.minutes"
  val LedgerCompactEveryKey = "spark.graft.ledger.compact.every"

  def spillTtlMinutes(spark: SparkSession): Long =
    spark.conf.getOption(SpillTtlKey).map(_.trim.toLong).getOrElse(60L)

  /** None = no automatic ledger compaction (append-only until the
    * caller compacts); Some(n ≥ 1) = compact every n-th tick.
    */
  def ledgerCompactEvery(spark: SparkSession): Option[Int] =
    spark.conf.getOption(LedgerCompactEveryKey).map { v =>
      // r17: every set-but-out-of-range spark.graft.* knob fails loudly
      // (the r16 ADVICE discipline applied to the whole surface) — a
      // stated intent silently falling back to a default is the worst
      // of both worlds
      val n = v.trim.toInt
      require(n >= 1, s"$LedgerCompactEveryKey=$n must be >= 1")
      n
    }

  val ClosureUnionFindMaxKey = "spark.graft.closure.unionFindMax"

  /** None = the [[graft.llm.Dedup.MergeUnionFindMax]] default. */
  def closureUnionFindMax(spark: SparkSession): Option[Int] =
    spark.conf.getOption(ClosureUnionFindMaxKey).map { v =>
      val n = v.trim.toInt
      require(n >= 0, s"$ClosureUnionFindMaxKey=$n must be >= 0")
      n
    }

  val BpeTrainTopVKey = "spark.graft.bpe.trainTopV"
  val BpeTrainRoundsKey = "spark.graft.bpe.trainRounds"

  /** BPE trainer sample size / merge rounds, resolved through
    * [[graft.llm.TextStats.bpeTrainParams]] by both production train
    * entry points (r15; r16 histogram path). None = the
    * [[graft.llm.TextStats.BpeTrainTopV]]/[[graft.llm.TextStats.BpeTrainRounds]]
    * defaults. The sample is DRIVER-collected (the codebook-training
    * posture), so topV is clamped by
    * [[graft.llm.TextStats.BpeTrainMaxTopV]] at the call site — a
    * mis-set knob fails loudly there, never silently OOMs the driver.
    */
  def bpeTrainTopV(spark: SparkSession): Option[Int] =
    spark.conf.getOption(BpeTrainTopVKey).map { v =>
      val n = v.trim.toInt
      require(n >= 1, s"$BpeTrainTopVKey=$n must be >= 1")
      n
    }

  def bpeTrainRounds(spark: SparkSession): Option[Int] =
    spark.conf.getOption(BpeTrainRoundsKey).map { v =>
      val n = v.trim.toInt
      require(n >= 1, s"$BpeTrainRoundsKey=$n must be >= 1")
      n
    }

  val IndexCompactAfterBatchesKey = "spark.graft.index.compactAfterBatches"

  /** None (default) = no automatic delta compaction in the streaming
    * index lifecycle; Some(n ≥ 2) = [[graft.streaming.IndexLifecycle.tick]]
    * folds the serving generation's delta batches through
    * [[graft.llm.Similarity.IvfIndex.compact]] whenever the committed
    * set reaches n (r16 — the `ledgerCompactEvery` discipline applied
    * to the ANN index; n = 1 is rejected because compacting after every
    * tick rewrites the whole delta mass per batch, the quadratic
    * behavior the threshold exists to avoid).
    */
  def indexCompactAfterBatches(spark: SparkSession): Option[Int] =
    spark.conf.getOption(IndexCompactAfterBatchesKey).map { v =>
      val n = v.trim.toInt
      require(n >= 2,
        s"$IndexCompactAfterBatchesKey=$n must be >= 2 (1 would rewrite " +
          "the whole delta mass every tick)")
      n
    }

  val BpeDriftPctKey = "spark.graft.bpe.lifecycleDriftPct"

  /** None = [[graft.streaming.BpeLifecycle.DefaultDriftPct]] (10). The
    * tokenizer lifecycle's retrain threshold (r16): retrain when a
    * batch's codepoints-per-token under the serving table falls more
    * than this percent below the table's train-time baseline. Bounded
    * to [0, 100) — 0 retrains on ANY degradation, ≥ 100 would never
    * fire (cpt is positive).
    */
  def bpeLifecycleDriftPct(spark: SparkSession): Option[Int] =
    spark.conf.getOption(BpeDriftPctKey).map { v =>
      // a SET knob is a stated intent — an out-of-range value falling
      // back to the default silently would invert the fail-loud
      // discipline tick applies to caller-passed values (r16 ADVICE)
      val p = v.trim.toInt
      require(p >= 0 && p < 100, s"$BpeDriftPctKey=$p outside [0, 100)")
      p
    }

  val BpeKeepVersionsKey = "spark.graft.bpe.keepVersions"

  /** None (default) = keep every committed model version (the
    * provenance-maximal posture); Some(n ≥ 1) = after each
    * drift-triggered retrain, [[graft.streaming.BpeLifecycle.tick]]
    * reclaims versions older than the newest n via
    * [[graft.llm.BpeArtifact.retainVersions]]. The table FINGERPRINT
    * carried by downstream manifests stays verifiable either way.
    */
  def bpeKeepVersions(spark: SparkSession): Option[Int] =
    spark.conf.getOption(BpeKeepVersionsKey).map { v =>
      val k = v.trim.toInt
      require(k >= 1, s"$BpeKeepVersionsKey=$k must be >= 1")
      k
    }

  val BpeCompactAfterBatchesKey = "spark.graft.bpe.compactAfterBatches"

  /** None (default) = the corpus histogram store keeps one dir per
    * batch until an operator compacts; Some(n ≥ 2) = a tick folds the
    * committed entry set into ONE summed histogram
    * ([[graft.streaming.BpeLifecycle.compactHistograms]]) whenever it
    * reaches n — the [[IndexCompactAfterBatchesKey]] discipline on the
    * tokenizer's corpus store. n = 1 is rejected for the same reason:
    * folding after every tick rewrites the whole corpus histogram per
    * batch.
    */
  def bpeCompactAfterBatches(spark: SparkSession): Option[Int] =
    spark.conf.getOption(BpeCompactAfterBatchesKey).map { v =>
      val k = v.trim.toInt
      require(k >= 2,
        s"$BpeCompactAfterBatchesKey=$k must be >= 2 (1 would rewrite " +
          "the whole corpus histogram every tick)")
      k
    }

  /** [[graft.llm.BpeArtifact]] root the `graft_bpe_count`/
    * `graft_bpe_tokens` SQL functions ([[GraftExtensions]]) serve from
    * — typically `<BpeLifecycle root>/model`. Unset = the functions
    * fail loudly at analysis time.
    */
  val BpeModelRootKey = "spark.graft.bpe.modelRoot"

  /** Index root the `graft_ann_topk` SQL table function
    * ([[GraftExtensions]]) serves from (r17 — the `graft_bpe_count`
    * parity move for the vector side): either a persisted IVF / IVF-PQ
    * index root or an [[graft.streaming.IndexLifecycle]] root, whose
    * CURRENT committed generation is resolved per query. Unset = the
    * function fails loudly at analysis time.
    */
  val IndexRootKey = "spark.graft.index.root"

  val SinkHealWaitMsKey = "spark.graft.sink.healWaitMs"

  /** How long a composed-sink reader waits for a LIVE purge rewrite
    * (the `<dir>__purging` marker is present and the primary dir is
    * mid-swap) before treating the marker as a crashed purge's leftover
    * and healing the swap itself (r19 — the reader-heal vs live-swap
    * race fix). A live [[graft.streaming.Streams.forgetDocs]] swap is
    * two renames — microseconds — so the default is generous; specs
    * shrink it to keep the stale-marker path fast.
    */
  def sinkHealWaitMs(spark: SparkSession): Long =
    spark.conf.getOption(SinkHealWaitMsKey).map { v =>
      val ms = v.trim.toLong
      require(ms >= 0, s"$SinkHealWaitMsKey=$ms must be >= 0")
      ms
    }.getOrElse(10000L)
}
