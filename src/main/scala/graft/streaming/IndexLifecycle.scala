package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.llm.Similarity
import graft.llm.Similarity.{IvfIndex, Quantizer}

/** Drift-aware STREAMING index lifecycle (st12) — the s18/s19/s20 arc
  * run continuously: vector batches arrive as a stream, in-distribution
  * batches land as idempotent per-batch DELTAS on the current index
  * generation, and a drifted batch (bias-corrected PSI ≥ 0.2,
  * [[Similarity.correctedMaxPsi]]) triggers a REBUILD into a new
  * generation directory with a pointer cutover — a serving reader never
  * observes a half-built index.
  *
  * Layout under `lcRoot`:
  * {{{
  *   gen-init/, gen-b<batchId>/   full index roots (centroids +
  *                                assignments [+ deltas/batch=<id>]
  *                                + pqcodebook + codes
  *                                [+ codes_deltas/batch=<id>] — the
  *                                r12 s23 serving shape)
  *   CURRENT                      pointer file naming the serving gen
  * }}}
  *
  * r12 — generations SERVE the s23 memory-bounded shape: every build
  * (init and retrain) trains a PQ codebook alongside the coarse
  * centroids and writes cell-partitioned 16 B/vector codes; a delta
  * tick encodes its batch through the generation's FROZEN codebooks
  * into an idempotent `codes_deltas/batch=<id>` overwrite (mirroring
  * the vector delta); [[serve]] runs ADC over base ∪ delta codes with
  * exact re-rank against the full-precision assignments. A retrain
  * re-trains BOTH codebooks. The assignments store remains the
  * full-precision source of truth, so drift sampling, RTBF purge
  * (which r12 extends into the code stores), retention, and replay
  * semantics are unchanged.
  *
  * Exactly-once without a fragile after-effect marker (the manifest
  * lesson, applied twice):
  *  - a DELTA batch writes `deltas/batch=<id>` with OVERWRITE — replay
  *    rewrites identical content, never double-appends (the reason
  *    st12 does not reuse s18's in-place parquet `append`, which cannot
  *    be replayed safely);
  *  - a RETRAIN batch builds its generation under the DETERMINISTIC
  *    name `gen-b<id>` (replay overwrites the same dir), records the
  *    applied-batch set INSIDE the generation before the pointer flip,
  *    and commits by the flip — so a replayed retrain either re-does
  *    work idempotently (crash before flip) or no-ops on the applied
  *    set (after).
  *  - the pointer flip is delete-then-rename guarded by a per-gen
  *    `_GRAFT_COMMITTED` marker ([[ParquetLedger]]'s discipline): a
  *    reader finding no valid pointer recovers the newest committed
  *    generation instead of failing or resetting.
  *
  * A retrain generation absorbs every prior delta (the rebuild reads
  * base ∪ deltas), so retrains double as delta compaction; the RTBF
  * cascade ([[IvfIndex.purge]]) reaches base and deltas of
  * the CURRENT generation. Prior generations are dead directories the
  * retention policy reclaims: [[reclaimDeadGenerations]] deletes
  * committed generations strictly older than the serving one (keeping
  * the newest `keepN − 1` of them as rollback copies), plus crashed
  * uncommitted attempts older than the serving commit — and [[tick]]
  * invokes it after every cutover, so a continuously-retraining
  * deployment holds at most `keepN` full index copies at any time.
  * The serving generation is NEVER deleted (it is the crash-recovery
  * target of [[currentRoot]]), and nothing newer than it is touched (a
  * newer uncommitted dir is an in-flight retrain).
  *
  * The per-tick drift check is BATCH-proportional, not corpus-
  * proportional: each generation persists a hash-sampled drift
  * REFERENCE (`driftref`, ≤ [[DriftRefTargetRows]] rows — the
  * distribution the generation's codebook was trained on) at build
  * time, and [[tick]] compares the incoming batch against that bounded
  * sample instead of rescanning base ∪ deltas. Estimator honesty: under
  * no drift, PSI of an m-row sample against an n-row batch has
  * first-order expectation (B−1)·(1/m + 1/n) — exactly the χ² bias
  * [[Similarity.correctedMaxPsi]] subtracts (it uses its inputs' OWN
  * row counts, so the correction stays consistent with the sample);
  * residual noise is O(√(B−1)·(1/m + 1/n)), ≪ the 0.2 threshold at the
  * 8192-row target. When the base is smaller than the target the sample
  * IS the base and the decision is bit-identical to the full scan.
  */
object IndexLifecycle {

  private val CommitMarker = "_GRAFT_COMMITTED"

  /** Target row count of a generation's persisted drift-reference
    * sample — large enough that PSI sampling noise is far below the
    * 0.2 retrain threshold, small enough that a tick's drift scan is
    * O(1) in the corpus.
    */
  val DriftRefTargetRows: Long = 8192L

  private def fsOf(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  /** Recovery ordering of generation names: the embedded batch id
    * (`gen-init` = −1, `gen-b<id>` = id) — monotone by construction.
    */
  private def genOrder(name: String): Long =
    if (name == "gen-init") -1L
    else scala.util.Try(name.stripPrefix("gen-b").toLong).getOrElse(-2L)

  /** Serving generation root: the pointer when it names a committed
    * generation; else the newest committed generation (crash between
    * pointer delete and rename). None = lifecycle not initialized.
    */
  def currentRoot(spark: SparkSession, lcRoot: String): Option[String] = {
    val fs = fsOf(spark, lcRoot)
    val ptr = new Path(lcRoot, "CURRENT")
    def committed(name: String): Boolean =
      fs.exists(new Path(new Path(lcRoot, name), CommitMarker))
    val fromPtr =
      try {
        if (!fs.exists(ptr)) None
        else {
          val in = fs.open(ptr)
          val name =
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
            finally in.close()
          Some(name).filter(n => n.nonEmpty && committed(n))
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    fromPtr.orElse {
      val root = new Path(lcRoot)
      if (!fs.exists(root)) None
      else fs.listStatus(root).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("gen-"))
        .filter(st => committed(st.getPath.getName))
        // order by the BATCH ID embedded in the name (init = −1), not
        // marker mtime: batch ids are monotone by construction while
        // two commits can share a filesystem timestamp tick (and
        // clocks can step) — the deterministic order is the safe one
        .sortBy(st => genOrder(st.getPath.getName))
        .lastOption.map(_.getPath.getName)
    }.map(n => s"$lcRoot/$n")
  }

  private def commitGen(spark: SparkSession, lcRoot: String, name: String): Unit = {
    val fs = fsOf(spark, lcRoot)
    fs.create(new Path(new Path(lcRoot, name), CommitMarker), true).close()
    val tmp = new Path(lcRoot, "CURRENT.tmp")
    val out = fs.create(tmp, true)
    try out.write((name + "\n").getBytes("UTF-8")) finally out.close()
    val ptr = new Path(lcRoot, "CURRENT")
    fs.delete(ptr, false)
    fs.rename(tmp, ptr)
    ()
  }

  /** Persist a generation's drift reference: a deterministic hash
    * sample of the vectors the generation's codebook was trained on
    * (expected ≤ ~[[DriftRefTargetRows]] rows; the WHOLE corpus when it
    * is smaller than the target, so small-scale decisions are
    * bit-identical to a full scan). One extra bounded write amortized
    * into the build — the build scans every vector anyway.
    */
  private def writeDriftRef(spark: SparkSession, genRoot: String,
      vecs: DataFrame, nRows: Long): Unit = {
    val mod = math.max(1L, nRows / DriftRefTargetRows)
    vecs.select(col("vec_id"), col("embedding"))
      .filter(pmod(xxhash64(col("vec_id"), lit(42L)), lit(mod)) === 0)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$genRoot/driftref")
  }

  /** The frame a tick's drift decision scans: the generation's persisted
    * `driftref` sample when present, else (a pre-r11 generation) the
    * full base∪deltas read — the compat fallback that pays the corpus
    * scan the reference sample exists to avoid.
    */
  private[streaming] def driftBase(spark: SparkSession, genRoot: String): DataFrame = {
    val p = new Path(s"$genRoot/driftref")
    if (fsOf(spark, genRoot).exists(p)) spark.read.parquet(p.toString)
    else IvfIndex.open(spark, genRoot).vectors
      .select(col("vid").as("vec_id"), col("ve").as("embedding"))
  }

  /** Build the initial generation from a base corpus and commit it.
    * r12: generations carry the s23 PQ serving shape from birth —
    * [[IvfIndex.withPq]] trains the generation's PQ codebook
    * and writes the cell-partitioned code store beside the assignments,
    * all BEFORE the commit marker (a generation is never committed
    * half-shaped; a crash mid-augment leaves an uncommitted dir its
    * replay overwrites).
    */
  def init(spark: SparkSession, lcRoot: String, baseVecs: DataFrame): String = {
    val root = s"$lcRoot/gen-init"
    fsOf(spark, lcRoot).delete(new Path(root), true) // replayed init rebuilds
    // r20: count the base ONCE and size the build from it — the build
    // used to run its own count of the same frame one action later
    // (guide §1.2: don't recompute what is already known); and the
    // drift-reference sample and the PQ augment are independent store
    // outputs under the same uncommitted generation dir, so they
    // overlap (guide §2.6) — the commit marker still lands strictly
    // after BOTH, so the crash window is unchanged.
    val nBase = baseVecs.count()
    buildGeneration(spark, root, baseVecs, nBase)
    commitGen(spark, lcRoot, "gen-init")
    root
  }

  /** Build an uncommitted generation at `root` from `vecs` (`n` rows):
    * the sampled √N coarse quantizer, then the PQ codec and the drift
    * reference — independent outputs of the same dir, overlapped; the
    * caller commits strictly after both.
    */
  private def buildGeneration(spark: SparkSession, root: String,
      vecs: DataFrame, n: Long): Unit = {
    val idx = IvfIndex.build(vecs,
      Quantizer.sampled(vecs, Some(Similarity.deriveNlist(n))), Some(root))
    Similarity.inParallel(writeDriftRef(spark, root, vecs, n), idx.withPq(vecs, n))
    ()
  }

  /** Delete dead index generations (the storage half of the retrain
    * lifecycle — without it every PSI-triggered retrain strands a full
    * corpus-sized index directory forever). Reclaims (a) COMMITTED
    * generations strictly older than the serving one, beyond the newest
    * `keepN − 1` kept as rollback copies, and (b) uncommitted dirs
    * older than the serving commit (crashed retrain attempts that a
    * LATER retrain superseded — batch ids are monotone and foreachBatch
    * is serial, so an older uncommitted dir can never be in-flight).
    * Never touched: the serving generation ([[currentRoot]]'s recovery
    * target) and anything newer than it (a newer uncommitted dir IS an
    * in-flight retrain). Returns the deleted generation names. No-op
    * when the lifecycle is uninitialized.
    */
  def reclaimDeadGenerations(spark: SparkSession, lcRoot: String,
      keepN: Int = 1): Seq[String] = {
    require(keepN >= 1, s"keepN must be >= 1, got $keepN")
    val fs = fsOf(spark, lcRoot)
    currentRoot(spark, lcRoot).toSeq.flatMap { cur =>
      val serving = cur.substring(cur.lastIndexOf('/') + 1)
      val servingOrd = genOrder(serving)
      val older = fs.listStatus(new Path(lcRoot)).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("gen-"))
        .map(_.getPath.getName)
        .filter(n => n != serving && genOrder(n) < servingOrd)
        .sortBy(n => -genOrder(n))
      val committed = older.filter(n =>
        fs.exists(new Path(new Path(lcRoot, n), CommitMarker)))
      val kept = committed.take(keepN - 1).toSet
      val dead = older.filterNot(kept)
      dead.foreach(n => fs.delete(new Path(lcRoot, n), true))
      dead
    }
  }

  /** One lifecycle tick for a (vec_id, embedding) batch. Returns true
    * iff the batch triggered a retrain cutover.
    */
  def tick(spark: SparkSession, lcRoot: String, batchVecs: DataFrame,
      batchId: Long,
      psiThreshold: Double = Similarity.RetrainPsiThreshold,
      keepGenerations: Int = 1): Boolean = {
    val g = currentRoot(spark, lcRoot).getOrElse(
      throw new IllegalStateException(
        s"IndexLifecycle at $lcRoot not initialized — call init() first"))
    val fs = fsOf(spark, lcRoot)
    val applied = Streams.readAppliedBatches(fs, new Path(g))
    if (applied.contains(batchId)) false
    else {
      val batch = batchVecs.select(col("vec_id"), col("embedding"))
      // drift decision against the generation's BOUNDED reference
      // sample — an in-distribution tick costs O(batch + sample), never
      // a base∪deltas scan (which at 100 TB streaming cadence was the
      // first thing to melt: two counts plus a full posexplode pass of
      // the whole historical corpus per micro-batch)
      if (Similarity.correctedMaxPsi(driftBase(spark, g), batch)
          >= psiThreshold) {
        val old = IvfIndex.open(spark, g).vectors
          .select(col("vid").as("vec_id"), col("ve").as("embedding"))
        val name = s"gen-b$batchId"
        val newRoot = s"$lcRoot/$name"
        fs.delete(new Path(newRoot), true) // crashed prior attempt
        val full = old.unionByName(batch)
        // ONE count prices nlist, the PQ training sample and the new
        // drift reference; the retrain re-trains BOTH codebooks — a
        // drifted corpus moved off the old PQ manifold too
        buildGeneration(spark, newRoot, full, full.count())
        Streams.writeAppliedBatches(fs, new Path(newRoot), applied + batchId)
        commitGen(spark, lcRoot, name)
        // the retention policy: dead generations are reclaimed at the
        // moment a cutover creates one (keepGenerations bounds the live
        // index copies; the serving gen is never touched)
        reclaimDeadGenerations(spark, lcRoot, keepGenerations)
        true
      } else {
        // the batch lands as an idempotent delta through the generation's
        // FROZEN codebooks — vectors and (on a PQ generation) codes,
        // committed jointly; a pre-r12 generation keeps full-precision
        // serving
        val idx = IvfIndex.open(spark, g)
        idx.append(batch, batchId)
        // informational (the delta overwrite is the idempotence); also
        // lets a replay skip the drift scan entirely
        Streams.writeAppliedBatches(fs, new Path(g), applied + batchId)
        // optional auto-compaction (r16, spark.graft.index.compactAfterBatches):
        // fold the committed delta set once it reaches the threshold. The
        // merged batch id is −(batchId)−1 — stream batch ids are monotone
        // non-negative, so a reserved NEGATIVE id can never collide with a
        // future tick's id (a collision would let that tick's idempotent
        // overwrite replace merged content), and successive compactions at
        // later ticks get strictly different ids. Runs AFTER the applied-set
        // write: a crash anywhere around it leaves a fully-served index —
        // the next over-threshold tick simply compacts again.
        graft.GraftConfig.indexCompactAfterBatches(spark).foreach { n =>
          val committed = Similarity.readDeltaManifest(
            fsOf(spark, g), g).map(_.size).getOrElse(0)
          if (committed >= n)
            idx.compact(mergedBatchId = -batchId - 1L)
        }
        false
      }
    }
  }

  /** Serve top-k from the current generation. r12: a PQ-shaped
    * generation serves the MEMORY-BOUNDED loop — ADC over base ∪ delta
    * codes (mSub bytes/vector resident) with exact re-rank against the
    * full-precision assignments, the s23 serving shape running on
    * streaming generations. A pre-r12 generation (no pqcodebook/) falls
    * back to full-precision serving; [[IvfIndex.open]] detects which.
    */
  def serve(spark: SparkSession, lcRoot: String, queries: DataFrame,
      k: Int): DataFrame = {
    val g = currentRoot(spark, lcRoot).getOrElse(
      throw new IllegalStateException(s"IndexLifecycle at $lcRoot not initialized"))
    IvfIndex.open(spark, g).serve(queries, k)
  }

  /** Drive the lifecycle from a parquet stream of (vec_id, embedding)
    * batches. `init` must have run against the base corpus first.
    *
    * Batch-id identity is ENFORCED per stream incarnation (r17 — the
    * BpeLifecycle guard, and the stricter of the two by necessity):
    * this lifecycle's exactly-once anchor IS the applied-batch set (a
    * delta append has no content-addressed commit the way
    * BpeLifecycle's absorbs manifest is), so batch ids must never
    * renumber except for pure replays of the same source. A
    * fresh/relocated checkpoint restarts ids at 0: a colliding NEW
    * batch would be silently dropped by the applied-set skip, and
    * resetting the set instead would double-append batches a retrain
    * already absorbed. runStream therefore refuses a changed query id
    * against an existing binding; [[rebindStream]] is the operator's
    * explicit same-source-replay declaration (the applied sets and
    * idempotent delta overwrites then make the replay a no-op). For
    * genuinely new data under restarted ids, use a fresh lcRoot or
    * tick() directly with non-colliding ids.
    */
  def runStream(spark: SparkSession, srcDir: String, lcRoot: String,
      checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      psiThreshold: Double = Similarity.RetrainPsiThreshold,
      keepGenerations: Int = 1): StreamingQuery = {
    val schema = spark.read.parquet(srcDir).schema
    val reader = maxFilesPerTrigger.foldLeft(
      spark.readStream.schema(schema).format("parquet")) {
      (r, n) => r.option("maxFilesPerTrigger", n)
    }
    reader.load(srcDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Streams.bindStreamIncarnation(spark, lcRoot, checkpointDir,
          (old, sid) =>
            s"IndexLifecycle at $lcRoot is bound to stream incarnation " +
              s"$old but this query is $sid — its batch ids restart at 0 " +
              "and would collide with applied batches. If this stream " +
              "REPLAYS the same source, call IndexLifecycle.rebindStream " +
              "(replays then no-op through the applied sets and " +
              "idempotent delta overwrites); if it ingests NEW data, use " +
              "a fresh lcRoot or tick() directly with non-colliding ids.")
        tick(spark, lcRoot, batch, batchId, psiThreshold, keepGenerations)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Operator acknowledgment that the NEXT [[runStream]] incarnation
    * against `lcRoot` replays the same source (checkpoint lost or
    * relocated): drops the incarnation binding so the next query
    * adopts it. The per-generation applied sets are KEPT — under a
    * true replay the ids name the same batches.
    */
  def rebindStream(spark: SparkSession, lcRoot: String): Unit =
    Streams.dropStreamBinding(spark, lcRoot)
}
