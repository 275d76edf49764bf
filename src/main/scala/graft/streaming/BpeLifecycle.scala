package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.llm.{BpeArtifact, TextStats}

/** Drift-aware TOKENIZER lifecycle (st15, r16) — [[IndexLifecycle]]'s
  * arc applied to the other model the pipeline serves. The r15 verdict
  * observed the asymmetry: the IVF index got generations, retention,
  * drift-triggered retrains, and RTBF, while the merge table feeding
  * six registry entries had none of it; [[BpeArtifact]] (r16) gave the
  * table its versioned store, and this object closes the loop — word
  * batches arrive as a stream, in-distribution batches are RECORDED
  * into the training corpus, and a batch the serving table compresses
  * materially worse (distribution drift: a new language, a charset
  * shift, a domain change) triggers a retrain on everything seen and an
  * atomic version flip.
  *
  * Layout under `lcRoot`:
  * {{{
  *   hist/base/, hist/batch=<id>[r<rev>]/,  per-batch WORD HISTOGRAMS
  *     hist/compact=<n>[r<rev>]/            (w, freq) parquet; compact
  *                                          dirs are folded sums
  *                                          ([[compactHistograms]]),
  *                                          r<rev> dirs purge revisions
  *   hist/_GRAFT_BATCHES                    committed-batch manifest
  *                                          ("<dirname> <docCount>
  *                                          <absorbed-ids-csv>" lines,
  *                                          tmp-write + atomic rename —
  *                                          see [[CorpusEntry]])
  *   model/                                 [[BpeArtifact]] root
  *                                          (v=<n>/…, CURRENT)
  *   _applied_batches                       applied tick ids (skip-fast;
  *                                          idempotence anchor is the
  *                                          absorbs manifest, not this)
  * }}}
  *
  * **The state is histograms, not text.** [[TextStats.bpeLearnMerges]]
  * is a pure function of the corpus word histogram, and histograms are
  * ADDITIVE across batches — so the lifecycle persists each batch's
  * (w, freq) table (vocabulary-sized, Zipf-bounded) instead of the raw
  * corpus, and a retrain is a keyed freq-sum over tiny tables plus the
  * driver-side merge loop. At 100 TB streaming cadence this is the
  * difference between the lifecycle owning a second copy of the lake
  * and it owning kilobytes per batch; it is also what makes RTBF exact
  * (see [[purge]]: a forgotten doc's histogram SUBTRACTS).
  *
  * **The drift metric is the model's own promise.** Each published
  * version carries its train-time compression baseline —
  * `baseline_ncp / baseline_ntok`, non-whitespace codepoints per
  * learned token over the corpus that trained it ([[BpeArtifact]]
  * meta). A tick prices the incoming batch under the SERVING table and
  * retrains when the batch's codepoints-per-token falls more than
  * `driftPct` percent below the baseline (fewer merges fire ⇒ more
  * tokens per codepoint ⇒ the table wasn't trained for this text).
  * The compare is exact-integer cross-multiplication (`BigInt`, no
  * float rounding), so the decision is engine-replayable — st15's
  * oracle re-derives it in SQL. Measured on the fixture corpus: a
  * same-distribution batch degrades ≤ 2.7% at every SF while a
  * vowel-remapped batch degrades ~35%, so the 10% default separates
  * with ≥ 3× margin on both sides.
  *
  * Exactly-once, the house discipline: a batch's histogram dir is
  * OVERWRITTEN whole (replay rewrites identical bytes), the batch
  * becomes corpus-visible only via the single-file manifest flip, and
  * a retrain publishes through [[BpeArtifact]]'s marker + pointer
  * commit. A replayed retrain is a no-op by provenance: the merged
  * histogram's fingerprint already names the current version's train
  * corpus, so [[retrainIfChanged]] skips the publish.
  */
object BpeLifecycle {

  /** Retrain when a batch's codepoints-per-token under the serving
    * table falls more than this percentage below the table's
    * train-time baseline. See the class doc for the measured margins.
    */
  val DefaultDriftPct: Int = 10

  private val HistManifest = "_GRAFT_BATCHES"

  /** One tick's audit row: which model version judged the batch, the
    * exact metering that judged it, and the verdict.
    */
  case class TickResult(batchId: Long, servedVersion: Long,
      nCp: Long, nTok: Long, retrained: Boolean)

  def modelRoot(lcRoot: String): String = s"$lcRoot/model"
  private def histRoot(lcRoot: String): String = s"$lcRoot/hist"

  private def fsOf(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  /** Committed corpus batches in commit order: (histDirName, docCount).
    * The manifest is the corpus-membership commit point — a histogram
    * dir not named here is invisible to retrains (torn write, or a
    * purge-superseded revision pending sweep).
    */
  /** One corpus-manifest entry: the histogram dir name, its document
    * count, and the ORIGINAL batch ids whose words it holds
    * (`absorbs`) — a plain batch entry absorbs exactly its own id; a
    * compaction entry absorbs everything it folded. The absorbs set is
    * what keeps RTBF addressable after compaction: an erasure request
    * names the batch a doc ARRIVED in, and the manifest answers which
    * dir its words live in now.
    */
  case class CorpusEntry(name: String, docs: Long, absorbs: Seq[Long])

  private[streaming] def readManifest(spark: SparkSession,
      lcRoot: String): Seq[CorpusEntry] = {
    val fs = fsOf(spark, lcRoot)
    val p = new Path(histRoot(lcRoot), HistManifest)
    // crash recovery for the rewrite's delete→rename window: the tmp
    // file is fully written and CLOSED before the destination is
    // deleted, so "destination missing but tmp present" can only mean a
    // crash between the delete and the rename — the tmp IS the intended
    // manifest. (A crash mid-tmp-write leaves the old destination
    // intact, which wins below.) Without this, a crash in the window
    // would silently erase the whole committed corpus from retrains.
    // FINISH the interrupted commit (rename tmp → dst) instead of
    // reading the tmp in place (r16 ADVICE): while the tmp is the ONLY
    // surviving copy, the next writeManifest's create(tmp, overwrite)
    // would truncate it — a second crash mid-tmp-write in that state
    // would lose the committed corpus after all.
    val tmpP = new Path(histRoot(lcRoot), s"$HistManifest.tmp")
    if (!fs.exists(p) && fs.exists(tmpP)) { fs.rename(tmpP, p); () }
    val src = Some(p).filter(fs.exists)
    src match {
      case None => Seq.empty
      case Some(f) =>
        val in = fs.open(f)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .flatMap { l =>
            l.trim.split("\\s+") match {
              case Array(name, n, abs) => scala.util.Try(CorpusEntry(name,
                n.toLong, abs.split(",").toSeq.map(_.toLong))).toOption
              case Array(name, n) => scala.util.Try(CorpusEntry(name,
                n.toLong, Seq(batchIdOf(name)))).toOption
              case _ => None
            }
          }.toSeq
        finally in.close()
    }
  }

  private def writeManifest(spark: SparkSession, lcRoot: String,
      entries: Seq[CorpusEntry]): Unit = {
    val fs = fsOf(spark, lcRoot)
    val dir = new Path(histRoot(lcRoot))
    if (!fs.exists(dir)) { fs.mkdirs(dir); () }
    val tmp = new Path(dir, s"$HistManifest.tmp")
    val out = fs.create(tmp, true)
    try out.write(entries.map(e =>
      s"${e.name} ${e.docs} ${e.absorbs.mkString(",")}\n").mkString
      .getBytes("UTF-8"))
    finally out.close()
    val dst = new Path(dir, HistManifest)
    fs.delete(dst, false)
    fs.rename(tmp, dst)
    ()
  }

  /** "batch=5" / "batch=5r2" → 5; "base" → −1. */
  private def batchIdOf(name: String): Long =
    if (name == "base" || name.startsWith("baser")) -1L
    else scala.util.Try(
      name.stripPrefix("batch=").takeWhile(_ != 'r').toLong).getOrElse(-2L)

  private val EntryNameRe = "^(base|batch=\\d+|compact=\\d+)(?:r(\\d+))?$".r

  /** Next purge-revision name for a histogram dir: `base` → `baser1`,
    * `batch=0r2` → `batch=0r3`, `compact=1` → `compact=1r1`.
    */
  private def bumpRev(name: String): String = name match {
    case EntryNameRe(stem, null) => s"${stem}r1"
    case EntryNameRe(stem, rev) => s"${stem}r${rev.toLong + 1L}"
    case _ => throw new IllegalStateException(s"unrecognized hist dir name $name")
  }

  private def writeHist(spark: SparkSession, lcRoot: String, name: String,
      docs: DataFrame): Unit = {
    TextStats.bpeWordHistogram(docs)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"${histRoot(lcRoot)}/$name")
  }

  /** Price a histogram dir under a table — the written-artifact read
    * path of [[TextStats.bpeHistMeter]] (the shared pricing expression;
    * the baseline side uses the same helper).
    */
  private def meterHist(spark: SparkSession, dir: String,
      pairs: Seq[(String, String)]): (Long, Long) =
    meterHistFrame(spark.read.parquet(dir), pairs)

  private def meterHistFrame(hist: DataFrame,
      pairs: Seq[(String, String)]): (Long, Long) =
    TextStats.bpeHistMeter(hist, pairs)

  /** The committed corpus as ONE histogram: manifest-listed batch
    * histograms summed by word. Reading by explicit dir list (never a
    * recursive glob) keeps torn or superseded dirs out by construction.
    */
  private def mergedHist(spark: SparkSession, lcRoot: String,
      entries: Seq[CorpusEntry]): DataFrame = {
    require(entries.nonEmpty, "BpeLifecycle: empty corpus manifest")
    val dirs = entries.map(e => s"${histRoot(lcRoot)}/${e.name}")
    spark.read.parquet(dirs: _*)
      .groupBy(col("w")).agg(sum(col("freq")).as("freq"))
  }

  /** Retrain from the committed corpus UNLESS the current version was
    * already trained on exactly this histogram (provenance-fingerprint
    * no-op — what makes a crashed retrain's replay idempotent instead
    * of version-churning). `force` (the RTBF path) publishes regardless
    * so the serving version provably postdates the purge.
    */
  private def retrainIfChanged(spark: SparkSession, lcRoot: String,
      entries: Seq[CorpusEntry], force: Boolean): BpeArtifact.Model = {
    // persist: the no-op fingerprint probe below and trainFromHist's
    // own provenance/baseline/sample passes all read the same merged
    // frame — one materialization instead of re-opening every
    // histogram dir per aggregation
    val h = mergedHist(spark, lcRoot, entries).persist()
    try {
      val cur = scala.util.Try(currentModel(spark, lcRoot)).toOption
      if (!force && cur.nonEmpty) {
        val fpRow = h.agg(expr("bit_xor(xxhash64(w, freq))").as("fp")).head()
        val fp = if (fpRow.isNullAt(0)) 0L else fpRow.getLong(0)
        if (fp == cur.get.corpusFingerprint) return cur.get
      }
      BpeArtifact.trainFromHist(spark, h, modelRoot(lcRoot),
        entries.map(_.docs).sum)
    } finally { h.unpersist(); () }
  }

  /** The serving table. */
  def currentModel(spark: SparkSession, lcRoot: String): BpeArtifact.Model =
    BpeArtifact.load(spark, modelRoot(lcRoot))

  /** Build the initial model from a base corpus and commit it: the
    * base histogram lands under `hist/base`, the manifest names it,
    * and v=1 publishes with its train-time baseline.
    */
  def init(spark: SparkSession, lcRoot: String,
      baseDocs: DataFrame): BpeArtifact.Model = {
    // a replayed crashed init (manifest still base-only, or absent) is
    // fine; init on a LIVE lifecycle is not — overwriting the manifest
    // would silently drop every recorded batch from future retrains
    val existing = readManifest(spark, lcRoot)
    require(existing.forall(_.absorbs == Seq(-1L)),
      s"BpeLifecycle at $lcRoot already has recorded batches — " +
        "init would drop them from the corpus; tick/purge instead, or " +
        "remove the root to re-bootstrap")
    // a purge marker can only be stale here (init is legal only on a
    // fresh or base-only root, whose corpus the re-bootstrap replaces
    // wholesale) — clear it so it can't trigger a spurious forced
    // retrain on the first tick
    fsOf(spark, lcRoot).delete(purgeMarkerPath(lcRoot), false)
    // r20: the doc count and the histogram write are independent scans
    // of the same base — overlap them (guide §2.6)
    val (n, _) = graft.llm.Similarity.inParallel(
      baseDocs.count(), writeHist(spark, lcRoot, "base", baseDocs))
    val entries = Seq(CorpusEntry("base", n, Seq(-1L)))
    writeManifest(spark, lcRoot, entries)
    retrainIfChanged(spark, lcRoot, entries, force = true)
  }

  /** One lifecycle tick for a (doc_id, source, text) batch. Returns
    * None when `batchId` was already applied (replay skip), else the
    * tick's audit row. Order of effects — each step idempotent under
    * replay of the whole tick:
    *  1. the batch histogram lands (overwrite — replay rewrites
    *     identical bytes);
    *  2. the batch is priced under the SERVING table and the drift
    *     verdict computed (exact integers, so a replay re-derives the
    *     same verdict as long as the serving version is unchanged);
    *  3. the manifest flip commits the batch into the corpus;
    *  4. a drift verdict retrains on everything committed (the
    *     provenance no-op guard absorbs a crash-between-3-and-5
    *     replay's second attempt);
    *  5. the applied set records the id.
    */
  def tick(spark: SparkSession, lcRoot: String, batchDocs: DataFrame,
      batchId: Long, driftPct: Option[Int] = None): Option[TickResult] = {
    require(batchId >= 0L, s"stream batch ids are non-negative, got $batchId")
    // resolution order: explicit caller > spark.graft.bpe.lifecycleDriftPct
    // > the measured 10% default — the bpeTrainParams discipline
    val pct = driftPct
      .orElse(graft.GraftConfig.bpeLifecycleDriftPct(spark))
      .getOrElse(DefaultDriftPct)
    require(pct >= 0 && pct < 100, s"driftPct=$pct outside [0,100)")
    val fs = fsOf(spark, lcRoot)
    // a crashed purge must not leave tainted model versions serving —
    // complete any pending purge finalize BEFORE this tick meters with
    // or moves the corpus (r16 verdict #2: "a replayed purge or the
    // next tick completes"). A PRE-FLIP crash (marker written, manifest
    // never flipped) is the one window a tick must NOT absorb (r17
    // ADVICE): the corpus is still unpurged, so finalizing here would
    // force-retrain on the unerased words and clear the marker — the
    // RTBF request silently discarded. Only purge() itself (re-run with
    // the same tombstones) can complete that window; fail loudly until
    // it does. An unparseable marker (no renames recorded) still
    // finalizes conservatively — post-flip obligations are all that can
    // be pending for it, and finalize is safe without marker content.
    readPurgeMarker(spark, lcRoot).foreach { m =>
      val names = readManifest(spark, lcRoot).map(_.name).toSet
      if (m.renames.nonEmpty && !m.renames.forall(r => names.contains(r._2)))
        throw new IllegalStateException(
          s"BpeLifecycle at $lcRoot has a purge that crashed BEFORE its " +
            "manifest flip — the erasure is not applied and a tick cannot " +
            "apply it (it has no tombstones). Re-run purge() with the " +
            "same tombstones to complete the request.")
      finalizePurge(spark, lcRoot, m.startVersion, m.fp); ()
    }
    val applied = Streams.readAppliedBatches(fs, new Path(lcRoot))
    if (applied.contains(batchId)) None
    else {
      val entries0 = readManifest(spark, lcRoot)
      require(entries0.nonEmpty,
        s"BpeLifecycle at $lcRoot has no corpus manifest — run init() first")
      val m = currentModel(spark, lcRoot)
      // a model published through raw BpeArtifact.write (or a legacy
      // meta row) carries no train-time baseline; without this check
      // every drift verdict below would be silently false — the one
      // thing the lifecycle exists to decide
      require(m.baselineNtok > 0L,
        s"serving model v=${m.version} carries no train-time baseline " +
          "— publish via BpeArtifact.train/trainFromHist so the drift " +
          "gate has its anchor")
      val name = s"batch=$batchId"
      // corpus-commit replay guard BY ABSORBED ID, not dir name: after a
      // compaction or purge renamed/folded the entry, a replayed tick
      // (lost applied-set line, fresh stream checkpoint) must neither
      // re-list the batch (double-counting its words) nor re-materialize
      // its histogram dir (which after an RTBF purge would resurrect
      // forgotten words on disk)
      val alreadyCommitted = entries0.exists(_.absorbs.contains(batchId))
      // ONE scan of the micro-batch per tick (r16 verdict #7): the doc
      // count and the histogram write/meter both consume the batch, so
      // persist it for the tick's duration — on the streaming hot path
      // a second source scan per batch is pure waste
      val pinned = batchDocs.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (nDocs, nCp, nTok) = try {
        val n = pinned.count()
        val (cp, tok) =
          if (alreadyCommitted)
            meterHistFrame(TextStats.bpeWordHistogram(pinned), m.pairs)
          else {
            writeHist(spark, lcRoot, name, pinned)
            meterHist(spark, s"${histRoot(lcRoot)}/$name", m.pairs)
          }
        (n, cp, tok)
      } finally { pinned.unpersist(); () }
      // drift ⟺ cpt_batch < cpt_baseline · (100 − driftPct)/100, exact:
      val drifted = nTok > 0L &&
        BigInt(nCp) * m.baselineNtok * 100 <
          BigInt(m.baselineNcp) * nTok * (100 - pct)
      val entries =
        if (alreadyCommitted) entries0
        else entries0 :+ CorpusEntry(name, nDocs, Seq(batchId))
      writeManifest(spark, lcRoot, entries)
      if (drifted) {
        retrainIfChanged(spark, lcRoot, entries, force = false)
        // version retention, the IndexLifecycle keepN discipline made a
        // knob (default OFF — every version stays readable unless set)
        graft.GraftConfig.bpeKeepVersions(spark).foreach(k =>
          BpeArtifact.retainVersions(spark, modelRoot(lcRoot), k))
        ()
      }
      Streams.writeAppliedBatches(fs, new Path(lcRoot), applied + batchId)
      // opt-in histogram compaction (the IvfIndex.compact discipline on
      // the corpus store): fold the committed entry set into ONE dir
      // once it reaches the threshold — runs after the applied-set
      // write, so a crash anywhere around it leaves a fully-consistent
      // corpus and the next over-threshold tick compacts again
      graft.GraftConfig.bpeCompactAfterBatches(spark).foreach { k =>
        if (readManifest(spark, lcRoot).size >= k) {
          compactHistograms(spark, lcRoot); ()
        }
      }
      Some(TickResult(batchId, m.version, nCp, nTok, drifted))
    }
  }

  /** Fold every committed histogram dir into ONE (`compact=<n>`, the
    * summed histogram) with a single atomic manifest flip — the corpus
    * store's [[graft.llm.Similarity.IvfIndex.compact]]: between retrains
    * a continuous crawl otherwise accumulates one dir per batch
    * forever, and every retrain's merged read pays O(#batches) opens.
    * Correct BY histogram additivity (the summed dir trains identically
    * — spec'd), and RTBF-preserving: the new entry ABSORBS every folded
    * batch id, so a later erasure request naming any original batch
    * still finds the dir its words live in. The merged dir lands whole
    * BEFORE the flip (a reader sees the old entry set or the new one);
    * superseded dirs are swept only when the manifest no longer lists
    * them (the manifest-guarded discipline); a crash before the flip is
    * replayed by the next over-threshold tick (same ordinal, whole-dir
    * overwrite), and a crash between flip and sweep strands the folded
    * dirs as unreferenced garbage — never double-counted (reads go by
    * manifest), reclaimed by the next compaction of a grown set or by
    * an operator rm. Returns the new entry.
    */
  def compactHistograms(spark: SparkSession, lcRoot: String): CorpusEntry = {
    val fs = fsOf(spark, lcRoot)
    val entries = readManifest(spark, lcRoot)
    require(entries.nonEmpty, s"BpeLifecycle at $lcRoot not initialized")
    val ord = entries.map(_.name)
      .collect { case EntryNameRe(stem, _) if stem.startsWith("compact=") =>
        stem.stripPrefix("compact=").toLong }
      .maxOption.getOrElse(0L) + 1L
    val name = s"compact=$ord"
    mergedHist(spark, lcRoot, entries)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"${histRoot(lcRoot)}/$name")
    val merged = CorpusEntry(name, entries.map(_.docs).sum,
      entries.flatMap(_.absorbs).distinct.sorted)
    writeManifest(spark, lcRoot, Seq(merged))
    // sweep PROVABLY-dead dirs only: the folded entries by name, plus
    // orphans a crashed earlier sweep stranded — a base/batch dir whose
    // id the merged entry absorbs (its words live in the fold), or a
    // compact dir with a LOWER ordinal (superseded by whatever replaced
    // it, transitively folded here). A batch dir whose id is NOT
    // absorbed is an in-flight tick's write — never touched.
    val absorbed = merged.absorbs.toSet
    fs.listStatus(new Path(histRoot(lcRoot))).toSeq
      .filter(_.isDirectory).map(_.getPath)
      .filter(_.getName != name)
      .filter { p =>
        p.getName match {
          case EntryNameRe(stem, _) if stem.startsWith("compact=") =>
            stem.stripPrefix("compact=").toLong < ord
          case EntryNameRe(_, _) => absorbed.contains(batchIdOf(p.getName))
          case _ => false
        }
      }.foreach(p => fs.delete(p, true))
    merged
  }

  private val PurgeMarkerFile = "_GRAFT_PURGE"

  /** Fingerprint of the LAST COMPLETED purge request (r18): written by
    * [[finalizePurge]] just before it clears the marker, read by
    * [[purgeImpl]] to recognize an exact replay of an already-completed
    * request and no-op it. Histograms alone cannot prove a retry is a
    * no-op (the request's words are gone, so the subtraction guards fire
    * — the documented pre-r18 behavior); this one-line record CAN, and
    * a composed multi-store forget ([[Streams.forgetDocs]]) needs it:
    * a crash between "this store's purge completed" and "the composed
    * marker recorded it" must make the resume's re-run safe. One slot
    * (the last request) suffices — the composed marker discipline never
    * leaves more than one request in flight per store.
    */
  private val PurgeDoneFile = "_GRAFT_PURGE_DONE"

  private def purgeDonePath(lcRoot: String): Path =
    new Path(lcRoot, PurgeDoneFile)

  private def readPurgeDoneFp(spark: SparkSession, lcRoot: String): Option[Long] = {
    val fs = fsOf(spark, lcRoot)
    val p = purgeDonePath(lcRoot)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      scala.util.Try(txt.toLong).toOption
    }
  }

  private def writePurgeDoneFp(spark: SparkSession, lcRoot: String,
      fp: Long): Unit = {
    val fs = fsOf(spark, lcRoot)
    val tmp = new Path(lcRoot, s"$PurgeDoneFile.tmp")
    val out = fs.create(tmp, true)
    try out.write(s"$fp\n".getBytes("UTF-8")) finally out.close()
    val dst = purgeDonePath(lcRoot)
    fs.delete(dst, false)
    fs.rename(tmp, dst)
    ()
  }

  /** Persisted intent of an in-flight [[purge]] (r16 verdict #2 — the
    * IVF purge's marker discipline re-derived for the histogram store):
    * the model version serving when the purge started (so a resumed
    * finalize can tell whether the forced retrain already committed),
    * an order-independent fingerprint of the deduped tombstone set (so
    * a REPLAYED purge can recognize itself and skip the already-applied
    * subtraction instead of double-subtracting or tripping its own
    * guards), and the planned old→new revision renames (so the replay
    * can tell from the manifest whether the flip happened). A marker
    * that fails to parse finalizes conservatively (forced retrain +
    * sweeps) — finalize needs no marker content to be safe.
    */
  private[streaming] case class PurgeMarker(startVersion: Option[Long],
      fp: Option[Long], renames: Seq[(String, String)])

  private def purgeMarkerPath(lcRoot: String): Path =
    new Path(lcRoot, PurgeMarkerFile)

  private def writePurgeMarker(spark: SparkSession, lcRoot: String,
      m: PurgeMarker): Unit = {
    val fs = fsOf(spark, lcRoot)
    val tmp = new Path(lcRoot, s"$PurgeMarkerFile.tmp")
    val out = fs.create(tmp, true)
    try out.write((Seq(s"v ${m.startVersion.getOrElse(-1L)}",
      s"fp ${m.fp.getOrElse(0L)}") ++
      m.renames.map { case (o, n) => s"r $o $n" })
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    val dst = purgeMarkerPath(lcRoot)
    fs.delete(dst, false)
    fs.rename(tmp, dst)
    ()
  }

  private[streaming] def readPurgeMarker(spark: SparkSession,
      lcRoot: String): Option[PurgeMarker] = {
    val fs = fsOf(spark, lcRoot)
    val p = purgeMarkerPath(lcRoot)
    // same interrupted-commit promotion as readManifest
    val tmp = new Path(lcRoot, s"$PurgeMarkerFile.tmp")
    if (!fs.exists(p) && fs.exists(tmp)) { fs.rename(tmp, p); () }
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().toSeq finally in.close()
      val parsed = scala.util.Try {
        val v = lines.collectFirst { case l if l.startsWith("v ") =>
          l.stripPrefix("v ").trim.toLong }.filter(_ >= 1L)
        val fp = lines.collectFirst { case l if l.startsWith("fp ") =>
          l.stripPrefix("fp ").trim.toLong }
        val rs = lines.filter(_.startsWith("r ")).map { l =>
          l.stripPrefix("r ").trim.split("\\s+") match {
            case Array(o, n) => (o, n)
            case _ => throw new IllegalStateException(s"bad marker line $l")
          }
        }
        PurgeMarker(v, fp, rs)
      }
      Some(parsed.getOrElse(PurgeMarker(None, None, Seq.empty)))
    }
  }

  /** Order-independent identity of a deduped erasure request — what
    * lets a replayed purge recognize the marker as its own.
    */
  private def tombstoneFingerprint(ts: DataFrame): Long = {
    val r = ts.agg(expr("bit_xor(xxhash64(batch_id, doc_id, text))").as("fp"))
      .head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** The purge's model-side obligations, idempotent and replayable from
    * disk state alone: force-retrain from the (already purged) corpus
    * manifest UNLESS the marker's start version shows the retrain
    * already committed, sweep model versions older than the post-purge
    * one (they embody the forgotten docs), sweep superseded histogram
    * revisions (manifest-guarded), and clear the marker LAST — so a
    * crash anywhere inside replays the remainder on the next purge or
    * [[tick]].
    */
  private[streaming] def finalizePurge(spark: SparkSession, lcRoot: String,
      startVersion: Option[Long], fp: Option[Long] = None,
      failpoint: String => Unit = _ => ()): BpeArtifact.Model = {
    val fs = fsOf(spark, lcRoot)
    val entries = readManifest(spark, lcRoot)
    require(entries.nonEmpty, s"BpeLifecycle at $lcRoot not initialized")
    val cur = scala.util.Try(currentModel(spark, lcRoot)).toOption
    val model =
      if (startVersion.nonEmpty && cur.exists(_.version > startVersion.get))
        cur.get // the forced retrain already committed before the crash
      else retrainIfChanged(spark, lcRoot, entries, force = true)
    failpoint("post-retrain")
    // sweep model versions that embody the forgotten data
    val mRoot = new Path(modelRoot(lcRoot))
    if (fs.exists(mRoot)) fs.listStatus(mRoot).toSeq
      .filter(_.isDirectory).map(_.getPath)
      .filter { p =>
        val n = p.getName
        n.startsWith("v=") &&
          scala.util.Try(n.stripPrefix("v=").toLong).toOption
            .exists(_ < model.version)
      }.foreach(p => fs.delete(p, true))
    failpoint("post-model-sweep")
    // sweep superseded histogram revisions: manifest-guarded — a dir is
    // dead only if its NAME STEM is listed but under another revision
    // (an unlisted stem may be an in-flight write, never touched)
    def stemOf(n: String): Option[String] = n match {
      case EntryNameRe(stem, _) => Some(stem)
      case _ => None
    }
    val live = entries.map(_.name).toSet
    val liveStems = entries.flatMap(e => stemOf(e.name)).toSet
    val hr = new Path(histRoot(lcRoot))
    fs.listStatus(hr).toSeq.filter(_.isDirectory).map(_.getPath)
      .filter(p => !live.contains(p.getName) &&
        stemOf(p.getName).exists(liveStems.contains))
      .foreach(p => fs.delete(p, true))
    failpoint("post-hist-sweep")
    // record the completed request's fingerprint BEFORE clearing the
    // marker: a crash between the two re-runs this (idempotent) pair on
    // the next finalize, and once the marker is gone the done record is
    // what lets an exact replay of the request prove itself a no-op
    fp.foreach(writePurgeDoneFp(spark, lcRoot, _))
    fs.delete(purgeMarkerPath(lcRoot), false)
    model
  }

  /** RIGHT-TO-BE-FORGOTTEN purge. `tombstones` is the forgotten docs
    * themselves — (batch_id, doc_id, text), the shape an erasure
    * request arrives in. Histogram additivity makes the erasure EXACT:
    * each affected batch's stored histogram gets the tombstoned docs'
    * histogram SUBTRACTED (freq-decrement, drop at ≤ 0), written as a
    * fresh revision dir (`batch=<id>r<rev>` — never in place), and ONE
    * manifest flip re-points every affected batch atomically, so a
    * reader sees the pre-purge corpus or the post-purge corpus, never a
    * half-purged one. Then the model RETRAINS from the purged corpus
    * (forced — the serving version must postdate the purge even if the
    * table happens to coincide) and every model version older than the
    * new one is SWEPT: they were trained on data that included the
    * forgotten docs, so [[BpeArtifact]]'s keep-every-version provenance
    * promise yields to RTBF here, exactly as the IVF purge overwrites
    * history. Superseded histogram revisions are swept last, guarded on
    * the manifest (the [[graft.llm.Similarity.IvfIndex.compact]] lesson:
    * only dirs whose batch id the manifest lists under a DIFFERENT
    * revision are provably dead).
    *
    * CRASH-RESUMABLE (r16 verdict #2): a [[PurgeMarker]] written just
    * before the manifest flip makes every post-flip step replayable —
    * a crashed purge is completed by re-running it with the same
    * tombstones (the marker fingerprint recognizes the replay; an
    * already-applied subtraction is SKIPPED, never doubled). The next
    * [[tick]] finalizes a POST-flip marker before touching the corpus;
    * a PRE-flip crash (marker written, manifest not flipped — the
    * erasure not yet applied) makes tick fail loudly instead (r17
    * ADVICE): only a purge re-run carries the tombstones needed to
    * apply it, and silently retraining on the unerased corpus would
    * discard the RTBF request. A guard failure before the marker
    * leaves no marker — failed requests stay loud, not half-resumed.
    *
    * Returns the post-purge serving model.
    */
  def purge(spark: SparkSession, lcRoot: String,
      tombstones: DataFrame): BpeArtifact.Model =
    purgeImpl(spark, lcRoot, tombstones, _ => ())

  private[streaming] def purgeImpl(spark: SparkSession, lcRoot: String,
      tombstones: DataFrame,
      failpoint: String => Unit): BpeArtifact.Model = {
    val fs = fsOf(spark, lcRoot)
    // one subtraction per DOC, matching the per-distinct doc-count
    // decrement below — a doc listed twice in the request would
    // otherwise subtract its words twice, and whenever another doc
    // shares those words the result stays non-negative and the
    // over-subtraction guard cannot see it
    val ts = tombstones.dropDuplicates(Seq("batch_id", "doc_id"))
    val reqFp = tombstoneFingerprint(ts)
    readPurgeMarker(spark, lcRoot) match {
      case Some(m) if m.fp.contains(reqFp) =>
        // a replay of THIS request: if the prior incarnation already
        // flipped the manifest, the subtraction is applied — re-running
        // it would double-subtract (or trip its own guards on the
        // already-revised dirs); skip straight to the idempotent
        // finalize.
        val names = readManifest(spark, lcRoot).map(_.name).toSet
        if (m.renames.nonEmpty && m.renames.forall(r => names.contains(r._2)))
          return finalizePurge(spark, lcRoot, m.startVersion, m.fp, failpoint)
        // not flipped: the corpus is still pre-purge — fall through and
        // re-run the whole purge (revision-dir writes are whole-dir
        // overwrites, the recomputed renames are deterministic, the
        // marker rewrites in place)
      case Some(m) =>
        // a DIFFERENT purge crashed mid-flight: its single-file flip
        // decided its corpus state; complete its model-side obligations
        // before starting this request
        finalizePurge(spark, lcRoot, m.startVersion, m.fp)
        ()
      case None =>
        // an exact replay of the LAST COMPLETED request is a provable
        // no-op (r18, the [[PurgeDoneFile]] record): the erasure is
        // already applied and the marker already cleared, so there is
        // nothing to resume — re-running would trip the subtraction
        // guards on the already-erased words. This is what makes the
        // composed forget path's per-store resume safe when a crash
        // landed between this store's completion and the composed
        // marker's progress write.
        if (readPurgeDoneFp(spark, lcRoot).contains(reqFp))
          return currentModel(spark, lcRoot)
    }
    val entries = readManifest(spark, lcRoot)
    require(entries.nonEmpty, s"BpeLifecycle at $lcRoot not initialized")
    // RTBF requests are request-sized: the affected-batch list is a
    // bounded collect (one row per batch named in the request)
    val affected: Seq[(Long, Long)] = ts
      .groupBy(col("batch_id"))
      .agg(countDistinct(col("doc_id")).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // which dir holds each named batch's words NOW: the absorbs map —
    // valid across compactions and prior purge revisions
    val owner: Map[Long, CorpusEntry] =
      entries.flatMap(e => e.absorbs.map(_ -> e)).toMap
    val byEntry: Map[String, (CorpusEntry, Seq[Long], Long)] = affected
      .map { case (b, n) =>
        val e = owner.getOrElse(b, throw new IllegalArgumentException(
          s"purge names batch $b, which no corpus-manifest entry absorbs"))
        (e, b, n)
      }
      .groupBy(_._1.name)
      .map { case (nm, rows) =>
        nm -> ((rows.head._1, rows.map(_._2), rows.map(_._3).sum))
      }
    // r20: affected entries revise DISJOINT histogram dirs and are all
    // pre-marker (uncommitted until the flip below), so their
    // probe-guard + revision-write pairs run concurrently (guide §2.6);
    // a guard failure in any entry still fails the whole purge loudly
    // before the marker is written, exactly as the sequential loop did.
    val renamed: Map[String, CorpusEntry] = graft.llm.Similarity
      .parMap(byEntry.toSeq.sortBy(_._1)) {
      case (oldName, (entry, ids, nGone)) =>
        val newName = bumpRev(oldName)
        val sub = TextStats.bpeWordHistogram(
          ts.filter(col("batch_id").isin(ids.map(Long.box): _*)))
          .withColumnRenamed("freq", "gone")
        val stored = spark.read.parquet(s"${histRoot(lcRoot)}/$oldName")
        // a tombstone that doesn't match the stored histogram (wrong
        // batch, wrong text, an already-erased doc re-submitted — of a
        // request OTHER than the recorded last-completed one) must fail
        // LOUDLY in BOTH directions: counts exceeding the store
        // (over-subtract — truncating at 0 would hide it) AND words the
        // store never held (under-subtract — a left join would silently
        // drop them and the purge would "succeed" without forgetting
        // anything). ONE probe action serves both guards (r18 — the
        // composed forget pays this per affected entry, and two collects
        // where one suffices is pure per-job overhead): a full outer
        // join classifies each word as foreign (no stored row) or
        // over-subtracted (stored freq < tombstone count). The sample
        // is ordered foreign-FIRST (r18 ADVICE): an unordered limit(5)
        // could fill with over-subtracted rows while foreign words sit
        // past the cut, and the foreign require would then pass and the
        // error misreport the failure class — foreign-first ordering
        // guarantees the sample contains foreign rows whenever ANY
        // exist, so each require reports its own class.
        val bad = sub.join(stored, Seq("w"), "full_outer")
          .filter(col("gone").isNotNull &&
            (col("freq").isNull || col("freq") < col("gone")))
          .select(col("w"), col("freq").isNull.as("foreign"))
          .orderBy(col("foreign").desc, col("w"))
          .limit(5).collect()
        require(!bad.exists(_.getBoolean(1)),
          s"purge names words $oldName never held (first: ${
            bad.filter(_.getBoolean(1)).map(_.getString(0)).mkString(", ")
          }) — wrong batch, wrong text, or an already-erased doc re-submitted")
        require(bad.isEmpty,
          s"purge over-subtracts $oldName — tombstones don't match the " +
            s"stored histogram (first words: ${
              bad.map(_.getString(0)).mkString(", ")})")
        val merged = stored.join(sub, Seq("w"), "left")
          .select(col("w"),
            (col("freq") - coalesce(col("gone"), lit(0L))).as("freq"))
        merged.filter(col("freq") > 0L)
          .coalesce(1).write.mode("overwrite")
          .parquet(s"${histRoot(lcRoot)}/$newName")
        oldName -> CorpusEntry(newName, math.max(0L, entry.docs - nGone),
          entry.absorbs)
    }.toMap
    val flipped = entries.map(e => renamed.getOrElse(e.name, e))
    // marker BEFORE the flip (the IVF purge's single-writer marker
    // discipline): from here every step is replay-completable; a guard
    // failure above left no marker, so failed requests stay loud
    val startVersion =
      scala.util.Try(currentModel(spark, lcRoot).version).toOption
    failpoint("pre-marker")
    writePurgeMarker(spark, lcRoot, PurgeMarker(startVersion, Some(reqFp),
      byEntry.toSeq.sortBy(_._1).map { case (o, _) => (o, renamed(o).name) }))
    failpoint("pre-flip")
    writeManifest(spark, lcRoot, flipped)
    failpoint("post-flip")
    finalizePurge(spark, lcRoot, startVersion, Some(reqFp), failpoint)
  }

  /** Bind the applied-batch skip set to the stream INCARNATION that
    * wrote it (r16 ADVICE): foreachBatch ids restart at 0 under a
    * fresh/relocated checkpoint, so an applied set surviving from an
    * earlier incarnation would silently swallow genuinely NEW batches
    * whose ids collide — and worse, the absorbs manifest would treat
    * them as already committed, so no reset of the skip set alone can
    * make colliding NEW data safe. A mismatch FAILS LOUDLY: batch-id
    * identity is only meaningful within one incarnation, and disk
    * cannot distinguish "same ids, replayed source" (safe — every
    * guard no-ops) from "same ids, new source" (corpus-corrupting).
    * [[rebindStream]] is the operator's explicit declaration of the
    * safe case. Shared mechanism: [[Streams.bindStreamIncarnation]].
    */
  private[streaming] def bindStreamIncarnation(spark: SparkSession,
      lcRoot: String, checkpointDir: String): Unit =
    Streams.bindStreamIncarnation(spark, lcRoot, checkpointDir,
      (old, sid) =>
        s"BpeLifecycle at $lcRoot is bound to stream incarnation $old " +
          s"but this query is $sid — its batch ids restart at 0 and " +
          "would collide with committed batches. If this stream " +
          "REPLAYS the same source, call BpeLifecycle.rebindStream " +
          "to adopt the new incarnation (replays then no-op through " +
          "the applied/absorbs guards); if it ingests NEW data, use " +
          "a fresh lcRoot or tick() directly with non-colliding ids.")

  /** Operator acknowledgment that the NEXT [[runStream]] incarnation
    * against `lcRoot` replays the same source prefix (checkpoint lost
    * or relocated): drops the incarnation binding so the next query
    * adopts it. The applied-batch set is KEPT — under a true replay the
    * ids name the same batches, so the skip set stays valid; a replayed
    * id that does re-tick is still corpus-inert through the absorbs
    * guard.
    */
  def rebindStream(spark: SparkSession, lcRoot: String): Unit =
    Streams.dropStreamBinding(spark, lcRoot)

  /** Drive the lifecycle from a parquet stream of (doc_id, source,
    * text) batches. [[init]] must have run against the base corpus
    * first — the st12 convention.
    */
  def runStream(spark: SparkSession, srcDir: String, lcRoot: String,
      checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      driftPct: Option[Int] = None): StreamingQuery = {
    val schema = spark.read.parquet(srcDir).schema
    val reader = maxFilesPerTrigger.foldLeft(
      spark.readStream.schema(schema).format("parquet")) {
      (r, n) => r.option("maxFilesPerTrigger", n)
    }
    reader.load(srcDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        bindStreamIncarnation(spark, lcRoot, checkpointDir)
        tick(spark, lcRoot, batch, batchId, driftPct)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
