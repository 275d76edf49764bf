package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.{OpQuery, Tables}
import graft.OpQuery.{rowsOnly, sql}

/** Deduplication operators for LLM training corpora (builder-prompt
  * north-star; SURVEY.md §2.10): exact (hash), MinHash+LSH near-dup,
  * SimHash near-dup, embedding-cosine near-dup, cluster formation.
  * Design for 100 TB:
  *  - exact dedup shuffles once on the content hash (not the text);
  *  - MinHash/SimHash candidate generation is a *bucketed* self-join —
  *    only rows sharing an LSH band key ever meet, and oversized buckets
  *    (degenerate shingles) are dropped by a frequency cap, so the join
  *    can't go quadratic;
  *  - signatures are fixed-width column vectors computed scan-side in
  *    one codegen'd pass (no UDFs, no HOFs — both measured slower), with
  *    sha256-prefix hashes that DuckDB reproduces exactly, so every
  *    pipeline here carries a FULL oracle.
  */
object Dedup {

  /** Content hash for exact dedup: SHA-256 of the raw text. */
  def contentHash(text: Column): Column = sha2(text, 256)

  /** Non-alpha character ratio — the shared quality-cut signal (t10, t15
    * and their oracles all use this exact expression; one definition so
    * the 0.19 threshold semantics can never diverge between them).
    */
  def nonAlphaRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[^A-Za-z]", ""))) * lit(1.0) /
      greatest(length(text), lit(1))

  /** Exact-dup loser ids from a (doc_id, h) frame: every doc after the
    * first (lowest doc_id) per content hash — the first-wins rule
    * shared by d1/t10/t15. Shape (r13): min-per-hash agg + keyed join
    * instead of a `Window.partitionBy(__h)` — a degenerate corpus
    * (one text repeated N times) would land the whole corpus on one
    * window task, while the hash-agg min combines map-side and AQE
    * splits any skewed join partition (the skew-safe cap rule applied
    * to the exact-dedup rank).
    */
  def exactDupLosers(hashed: DataFrame): DataFrame = {
    val firsts = hashed.groupBy(col("__h")).agg(min(col("doc_id")).as("__first"))
    hashed.join(firsts, Seq("__h"))
      .filter(col("doc_id") =!= col("__first"))
      .select(col("doc_id"), lit(true).as("__exact"))
  }

  /** 60-bit cross-engine hash: the first 15 hex chars of SHA-256, parsed
    * as an integer — fixed width, always positive, and computable
    * identically in DuckDB (a strpos hex parse), which is what lets the
    * MinHash and SimHash pipelines carry FULL oracles instead of
    * rows-only gates. Computed by the native [[graft.functions.Sha256Chunks]]
    * expression — bit-identical to `conv(substring(sha2(c,256),1,15),16,10)`
    * but digest-bytes-to-long with a thread-local MessageDigest (the
    * builtin `sha2` allocates one per call and materializes the 64-char
    * hex string this path immediately re-parses).
    */
  def hash60(c: Column): Column =
    get(graft.functions.Sha256Chunks.sha256Chunks(c, 1), lit(0))

  /** Distinct word 3-gram shingles of a text column. */
  def shingles(text: Column): Column =
    expr("""array_distinct(transform(
      sequence(1, greatest(size(split(trim(text), '\\s+')) - 2, 1)),
      i -> array_join(slice(split(trim(text), '\\s+'), i, 3), ' ')))""")

  /** Hashed shingle SETS per doc (doc_id, sh: array<long>) for exact
    * Jaccard verification — xxhash64 over the same gram strings the
    * signatures hash; set Jaccard over hashes equals the string version
    * (64-bit collisions are negligible; the d5 oracle proves it against
    * DuckDB's string sets). collect_set dedups, so the multiset gram rows
    * feed it directly — one shuffle, no window.
    */
  def shingleHashSets(docs: DataFrame): DataFrame =
    shingleStringRows(docs)
      .select(col("doc_id"), xxhash64(col("g")).as("sh"))
      .groupBy(col("doc_id")).agg(collect_set(col("sh")).as("sh"))

  /** Word-3-gram shingles as STRING rows (doc_id, g) — MULTISET, not set:
    * `min` aggregation downstream is duplicate-insensitive, so no dedup
    * shuffle is spent here. Built via array `slice` on the token array
    * (no window, no shuffle): the expensive signature hashing that
    * follows stays scan-side, spread over every input partition, instead
    * of landing on an AQE-coalesced post-shuffle stage sized by byte
    * count rather than CPU. The DuckDB oracle builds identical gram
    * strings via `array_to_string(ts[i:i+2])`.
    */
  def shingleStringRows(docs: DataFrame): DataFrame = tokenNgramRows(docs, 3)

  /** Per-doc hot-8-gram boilerplate coverage — see the `d9` registry
    * notes. `spread` fans the single-file test scan out before the
    * row-amplifying gram explode (no-op at real scale).
    */
  def hotNgramCoverage(docs: DataFrame, n: Int = 8, minDocs: Int = 2): DataFrame =
    hotNgramCoverageTok(tokenize(docs), n, minDocs)

  /** [[hotNgramCoverage]] from a pre-tokenized (doc_id, ts) frame. */
  def hotNgramCoverageTok(toks: DataFrame, n: Int = 8, minDocs: Int = 2): DataFrame = {
    val grams = tokenNgramRowsFromTokens(Tables.spread(toks), n)
      .select(col("doc_id"), xxhash64(col("g")).as("gh"))
      .distinct()
    val hot = grams.groupBy(col("gh"))
      .agg(count(lit(1)).as("nd")).filter(col("nd") >= minDocs).select("gh")
    val hotPerDoc = grams.join(hot, Seq("gh"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hot"))
    grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
      .join(hotPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_hot"), lit(0L)).as("n_hot"))
      .withColumn("boilerplate_ratio",
        round(col("n_hot") * lit(1.0) / col("n_grams"), 6))
      .withColumn("is_boilerplate", col("n_hot") * 2 >= col("n_grams"))
  }

  /** Cross-snapshot (incremental) dedup — the continuous-crawl posture:
    * a NEW batch of docs is deduped AGAINST an existing cleaned snapshot,
    * asymmetrically (snapshot docs are never dropped; a new doc is
    * judged, the snapshot only consulted). A new doc is `exact_dup` when
    * its content hash exists in the snapshot; else `near_dup` when it
    * shares a capped MinHash-LSH band bucket with a snapshot doc AND the
    * exact shingle Jaccard verifies ≥ `minJaccard`; else `kept`. This is
    * what an ingestion tick runs between [[Streams.firstDelivery]]
    * (delivery dedup) and the snapshot merge — the d3 machinery turned
    * one-sided.
    *
    * Scale shape: content hashes meet in a keyed shuffle semi-join (the
    * snapshot is corpus-sized — NEVER broadcast); band buckets are capped
    * PER SIDE (`maxBucket`, the d3 skew guard) so the cross join is
    * bounded per bucket; ids-only through the candidate join, shingle
    * sets re-attached per side after; one keyed shuffle per stage.
    */
  def dedupAgainstSnapshot(newDocs: DataFrame, snapshot: DataFrame,
      minJaccard: Double = 0.5, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val exact = newDocs.select(col("doc_id"), contentHash(col("text")).as("__h"))
      .join(snapshot.select(contentHash(col("text")).as("__h")).distinct(),
        Seq("__h"), "left_semi")
      .select(col("doc_id"), lit(true).as("__exact"))

    def capped(docs: DataFrame): DataFrame = {
      val sigs = minhashSignatures(shingleStringRows(graft.Tables.spread(docs)))
      capBuckets(
        sigs.select(col("doc_id"), explode(bandKeyEntries).as("bk"))
          .select(col("doc_id"), col("bk.band").as("band"), col("bk.bandkey").as("bandkey")),
        Seq("band", "bandkey"), maxBucket)
    }
    val cand = capped(newDocs)
      .select(col("band"), col("bandkey"), col("doc_id").as("nd"))
      .join(capped(snapshot)
        .select(col("band"), col("bandkey"), col("doc_id").as("sd")),
        Seq("band", "bandkey"))
      .select(col("nd"), col("sd")).dropDuplicates("nd", "sd")
    val near = cand
      .join(shingleHashSets(newDocs)
        .select(col("doc_id").as("nd"), col("sh").as("sh_a")), Seq("nd"))
      .join(shingleHashSets(snapshot)
        .select(col("doc_id").as("sd"), col("sh").as("sh_b")), Seq("sd"))
      .filter(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
        size(array_union(col("sh_a"), col("sh_b"))) >= minJaccard)
      .select(col("nd").as("doc_id")).distinct()
      .withColumn("__near", lit(true))
    newDocs.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__exact").isNotNull, "exact_dup")
          .when(col("__near").isNotNull, "near_dup")
          .otherwise("kept").as("verdict"))
      .withColumn("is_new_content", col("verdict") === "kept")
  }

  /** Dedup-index artifacts for one set of documents: per-doc content
    * hash, LSH band keys, and the hashed shingle set — everything the
    * incremental gate needs to judge FUTURE docs against these without
    * re-reading their text. This is what the continuous-crawl ledger
    * stores: O(1) columns per doc, no raw text, mergeable by append.
    */
  def dedupIndexArtifacts(docs: DataFrame): DataFrame = {
    val spread = Tables.spread(docs)
    // ONE gram pass serves both the minhash signatures and the hashed
    // shingle set: the sha256 chunk hashes (the expensive part) and the
    // xxhash64 set element ride the same scan, and a single doc_id
    // shuffle aggregates the 32 fixed-width mins alongside collect_set
    // (multiset rows feed collect_set directly — same dedup semantics as
    // [[shingleHashSets]]).
    val nDigests = MinhashK / 4
    val hx = shingleStringRows(spread).select(
      col("doc_id") +: xxhash64(col("g")).as("gh") +: (0 until nDigests).map(d =>
        graft.functions.Sha256Chunks
          .sha256Chunks(concat_ws("|", lit(d.toString), col("g")), 4).as(s"c$d")): _*)
    val hs = hx.select(col("doc_id") +: col("gh") +: (0 until MinhashK).map(k =>
      get(col(s"c${k / 4}"), lit(k % 4)).as(s"h$k")): _*)
    val aggs = (0 until MinhashK).map(k => min(col(s"h$k")).as(s"m$k")) :+
      collect_set(col("gh")).as("sh")
    hs.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"), bandKeyEntries.as("bks"), col("sh"))
      .join(spread.select(col("doc_id"), contentHash(col("text")).as("h")),
        Seq("doc_id"))
  }

  /** Incremental (continuous-crawl) near-dup gate over index ARTIFACTS —
    * the per-tick kernel of `st9_incremental_neardup`. `streamArt` holds
    * the docs being judged; `idxArt` holds the index they are judged
    * against (artifacts + `__ledger`: true for docs indexed before this
    * stream began, false for the stream docs themselves). A stream doc
    * is judged against every ledger doc and every EARLIER (smaller
    * doc_id) stream doc — the index grows as the crawl proceeds, so a
    * kept dup-of-a-dup is caught even when its original was itself
    * dropped (everything seen joins the index, the common production
    * choice).
    *
    * Batch-boundary invariance (the StreamsSpec law): the index-side
    * bucket cap is rank-≤-maxBucket in ARRIVAL order within each
    * (band, key) bucket — NOT the size-≤-cap filter d12 uses. Arrival
    * order is (ledger first, then doc_id): every ledger doc is present
    * from tick 0 and stream docs arrive in doc_id order, so a member's
    * rank among already-arrived docs equals its final rank — later
    * arrivals only ever rank BEHIND existing members. Per-tick capping
    * over (ledger ∪ batch) therefore computes exactly what one big batch
    * (with the same ledger flags) would — verdicts cannot depend on
    * where the micro-batch boundaries fell. Ranking by doc_id alone is
    * NOT arrival-stable: a ledger doc whose id exceeds not-yet-arrived
    * stream ids would sit inside the cap early and get pushed out later,
    * silently flipping verdicts once a bucket exceeds maxBucket. The
    * ledger-first rank requires idxArt's `__ledger` flag to distinguish
    * the SEED ledger from replayed stream docs persistently (the
    * streaming ledger stores it — see [[Streams.seedIncrementalLedger]]).
    */
  def incrementalVerdictsFromArtifacts(streamArt: DataFrame, idxArt: DataFrame,
      minJaccard: Double = 0.5, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // exact: same content hash, ledger docs always count, stream docs
    // only when earlier
    val exact = streamArt.select(col("doc_id"), col("h"))
      .join(idxArt.select(col("doc_id").as("__sd"), col("h"), col("__ledger")),
        Seq("h"))
      .filter(col("__ledger") || col("__sd") < col("doc_id"))
      .select(col("doc_id")).distinct()
      .withColumn("__exact", lit(true))

    // candidate pairs: band-bucket join, index side capped at rank ≤
    // maxBucket in (ledger-first, doc_id) arrival order — rank-stable
    // under index growth, see the scaladoc proof
    val idxBanded = graft.operators.Relational.groupedRowNumber(
        idxArt.select(col("doc_id").as("__sd"), col("__ledger"),
          explode(col("bks")).as("bk"))
          .select(col("__sd"), col("__ledger"), col("bk.band").as("band"),
            col("bk.bandkey").as("bandkey")),
        Seq("band", "bandkey"),
        Seq(when(col("__ledger"), 0).otherwise(1), col("__sd")), "__rn")
      .filter(col("__rn") <= maxBucket).drop("__rn")
    val cand = streamArt
      .select(col("doc_id").as("nd"), explode(col("bks")).as("bk"))
      .select(col("nd"), col("bk.band").as("band"), col("bk.bandkey").as("bandkey"))
      .join(idxBanded, Seq("band", "bandkey"))
      .filter(col("__ledger") || col("__sd") < col("nd"))
      .select(col("nd"), col("__sd").as("sd")).dropDuplicates("nd", "sd")

    // verify candidates on exact shingle-set Jaccard
    val near = cand
      .join(streamArt.select(col("doc_id").as("nd"), col("sh").as("sh_a")), Seq("nd"))
      .join(idxArt.select(col("doc_id").as("sd"), col("sh").as("sh_b")), Seq("sd"))
      .filter(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
        size(array_union(col("sh_a"), col("sh_b"))) >= minJaccard)
      .select(col("nd").as("doc_id")).distinct()
      .withColumn("__near", lit(true))

    streamArt.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__exact").isNotNull, "exact_dup")
          .when(col("__near").isNotNull, "near_dup")
          .otherwise("kept").as("verdict"))
  }

  /** Batch-equivalent form of the incremental gate (the st9 registry
    * entry): snapshot docs seed the ledger, the rest replay as the
    * stream in doc_id order. One artifact pass over the whole corpus
    * serves both roles.
    */
  def incrementalNearDup(docs: DataFrame, snapshotPred: Column,
      minJaccard: Double = 0.5, maxBucket: Int = DefaultMaxBucket,
      spillDir: Option[String] = None): DataFrame = {
    val spark = docs.sparkSession
    // spill the artifact table ONCE (the t15 pattern): the verdict
    // kernel references each side several times (exact, candidates,
    // Jaccard verify), and without a materialization boundary every
    // reference re-executes the sha256 signature chains — measured 3×
    // the whole-query cost at sf0.1. The streaming form gets the same
    // boundary for free (its ledger IS parquet).
    val artDir = spillRun(spark, spillDir, "incrementalNearDup", "incart")
    dedupIndexArtifacts(docs)
      .join(docs.select(col("doc_id"), snapshotPred.as("__ledger")), Seq("doc_id"))
      .write.mode("overwrite").parquet(artDir)
    val flagged = spark.read.parquet(artDir)
    incrementalVerdictsFromArtifacts(
      flagged.filter(!col("__ledger")).drop("__ledger"), flagged,
      minJaccard, maxBucket)
  }

  /** DuckDB oracle for [[incrementalNearDup]] with
    * `snapshotPred = doc_id % streamMod = 0` — replays signatures via the
    * shared CTE prefix, the rank-based index cap, the (ledger ∨ earlier)
    * candidate condition, and exact string-set Jaccard.
    */
  def incrementalOracleSql(streamMod: Int = 3,
      maxBucket: Int = DefaultMaxBucket): String =
    s"""WITH ${incrementalOracleCtesFor("documents", streamMod, maxBucket)}
       |SELECT doc_id, verdict FROM ndv""".stripMargin

  /** The CTE chain of [[incrementalOracleSql]] generalized over the
    * corpus relation (r17 — the st16 front-door cascade judges only the
    * gate SURVIVORS against the seed, so its signature/band/rank CTEs
    * must range over seed ∪ survivors, not all of `documents`; a dead
    * doc occupying bucket-cap slots would shift ranks the engine never
    * sees). `docsRel` must expose (doc_id, text); seed docs are
    * `doc_id % streamMod = 0`, everything else is the stream in id
    * order. Ends in `ndv(doc_id, verdict)` over the stream docs. The
    * default-relation form above IS the st9/d-family oracle, unchanged.
    */
  private[graft] def incrementalOracleCtesFor(docsRel: String,
      streamMod: Int, maxBucket: Int = DefaultMaxBucket): String =
    s"""${minhashSigCtesFrom(docsRel)}, cappedI AS (
       |  SELECT doc_id, band, bk FROM (
       |    SELECT doc_id, band, bk,
       |      ROW_NUMBER() OVER (PARTITION BY band, bk
       |        ORDER BY CASE WHEN doc_id % $streamMod = 0 THEN 0 ELSE 1 END,
       |                 doc_id) AS rn
       |    FROM banded) t WHERE rn <= $maxBucket
       |), cand AS (
       |  SELECT DISTINCT s.doc_id AS nd, i.doc_id AS sd
       |  FROM banded s JOIN cappedI i ON s.band = i.band AND s.bk = i.bk
       |  WHERE s.doc_id % $streamMod <> 0
       |    AND (i.doc_id % $streamMod = 0 OR i.doc_id < s.doc_id)
       |), near AS (
       |  SELECT DISTINCT nd AS doc_id FROM (
       |    SELECT c.nd,
       |      CAST(len(list_intersect(ga.gs, gb.gs)) AS DOUBLE)
       |        / len(list_distinct(ga.gs || gb.gs)) AS j
       |    FROM cand c JOIN gsets ga ON ga.doc_id = c.nd
       |                JOIN gsets gb ON gb.doc_id = c.sd) t
       |  WHERE j >= 0.5
       |), exact AS (
       |  SELECT DISTINCT n.doc_id
       |  FROM (SELECT doc_id, sha256(text) AS h FROM $docsRel
       |        WHERE doc_id % $streamMod <> 0) n
       |  JOIN (SELECT doc_id, sha256(text) AS h FROM $docsRel) p
       |    ON p.h = n.h AND (p.doc_id % $streamMod = 0 OR p.doc_id < n.doc_id)
       |), ndv AS (
       |  SELECT n.doc_id,
       |    CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
       |         WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
       |         ELSE 'kept' END AS verdict
       |  FROM (SELECT doc_id FROM $docsRel WHERE doc_id % $streamMod <> 0) n
       |  LEFT JOIN exact e ON e.doc_id = n.doc_id
       |  LEFT JOIN near nr ON nr.doc_id = n.doc_id
       |)""".stripMargin

  /** Batch-equivalent N-TICK form of the growing-index gate (r18, the
    * r17 verdict's #4): `batchOf` assigns every non-snapshot doc a batch
    * ordinal, and each batch is judged against snapshot ∪ ALL EARLIER
    * BATCHES ∪ itself — exactly what [[graft.streaming
    * .Streams.runIncrementalNearDupStream]] computes tick by tick
    * (ledger at tick k = seed ∪ batches < k; idx = ledger ∪ bArt_k;
    * `__ledger` = the PERSISTED seed flag, so ranks are seed-first then
    * doc_id across every batch). The one-shot [[incrementalNearDup]]
    * equals this ONLY for id-ordered schedules (its idx holds every
    * stream doc at once, so an interleaved schedule — where a later
    * batch carries smaller ids — sees candidates at tick k that have
    * not arrived yet); this form is the law for ARBITRARY schedules,
    * and `st17_interleaved_neardup` hash-pins it per batch. One
    * artifact pass serves every tick (the spill boundary), mirroring
    * the streaming ledger being parquet.
    */
  def incrementalNearDupBatches(docs: DataFrame, snapshotPred: Column,
      batchOf: Column, nBatches: Int,
      minJaccard: Double = 0.5, maxBucket: Int = DefaultMaxBucket,
      spillDir: Option[String] = None): DataFrame = {
    require(nBatches >= 1, s"nBatches must be >= 1, got $nBatches")
    val spark = docs.sparkSession
    val base = spillBase(spark, spillDir, "incrementalNearDupBatches")
    val artDir = trackSpill(spark, s"$base/${runDirName("incartb")}")
    dedupIndexArtifacts(docs)
      .join(docs.select(col("doc_id"), snapshotPred.as("__ledger"),
        when(snapshotPred, lit(-1)).otherwise(batchOf).as("__batch")),
        Seq("doc_id"))
      .write.mode("overwrite").parquet(artDir)
    val flagged = spark.read.parquet(artDir)
    // coverage guard (r18 ADVICE): a non-snapshot doc whose batchOf
    // lands outside [0, nBatches) — or evaluates to null — would be
    // judged by NO batch and enter NO batch's index: an inconsistent
    // batchOf/nBatches pair must fail loudly, not shrink the result.
    // Only SNAPSHOT rows legitimately carry -1 (the literal above), so
    // the check is scoped to non-snapshot rows over the FULL invalid
    // range — a batchOf that itself evaluates to -1 must not slip
    // through disguised as the snapshot sentinel (r19 ADVICE).
    // One cheap aggregate over the spill.
    val stray = flagged.filter(
        !coalesce(col("__ledger"), lit(false)) && (col("__batch").isNull ||
          col("__batch") < 0 || col("__batch") >= nBatches))
      .agg(count(lit(1)).as("n"), min(col("__batch")).as("lo"),
        max(col("__batch")).as("hi")).head()
    require(stray.getLong(0) == 0L,
      s"incrementalNearDupBatches: ${stray.getLong(0)} doc(s) carry a " +
        s"batchOf value outside [0, $nBatches) (observed range " +
        s"[${stray.get(1)}, ${stray.get(2)}], null = batchOf evaluated " +
        "to null) — they would be silently neither judged nor indexed; " +
        "pass a batchOf/nBatches pair covering every non-snapshot doc")
    // one spill write per batch instead of reduce(unionByName) over N
    // kernel plans (r18 verdict #5): the returned plan is ONE scan of
    // the verdict spill, O(1) in batch count — at the N-tick law's
    // production shape (N in the hundreds) an N-way union's analysis
    // cost grows with every tick while this stays flat, the same
    // artifact-spill pattern the input side of this function uses.
    val verDir = trackSpill(spark, s"$base/${runDirName("incverb")}")
    (0 until nBatches).foreach { k =>
      val streamArt = flagged.filter(col("__batch") === k)
        .drop("__ledger", "__batch")
      val idxArt = flagged.filter(col("__ledger") || col("__batch") <= k)
        .drop("__batch")
      incrementalVerdictsFromArtifacts(streamArt, idxArt, minJaccard, maxBucket)
        .select(lit(k.toLong).as("batch_id"), col("doc_id"), col("verdict"))
        .write.mode(if (k == 0) "overwrite" else "append").parquet(verDir)
    }
    spark.read.parquet(verDir)
  }

  /** DuckDB oracle for [[incrementalNearDupBatches]] with the st17
    * fixture: seed = `doc_id % 3 = 0`, batch 0 = `doc_id % 3 = 2`,
    * batch 1 = `doc_id % 3 = 1` — an INTERLEAVED schedule (batch 1
    * carries ids below batch 0's), exactly the case the one-shot st9
    * oracle is invalid for. The signature CTEs run ONCE over the
    * corpus; the kernel (cap, candidates, Jaccard, exact, verdict)
    * is instantiated PER BATCH with the index restricted to
    * seed ∪ batches ≤ k — the iterated-replay form the r17 verdict
    * asked for.
    */
  private[graft] def interleavedOracleSql(maxBucket: Int = DefaultMaxBucket,
      corpusPred: String = "TRUE"): String = {
    // batch k's judged set and the index visible to it, as predicates
    // over a doc_id reference (mod-3 reversed: batch 0 = remainder 2)
    def judged(k: Int, r: String) = s"$r % 3 = ${2 - k}"
    def inIdx(k: Int, r: String) =
      if (k == 0) s"($r % 3 = 0 OR $r % 3 = 2)" else "TRUE"
    val chains = (0 to 1).map { k =>
      s"""cappedI$k AS (
         |  SELECT doc_id, band, bk FROM (
         |    SELECT doc_id, band, bk,
         |      ROW_NUMBER() OVER (PARTITION BY band, bk
         |        ORDER BY CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 1 END,
         |                 doc_id) AS rn
         |    FROM banded WHERE ${inIdx(k, "doc_id")}) t WHERE rn <= $maxBucket
         |), cand$k AS (
         |  SELECT DISTINCT s.doc_id AS nd, i.doc_id AS sd
         |  FROM banded s JOIN cappedI$k i ON s.band = i.band AND s.bk = i.bk
         |  WHERE ${judged(k, "s.doc_id")}
         |    AND (i.doc_id % 3 = 0 OR i.doc_id < s.doc_id)
         |), near$k AS (
         |  SELECT DISTINCT nd AS doc_id FROM (
         |    SELECT c.nd,
         |      CAST(len(list_intersect(ga.gs, gb.gs)) AS DOUBLE)
         |        / len(list_distinct(ga.gs || gb.gs)) AS j
         |    FROM cand$k c JOIN gsets ga ON ga.doc_id = c.nd
         |                 JOIN gsets gb ON gb.doc_id = c.sd) t
         |  WHERE j >= 0.5
         |), exact$k AS (
         |  SELECT DISTINCT n.doc_id
         |  FROM (SELECT doc_id, sha256(text) AS h FROM corpus17
         |        WHERE ${judged(k, "doc_id")}) n
         |  JOIN (SELECT doc_id, sha256(text) AS h FROM corpus17
         |        WHERE ${inIdx(k, "doc_id")}) p
         |    ON p.h = n.h AND (p.doc_id % 3 = 0 OR p.doc_id < n.doc_id)
         |), ndv$k AS (
         |  SELECT CAST($k AS BIGINT) AS batch_id, n.doc_id,
         |    CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
         |         WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
         |         ELSE 'kept' END AS verdict
         |  FROM (SELECT doc_id FROM corpus17 WHERE ${judged(k, "doc_id")}) n
         |  LEFT JOIN exact$k e ON e.doc_id = n.doc_id
         |  LEFT JOIN near$k nr ON nr.doc_id = n.doc_id
         |)""".stripMargin
    }
    s"""WITH corpus17 AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents WHERE $corpusPred
       |),
       |${minhashSigCtesFrom("corpus17")},
       |${chains.mkString(",\n")}
       |SELECT batch_id, doc_id, verdict FROM ndv0
       |UNION ALL
       |SELECT batch_id, doc_id, verdict FROM ndv1""".stripMargin
  }

  /** The PAIR form of [[incrementalVerdictsFromArtifacts]] — same exact/
    * candidate/Jaccard semantics (same rank-stable arrival-order cap,
    * same (ledger ∨ earlier) condition, so the same batch-boundary
    * invariance proof applies), but emitting the canonical near-dup
    * EDGES (least id first) instead of per-doc verdicts. This is the
    * incremental feed of the st11 closure maintenance: verdicts answer
    * "drop or keep", edges answer "which component" — a growing corpus
    * needs both, and recomputing d8's full-corpus pair scan per tick is
    * exactly what st11 exists to avoid.
    */
  def incrementalNearDupPairs(streamArt: DataFrame, idxArt: DataFrame,
      minJaccard: Double = 0.5, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val exactP = streamArt.select(col("doc_id").as("nd"), col("h"))
      .join(idxArt.select(col("doc_id").as("sd"), col("h"), col("__ledger")),
        Seq("h"))
      .filter(col("__ledger") || col("sd") < col("nd"))
      .select(col("nd"), col("sd"))

    val idxBanded = graft.operators.Relational.groupedRowNumber(
        idxArt.select(col("doc_id").as("sd"), col("__ledger"),
          explode(col("bks")).as("bk"))
          .select(col("sd"), col("__ledger"), col("bk.band").as("band"),
            col("bk.bandkey").as("bandkey")),
        Seq("band", "bandkey"),
        Seq(when(col("__ledger"), 0).otherwise(1), col("sd")), "__rn")
      .filter(col("__rn") <= maxBucket).drop("__rn")
    val cand = streamArt
      .select(col("doc_id").as("nd"), explode(col("bks")).as("bk"))
      .select(col("nd"), col("bk.band").as("band"), col("bk.bandkey").as("bandkey"))
      .join(idxBanded, Seq("band", "bandkey"))
      .filter(col("__ledger") || col("sd") < col("nd"))
      .select(col("nd"), col("sd")).dropDuplicates("nd", "sd")
    val nearP = cand
      .join(streamArt.select(col("doc_id").as("nd"), col("sh").as("sh_a")), Seq("nd"))
      .join(idxArt.select(col("doc_id").as("sd"), col("sh").as("sh_b")), Seq("sd"))
      .filter(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
        size(array_union(col("sh_a"), col("sh_b"))) >= minJaccard)
      .select(col("nd"), col("sd"))

    exactP.union(nearP)
      .filter(col("nd") =!= col("sd"))
      .select(least(col("nd"), col("sd")).as("doc_id_a"),
        greatest(col("nd"), col("sd")).as("doc_id_b"))
      .dropDuplicates("doc_id_a", "doc_id_b")
  }

  /** Read the durable st11 closure-label store: (doc_id, comp) for every
    * doc that has appeared in at least one near-dup pair (the d8
    * membership contract). Heals an interrupted swap first; an absent
    * store reads as empty.
    */
  /** Edge bound up to which [[mergeClosureLabels]] folds a tick's
    * representative graph driver-side (union-find) instead of spinning
    * the distributed spill-looped closure — 2M edges ≈ 32 MB of longs,
    * far inside the codebook-collect budget. Overridable per session
    * via `spark.graft.closure.unionFindMax` ([[graft.GraftConfig]]) —
    * how StreamsSpec drives a real stream tick across the bound to
    * prove the distributed fallback yields identical labels.
    */
  val MergeUnionFindMax: Int = 2000000

  def readClosureLabels(spark: SparkSession, labelsDir: String): DataFrame = {
    graft.core.DirSwap.recover(spark, labelsDir)
    val p = new org.apache.hadoop.fs.Path(labelsDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) spark.read.parquet(labelsDir)
    else {
      import spark.implicits._
      Seq.empty[(Long, Long)].toDF("doc_id", "comp")
    }
  }

  /** Fold one batch of near-dup pairs into the durable label store —
    * INCREMENTAL connected components (round-9 verdict "Next #4": d8's
    * full-corpus closure never reruns; new pairs only ever MERGE
    * components, which is monotone).
    *
    * Per tick: map the batch's endpoints through the current labels
    * (coalesce to self for unseen docs) — that collapses each edge to an
    * edge between component REPRESENTATIVES — then run the pointer-
    * jumping closure on THAT graph only. Its size is bounded by the
    * batch (≤ 2·|pairs| nodes), not the corpus: the expensive d8 work
    * (the corpus-wide LSH pair scan AND the corpus-wide label
    * propagation) is replaced by a batch-bounded closure plus one keyed
    * remap join of the label store. Min-label correctness composes:
    * every stored representative IS the min doc_id of its component, so
    * the min over the rep graph is the min over the merged memberships —
    * the fold provably equals the one-shot closure over the union of all
    * pairs (the st11 oracle pins exactly that, and StreamsSpec proves
    * tick-count invariance through the real stream).
    *
    * Replay-safe by MATH, not only by marker: labels are a fixpoint, so
    * re-folding an already-applied batch maps every edge to a self-loop
    * and rewrites identical content (the manifest's non-idempotent merge
    * problem cannot arise). The store publish rides the crash-safe
    * [[graft.core.DirSwap]].
    */
  def mergeClosureLabels(spark: SparkSession, labelsDir: String,
      pairs: DataFrame): Unit = {
    val labels = readClosureLabels(spark, labelsDir)
    val la = labels.select(col("doc_id").as("__na"), col("comp").as("__ca"))
    val lb = labels.select(col("doc_id").as("__nb"), col("comp").as("__cb"))
    val repEdges = pairs
      .select(col("doc_id_a").as("a"), col("doc_id_b").as("b"))
      .join(la, col("a") === col("__na"), "left")
      .join(lb, col("b") === col("__nb"), "left")
      .select(coalesce(col("__ca"), col("a")).as("ra"),
        coalesce(col("__cb"), col("b")).as("rb"))
      .filter(col("ra") =!= col("rb"))
      .select(least(col("ra"), col("rb")).as("doc_id_a"),
        greatest(col("ra"), col("rb")).as("doc_id_b"))
      .dropDuplicates("doc_id_a", "doc_id_b")
    // batch-bounded closure over the representative graph. The rep
    // graph's size is set by the MICRO-BATCH (≤ 2·|batch pairs|
    // nodes), not the corpus, so up to a generous bound it runs as a
    // driver-side union-find — the codebook rule (parameter/batch-
    // bounded collects are sanctioned), and ~5 s cheaper per tick
    // than spinning the spill-looped distributed closure for a graph
    // of a few hundred edges. A catch-up tick that exceeds the bound
    // (AvailableNow replaying a month of backlog) falls back to the
    // full [[dedupClusters]] machinery — same labels either way
    // (min-id components; DedupSpec's union-find property test pins
    // the equivalence). ONE evaluation of the pair kernel: the collect
    // below doubles as the emptiness check (a separate isEmpty would
    // re-run the LSH/Jaccard pipeline).
    import spark.implicits._
    val ufMax = graft.GraftConfig.closureUnionFindMax(spark)
      .getOrElse(MergeUnionFindMax)
    val edgeRows = repEdges.limit(ufMax + 1)
      .as[(Long, Long)].collect()
    if (edgeRows.nonEmpty) {
      val comp: DataFrame =
        if (edgeRows.length <= ufMax) {
          graft.EngineState.of(spark).lastMergePath.set("unionfind")
          val parent = scala.collection.mutable.Map.empty[Long, Long]
          def find(x: Long): Long = {
            var r = x
            while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
            var c = x
            while (parent.getOrElse(c, c) != c) {
              val n = parent.getOrElse(c, c); parent(c) = r; c = n
            }
            r
          }
          edgeRows.foreach { case (a, b) =>
            val (ra, rb) = (find(a), find(b))
            if (ra != rb) {
              val (lo, hi) = if (ra < rb) (ra, rb) else (rb, ra)
              parent(hi) = lo
            }
          }
          val nodes = edgeRows.flatMap { case (a, b) => Seq(a, b) }.distinct
          nodes.map(n => (n, find(n))).toSeq.toDF("__node", "__nc")
        } else {
          graft.EngineState.of(spark).lastMergePath.set("distributed")
          dedupClusters(repEdges)
            .select(col("doc_id").as("__node"), col("comp_id").as("__nc"))
        }
      // remap stored members of merged components; insert new docs.
      // __node keys are reps ∪ new doc ids — batch-bounded, so the
      // remap side of both joins is small (broadcastable; never the
      // corpus-proportional label store itself)
      val updated = labels
        .join(comp.select(col("__node").as("__k"), col("__nc")),
          col("comp") === col("__k"), "left")
        .select(col("doc_id"), coalesce(col("__nc"), col("comp")).as("comp"))
      val fresh = comp.select(col("__node").as("doc_id"), col("__nc").as("comp"))
        .join(labels.select("doc_id"), Seq("doc_id"), "left_anti")
      val next = updated.unionByName(fresh)
      val tmp = new org.apache.hadoop.fs.Path(labelsDir + "__merging")
      val dst = new org.apache.hadoop.fs.Path(labelsDir)
      next.write.mode("overwrite").parquet(tmp.toString)
      val fs = dst.getFileSystem(spark.sessionState.newHadoopConf())
      graft.core.DirSwap.swapIntoPlace(fs, tmp, dst)
    }
  }

  /** Right-to-be-forgotten cascade into the st11 closure-label store —
    * the member of the q80 purge family that was missing (q80 rewrites
    * the serving datasets, `purgeIncrementalLedger` the st9 artifact
    * index, `IvfIndex.purge` the ANN index; comp labels are doc-derived
    * artifacts too, and the store would otherwise keep purged doc ids
    * forever). Semantics:
    *
    *  - every row whose `doc_id` OR `comp` references a tombstoned doc
    *    leaves the store (a purged rep may not survive as a label);
    *  - components UNTOUCHED by the campaign keep their rows verbatim;
    *  - each AFFECTED component (one holding ≥ 1 tombstone) is RE-CLOSED
    *    over its surviving members' actual near-dup pairs (recomputed
    *    from `purgedDocs` — removing a doc can disconnect a component
    *    that was only bridged through it, so re-pointing the rep alone
    *    would over-merge); the re-closure re-elects the min surviving
    *    member as rep (the d8 min-label law), and members left unpaired
    *    drop out of the store (they are singletons now — the store only
    *    carries paired docs, like a fresh fold would).
    *
    * Post-purge the store equals the labels a from-scratch closure over
    * the purged corpus produces, PROVIDED no LSH bucket was
    * cap-saturated (a vacated cap slot can admit a previously-suppressed
    * pair in a fresh full recompute — the same documented boundary as
    * the st9 ledger purge); DedupSpec pins the equality on an
    * unsaturated fixture. Scale shape: the affected member set is
    * campaign-proportional (tombstones' cluster memberships), never the
    * corpus — keyed semi/anti joins select it, and the re-closure pays
    * [[minhashPairs]] + [[dedupClusters]] on that bounded subset only.
    * `purgedDocs` is the post-purge documents table (needs doc_id,
    * text): the re-closure must see the corpus as it IS, not as it was.
    */
  def purgeClosureLabels(spark: SparkSession, labelsDir: String,
      tombIds: DataFrame, purgedDocs: DataFrame): Unit = {
    val tomb = tombIds.select(tombIds.columns.head).toDF("doc_id").distinct()
    val labels = readClosureLabels(spark, labelsDir)
    // comps holding at least one tombstoned member (campaign-bounded)
    val affected = labels.join(tomb, Seq("doc_id"), "left_semi")
      .select(col("comp")).distinct()
    // re-project to the store's (doc_id, comp) column order: the join
    // key leads the join output, and readers access the store
    // positionally
    val keep = labels.join(affected, Seq("comp"), "left_anti")
      .select(col("doc_id"), col("comp"))
    val survivors = labels.join(affected, Seq("comp"), "left_semi")
      .join(tomb, Seq("doc_id"), "left_anti")
      .select(col("doc_id"))
    val subDocs = purgedDocs.join(survivors, Seq("doc_id"), "left_semi")
    val reclosed = dedupClusters(minhashPairs(subDocs))
      .select(col("doc_id"), col("comp_id").as("comp"))
    val next = keep.unionByName(reclosed)
    val tmp = new org.apache.hadoop.fs.Path(labelsDir + "__purging")
    val dst = new org.apache.hadoop.fs.Path(labelsDir)
    next.write.mode("overwrite").parquet(tmp.toString)
    val fs = dst.getFileSystem(spark.sessionState.newHadoopConf())
    graft.core.DirSwap.swapIntoPlace(fs, tmp, dst)
  }

  /** Batch-driver form of the st11 incremental closure (the registry
    * entry): seed ledger = `snapshotPred` docs, the rest stream in
    * doc_id (arrival) order across `nTicks` ticks; each tick's pairs
    * ([[incrementalNearDupPairs]]) fold into the label store via
    * [[mergeClosureLabels]]. Returns the final labels with d8's
    * (cluster_size, is_keeper) shape. The DuckDB oracle
    * ([[incrementalClosureOracleSql]]) replays the ONE-BATCH pair set +
    * a recursive-CTE min-label closure — hash-equality of the N-tick
    * fold against it IS the batch-boundary-invariance law.
    */
  def incrementalClosure(docs: DataFrame, snapshotPred: Column,
      nTicks: Int = 2, spillDir: Option[String] = None): DataFrame = {
    val spark = docs.sparkSession
    val runDir = spillRun(spark, spillDir, "incrementalClosure", "incart")
    dedupIndexArtifacts(docs)
      .join(docs.select(col("doc_id"), snapshotPred.as("__ledger")), Seq("doc_id"))
      .write.mode("overwrite").parquet(s"$runDir/art")
    val art = spark.read.parquet(s"$runDir/art")
    val labelsDir = s"$runDir/labels"
    // arrival-ordered tick bounds from the id range (one 1-row agg; the
    // quantile split st9's spec uses needs a full id collect — the RANGE
    // split keeps ticks deterministic without one)
    val r = art.filter(!col("__ledger"))
      .agg(min(col("doc_id")), max(col("doc_id"))).head()
    if (r.isNullAt(0)) {
      // no stream docs: nothing to fold — empty labels, d8's shape
      val spark2 = spark
      import spark2.implicits._
      return Seq.empty[(Long, Long, Long, Boolean)]
        .toDF("doc_id", "comp_id", "cluster_size", "is_keeper")
    }
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    var indexed = art.filter(col("__ledger"))
    for (t <- 1 to nTicks) {
      val cut = lo + (hi - lo + 1) * t / nTicks
      val bArt = art.filter(!col("__ledger") &&
        col("doc_id") >= lo + (hi - lo + 1) * (t - 1) / nTicks &&
        col("doc_id") < (if (t == nTicks) hi + 1 else cut))
      val idx = indexed.unionByName(bArt.withColumn("__ledger", lit(false))
        .select(indexed.columns.map(col): _*))
      mergeClosureLabels(spark, labelsDir,
        incrementalNearDupPairs(bArt.drop("__ledger"), idx))
      indexed = idx
    }
    val labels = readClosureLabels(spark, labelsDir)
    val sizes = labels.groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("comp"))
      .select(col("doc_id"), col("comp").as("comp_id"), col("cluster_size"),
        (col("doc_id") === col("comp")).as("is_keeper"))
  }

  /** DuckDB oracle for [[incrementalClosure]] with
    * `snapshotPred = doc_id % streamMod = 0`: the incremental kernel's
    * pair set replayed as ONE batch (rank-capped ledger-first index,
    * (ledger ∨ earlier) condition, exact + Jaccard-verified edges) and
    * closed by a recursive-CTE min-label reach — the N-tick Spark fold
    * must hash-match this exactly.
    */
  def incrementalClosureOracleSql(streamMod: Int = 3,
      maxBucket: Int = DefaultMaxBucket): String =
    s"""WITH RECURSIVE $minhashSigCtes, cappedI AS (
       |  SELECT doc_id, band, bk FROM (
       |    SELECT doc_id, band, bk,
       |      ROW_NUMBER() OVER (PARTITION BY band, bk
       |        ORDER BY CASE WHEN doc_id % $streamMod = 0 THEN 0 ELSE 1 END,
       |                 doc_id) AS rn
       |    FROM banded) t WHERE rn <= $maxBucket
       |), cand AS (
       |  SELECT DISTINCT s.doc_id AS nd, i.doc_id AS sd
       |  FROM banded s JOIN cappedI i ON s.band = i.band AND s.bk = i.bk
       |  WHERE s.doc_id % $streamMod <> 0
       |    AND (i.doc_id % $streamMod = 0 OR i.doc_id < s.doc_id)
       |), nearp AS (
       |  SELECT nd, sd FROM (
       |    SELECT c.nd, c.sd,
       |      CAST(len(list_intersect(ga.gs, gb.gs)) AS DOUBLE)
       |        / len(list_distinct(ga.gs || gb.gs)) AS j
       |    FROM cand c JOIN gsets ga ON ga.doc_id = c.nd
       |                JOIN gsets gb ON gb.doc_id = c.sd) t
       |  WHERE j >= 0.5
       |), exactp AS (
       |  SELECT n.doc_id AS nd, p.doc_id AS sd
       |  FROM (SELECT doc_id, sha256(text) AS h FROM documents
       |        WHERE doc_id % $streamMod <> 0) n
       |  JOIN (SELECT doc_id, sha256(text) AS h FROM documents) p
       |    ON p.h = n.h AND (p.doc_id % $streamMod = 0 OR p.doc_id < n.doc_id)
       |), pairs AS (
       |  SELECT DISTINCT least(nd, sd) AS a, greatest(nd, sd) AS b
       |  FROM (SELECT nd, sd FROM nearp UNION ALL SELECT nd, sd FROM exactp) u
       |  WHERE nd <> sd
       |), edges AS (
       |  SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs
       |), reach AS (
       |  SELECT DISTINCT a AS node, a AS r FROM edges
       |  UNION
       |  SELECT e.a AS node, r.r FROM edges e JOIN reach r ON r.node = e.b
       |), comp AS (
       |  SELECT node AS doc_id, min(r) AS comp_id FROM reach GROUP BY node
       |), sizes AS (
       |  SELECT comp_id, CAST(count(*) AS BIGINT) AS cluster_size
       |  FROM comp GROUP BY comp_id
       |)
       |SELECT c.doc_id, c.comp_id, s.cluster_size,
       |  c.doc_id = c.comp_id AS is_keeper
       |FROM comp c JOIN sizes s USING (comp_id)""".stripMargin

  /** Bloom-filter membership prefilter — the 100 TB "seen before?" front
    * of [[dedupAgainstSnapshot]]'s exact stage: ONE mergeable bloom
    * sketch over the snapshot's content keys (~9.6 bits/item at 1% fpp
    * — ≈1.2 GB per BILLION snapshot items, so the artifact is
    * broadcast-tier at dedup-snapshot sizes and the fpp is the knob
    * when it isn't; OR-merged partial aggregates make the bits
    * partition-order invariant), probed scan-side by every new doc —
    * the new side never shuffles at all. `might_contain` has NO false negatives, so a miss
    * is certainly-new and skips the exact join; only hits (true dups +
    * ~fpp of the rest) proceed. Registered rows-only (the sketch bits
    * are Spark-specific), with both guarantees gated IN-QUERY: any false
    * negative raise_errors unconditionally, and the measured
    * false-positive rate among true non-dups raise_errors above 5×fpp.
    */
  def bloomPrefilter(newDocs: DataFrame, snapshot: DataFrame, fpp: Double = 0.01,
      expectedItems: Option[Long] = None): DataFrame = {
    val snapKeys = snapshot.select(xxhash64(col("text")).as("kh"),
      contentHash(col("text")).as("__h"))
    // sizing needs an item estimate: caller-provided, else one count job
    // (metadata-only on parquet; at 100 TB pass the catalog's row count)
    val n = expectedItems.getOrElse(snapshot.count())
    val bloomBits: Array[Byte] = snapKeys
      .agg(graft.functions.BloomSketch
        .bloomAgg(col("kh"), math.max(n, 1L), fpp).as("bf"))
      .collect()(0).getAs[Array[Byte]](0)
    val scored = newDocs.select(col("doc_id"),
        contentHash(col("text")).as("__h"), xxhash64(col("text")).as("kh"))
      .withColumn("bloom_hit",
        graft.functions.BloomSketch.mightContain(lit(bloomBits), col("kh")))
    val exact = scored
      .join(snapKeys.select("__h").distinct(), Seq("__h"), "left_semi")
      .select(col("doc_id"), lit(true).as("__exact"))
    val flagged = scored.join(exact, Seq("doc_id"), "left")
      .select(col("doc_id"), col("bloom_hit"),
        col("__exact").isNotNull.as("is_dup"))
    val stats = flagged.agg(
      sum(when(col("is_dup") && !col("bloom_hit"), 1L).otherwise(0L)).as("fn"),
      sum(when(!col("is_dup") && col("bloom_hit"), 1L).otherwise(0L)).as("fp"),
      sum(when(!col("is_dup"), 1L).otherwise(0L)).as("nneg"))
    val fprRaw = col("fp") * lit(1.0) / greatest(col("nneg"), lit(1L))
    flagged.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("bloom_hit"), col("is_dup"),
        when(col("fn") > 0,
          raise_error(concat(lit("bloom sketch false negative(s): "),
            col("fn").cast("string"))))
          .when(fprRaw > lit(5 * fpp),
            raise_error(concat(lit(s"bloom FPR above ${5 * fpp}: "),
              fprRaw.cast("string"))))
          .otherwise(round(fprRaw, 6)).as("fpr"))
  }

  /** Probes per key in [[bloomPrefilterReplayable]] — 7 is the optimal
    * k for 9.6 bits/item (m/n·ln2 ≈ 6.65), giving theoretical
    * fpp ≈ 0.0099.
    */
  val BloomReplayK = 7

  /** Ceiling on the replayable bloom's bit array (r15 — the r14
    * verdict's #5): 2^31 bits = 256 MiB of words, ~223M snapshot items
    * at the 9.6-bits/item sizing — the upper edge of what a torrent
    * broadcast ships comfortably. A bigger snapshot fails LOUDLY here
    * (the t37 exhaustion precedent) instead of stalling executors on a
    * multi-GB broadcast; the escape hatches at the failure site: the
    * production [[bloomPrefilter]] (Spark's native sketch aggregate,
    * executor-side state, no driver bitmap), or sharding the snapshot
    * into ≤ ceiling prefilters.
    */
  val BloomReplayMaxBits: Long = 1L << 31

  /** Replayable variant of [[bloomPrefilter]] (the d13 registry entry —
    * FULL oracle since r14): same bloom semantics and output shape, but
    * the bit math is sha256-chunk-derived so DuckDB replays the exact
    * membership bits instead of trusting a rows-only gate.
    *
    *  - sizing: m = max(ceil(9.6·n), 64) bits, computed as the exact
    *    integer `(48·n + 4) div 5` — both engines evaluate it
    *    identically, no float rounding at the boundary;
    *  - probes: k = [[BloomReplayK]] positions via Kirsch–Mitzenmacher
    *    double hashing, pos_i = (h1 + i·h2) mod m, where h1/h2 are the
    *    two 60-bit [[graft.functions.Sha256Chunks]] of the text
    *    (i ≤ 6 and h2 < 2^60, so h1 + i·h2 < 7·2^60 < 2^63 — no
    *    signed-64 overflow on either engine, and both operands are
    *    nonnegative so `%` agrees).
    *
    * Scale shape preserved from the native path: the snapshot's
    * positions fold MAP-SIDE into ≤ m/64 bit-or'd words (bit_or is
    * duplicate-insensitive, so no distinct shuffle — one keyed
    * aggregation whose state is the bitmap itself), the words collect
    * to the driver and ship back as a TORRENT BROADCAST (r15 — r14
    * shipped them as a typedLit plan literal, which serializes PER TASK;
    * the [[graft.functions.BloomProbe]] expression carries only the
    * broadcast handle), and the new side probes SCAN-SIDE inside
    * whole-stage codegen — it never shuffles. `maxBits` guards the
    * driver/broadcast footprint ([[BloomReplayMaxBits]]); a too-big
    * snapshot fails loudly with the escape hatches named. The in-query
    * raise_error gates (no false negatives; FPR ≤ 5×fpp) stay: the
    * oracle proves bit equality, the gates document the bloom contract
    * at the query site. [[bloomPrefilter]] (Spark's native codegen'd
    * sketch) remains the production API; this variant buys cross-engine
    * bit equality at ~2× the hash cost (two sha256 chunks vs one
    * xxhash64).
    */
  def bloomPrefilterReplayable(newDocs: DataFrame, snapshot: DataFrame,
      fpp: Double = 0.01, maxBits: Long = BloomReplayMaxBits): DataFrame = {
    val n = snapshot.count()
    val m = math.max((48L * n + 4L) / 5L, 64L)
    require(m <= maxBits,
      s"replayable bloom bitmap would be $m bits for $n snapshot rows " +
        s"(ceiling $maxBits): use bloomPrefilter (the native sketch — no " +
        "driver bitmap) or shard the snapshot into bounded prefilters")
    val nWords = ((m + 63L) / 64L).toInt
    val ch = graft.functions.Sha256Chunks.sha256Chunks(col("text"), 2)
    val posSql = s"transform(sequence(0, ${BloomReplayK - 1}), " +
      s"i -> (__h1 + i * __h2) % CAST($m AS BIGINT))"
    val words: Map[Int, Long] = snapshot
      .select(get(ch, lit(0)).as("__h1"), get(ch, lit(1)).as("__h2"))
      .select(explode(expr(posSql)).as("pos"))
      .select(expr("CAST(pos DIV 64 AS INT) AS w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT)) AS msk"))
      .groupBy(col("w")).agg(expr("bit_or(msk) AS bits"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val wordsArr = Array.tabulate(nWords)(i => words.getOrElse(i, 0L))
    val bcWords = newDocs.sparkSession.sparkContext.broadcast(wordsArr)
    val scored = newDocs
      .select(col("doc_id"), contentHash(col("text")).as("__h"),
        get(ch, lit(0)).as("__h1"), get(ch, lit(1)).as("__h2"))
      .withColumn("bloom_hit", graft.functions.BloomProbe.probe(
        col("__h1"), col("__h2"), bcWords, BloomReplayK, m))
      .select(col("doc_id"), col("__h"), col("bloom_hit"))
    val snapH = snapshot.select(contentHash(col("text")).as("__h")).distinct()
    val exact = scored
      .join(snapH, Seq("__h"), "left_semi")
      .select(col("doc_id"), lit(true).as("__exact"))
    val flagged = scored.join(exact, Seq("doc_id"), "left")
      .select(col("doc_id"), col("bloom_hit"),
        col("__exact").isNotNull.as("is_dup"))
    val stats = flagged.agg(
      sum(when(col("is_dup") && !col("bloom_hit"), 1L).otherwise(0L)).as("fn"),
      sum(when(!col("is_dup") && col("bloom_hit"), 1L).otherwise(0L)).as("fp"),
      sum(when(!col("is_dup"), 1L).otherwise(0L)).as("nneg"))
    val fprRaw = col("fp") * lit(1.0) / greatest(col("nneg"), lit(1L))
    flagged.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("bloom_hit"), col("is_dup"),
        when(col("fn") > 0,
          raise_error(concat(lit("bloom sketch false negative(s): "),
            col("fn").cast("string"))))
          .when(fprRaw > lit(5 * fpp),
            raise_error(concat(lit(s"bloom FPR above ${5 * fpp}: "),
              fprRaw.cast("string"))))
          .otherwise(round(fprRaw, 6)).as("fpr"))
  }

  /** Span-level duplicate coverage — the substring-dedup posture of
    * suffix-array dedup (Lee et al. 2021, "Deduplicating Training Data
    * Makes Language Models Better"), re-expressed Spark-first: a token
    * position is DUPLICATED when the word n-gram starting there occurs
    * ≥ `minCount` times corpus-wide (multiset count — within-doc
    * repetition counts, exactly as a suffix array would see it), and
    * maximal overlapping gram intervals [i, i+n−1] merge into spans.
    * Each doc reports merged-span count, duplicated-token coverage, and
    * the coverage fraction — everything a span cutter or a
    * drop-above-threshold policy needs.
    *
    * Scale shape: positional grams shuffle 8-byte xxhash64 keys (never
    * gram strings); the hot-gram set is corpus-derived and unbounded, so
    * membership is a keyed shuffle semi-join (NEVER broadcast — the d9
    * posture); the span merge is one window pass per doc. Because every
    * gram interval has the same length n, interval ends are monotone in
    * starts, so the interval-union merge needs only lag(end): a new span
    * starts exactly when i > prev_end + 1 — no running-max pass.
    */
  def duplicateSpans(docs: DataFrame, n: Int = 13, minCount: Int = 2): DataFrame =
    duplicateSpansTok(tokenize(docs), n, minCount)

  /** [[duplicateSpans]] from a pre-tokenized (doc_id, ts) frame. */
  def duplicateSpansTok(toks: DataFrame, n: Int = 13, minCount: Int = 2): DataFrame = {
    val pos = Tables.spread(toks)
      .select(col("doc_id"), size(col("ts")).cast("long").as("n_tokens"),
        explode(sequence(lit(1), greatest(size(col("ts")) - (n - 1), lit(1)))).as("i"),
        col("ts"))
      .select(col("doc_id"), col("n_tokens"), col("i"),
        xxhash64(array_join(slice(col("ts"), col("i"), lit(n)), " ")).as("gh"))
    val hot = pos.groupBy(col("gh"))
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= minCount).select("gh")
    val dup = pos.join(hot, Seq("gh"), "left_semi")
      .select(col("doc_id"), col("n_tokens"), col("i"),
        least(col("i") + (n - 1), col("n_tokens")).as("e"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val prevEnd = lag(col("e"), 1).over(w)
    val spans = dup
      .withColumn("brk",
        when(prevEnd.isNull, 1).when(col("i") > prevEnd + 1, 1).otherwise(0))
      .withColumn("grp", sum(col("brk")).over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg((max(col("e")) - min(col("i")) + 1).as("covered"))
    val perDoc = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), sum(col("covered")).as("dup_tokens"))
    toks.select(col("doc_id"), size(col("ts")).cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
      .withColumn("dup_fraction",
        round(col("dup_tokens") * lit(1.0) / greatest(col("n_tokens"), lit(1L)), 6))
      .withColumn("has_dup", col("dup_tokens") > 0)
  }

  /** Span REMOVAL — the excision step [[duplicateSpans]] only reports
    * (Lee et al. 2021 cut the duplicated substring out of the training
    * text; d11 tells you where, this produces the cleaned doc). Every
    * token position covered by a corpus-hot n-gram interval is dropped;
    * the survivors re-assemble in position order and the output carries
    * the cleaned text's SHA-256 (the downstream exact-dedup key) plus
    * kept/removed counts. Scale shape: identical to d11 through the hot
    * semi-join (keyed 8-byte hashes, never broadcast); the position
    * explode amplifies by ≤ n per duplicated start (the d11 class); the
    * re-assembly is one per-doc aggregation whose payload is the doc's
    * own tokens — bounded by the ingestion contract like every per-doc
    * HOF here. `n_removed` equals d11's `dup_tokens` by construction
    * (the span union and the position union are the same set) — the
    * DedupSpec law.
    */
  def removeDuplicateSpans(docs: DataFrame, n: Int = 13,
      minCount: Int = 2): DataFrame = {
    val toks = tokenize(docs)
    val pos = Tables.spread(toks)
      .select(col("doc_id"), size(col("ts")).cast("long").as("n_tokens"),
        explode(sequence(lit(1), greatest(size(col("ts")) - (n - 1), lit(1)))).as("i"),
        col("ts"))
      .select(col("doc_id"), col("n_tokens"), col("i"),
        xxhash64(array_join(slice(col("ts"), col("i"), lit(n)), " ")).as("gh"))
    val hot = pos.groupBy(col("gh"))
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= minCount).select("gh")
    val covered = pos.join(hot, Seq("gh"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("i"),
          least(col("i") + (n - 1), col("n_tokens")))).as("p"))
      .distinct()
    val posToks = Tables.spread(toks)
      .select(col("doc_id"), posexplode(col("ts")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("p"),
        col("col").as("t"))
    val kept = posToks.join(covered, Seq("doc_id", "p"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        sha2(array_join(
          expr("transform(array_sort(collect_list(struct(p, t))), s -> s.t)"),
          " "), 256).as("cleaned_hash"))
    toks.select(col("doc_id"), size(col("ts")).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("cleaned_hash"), sha2(lit(""), 256)).as("cleaned_hash"))
  }

  /** 13-gram benchmark-overlap contamination flags for training docs —
    * see the `d10` registry notes.
    *
    * @param broadcastBench PRECONDITION of the default: the benchmark
    *   suite is a small external input (eval sets are KB–MB scale — the
    *   documented contract), so its gram set broadcasts and the 100 TB
    *   training side streams through a broadcast semi-join without
    *   shuffling. Pass `false` whenever the bench set is corpus-derived
    *   or otherwise unbounded (as in this demo registry, which carves it
    *   out of the corpus itself): the semi-join then shuffles both sides
    *   on the 8-byte gram hash instead of collecting an unbounded set on
    *   the driver.
    */
  def decontaminate(docs: DataFrame, n: Int = 13,
      broadcastBench: Boolean = true): DataFrame =
    decontaminateTok(tokenize(docs), n, broadcastBench)

  /** [[decontaminate]] from a pre-tokenized (doc_id, ts) frame. */
  def decontaminateTok(toks: DataFrame, n: Int = 13,
      broadcastBench: Boolean = true): DataFrame = {
    val grams = tokenNgramRowsFromTokens(Tables.spread(toks), n)
      .select(col("doc_id"), xxhash64(col("g")).as("gh"))
      .distinct()
    val benchPlain = grams.filter(col("doc_id") % 10 === 0).select("gh").distinct()
    val bench = if (broadcastBench) broadcast(benchPlain) else benchPlain
    val hits = grams.filter(col("doc_id") % 10 =!= 0)
      .join(bench, Seq("gh"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contaminated"))
    toks.select("doc_id").filter(col("doc_id") % 10 =!= 0)
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        col("n_contaminated").isNotNull.as("is_contaminated"))
  }

  /** Gram size for the graded d24 contamination score — interpolated into
    * the oracle SQL so the two engines can never silently diverge.
    */
  val ContamN = 4

  /** Per-doc graded eval-set overlap — see the `d24` registry notes.
    *
    * Same bench/train carve as [[decontaminateTok]]; differs in emitting
    * the distinct-gram overlap FRACTION (6-dp rounded) and a severity
    * bucket decided on cross-multiplied integers. The marker left-join
    * counts total and hit grams in ONE aggregation, so the train side is
    * scanned once: grams → (broadcast | keyed) join vs bench → per-doc
    * count. Every training doc emits ≥1 gram (short docs produce one
    * partial gram, mirroring the oracle's `greatest(..., 1)`), so the
    * inner aggregation already covers all docs — no join back to the
    * doc list.
    */
  def contaminationScore(docs: DataFrame, n: Int = ContamN,
      broadcastBench: Boolean = true): DataFrame = {
    val grams = tokenNgramRowsFromTokens(Tables.spread(tokenize(docs)), n)
      .select(col("doc_id"), xxhash64(col("g")).as("gh"))
      .distinct()
    val benchPlain = grams.filter(col("doc_id") % 10 === 0)
      .select(col("gh")).distinct().withColumn("hit", lit(1L))
    val bench = if (broadcastBench) broadcast(benchPlain) else benchPlain
    grams.filter(col("doc_id") % 10 =!= 0)
      .join(bench, Seq("gh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        round(col("n_hit") / col("n_grams").cast("double"), 6).as("overlap_frac"),
        when(col("n_hit") * 10 >= col("n_grams") * 5, "high")
          .when(col("n_hit") * 100 >= col("n_grams") * 5, "medium")
          .when(col("n_hit") > 0, "low")
          .otherwise("clean").as("bucket"))
  }

  /** Whitespace tokenization as a (doc_id, ts: array<string>) frame — the
    * shared pre-pass every gram operator derives from. [[corpusCleanFull]]
    * materializes this ONCE per corpus so the five-stage pipeline scans
    * the raw text a single time.
    */
  def tokenize(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(trim(col("text")), "\\s+").as("ts"))

  /** Word n-gram strings as rows (doc_id, g) from a pre-tokenized frame —
    * multiset; the [[shingleStringRows]] generalization used by the
    * boilerplate (n=8) and decontamination (n=13) operators.
    */
  def tokenNgramRowsFromTokens(toks: DataFrame, n: Int): DataFrame =
    toks
      .select(col("doc_id"),
        explode(sequence(lit(1), greatest(size(col("ts")) - (n - 1), lit(1)))).as("i"),
        col("ts"))
      .select(col("doc_id"), array_join(slice(col("ts"), col("i"), lit(n)), " ").as("g"))

  /** [[tokenNgramRowsFromTokens]] over raw text (tokenizes inline). */
  def tokenNgramRows(docs: DataFrame, n: Int): DataFrame =
    tokenNgramRowsFromTokens(tokenize(docs), n)

  /** Number of minhash functions / LSH shape: 16 bands × 2 rows. The
    * (1/bands)^(1/rows) = 0.25 S-curve threshold catches J ≥ 0.5 pairs
    * with P ≈ 0.99+ while the exact-Jaccard verify step discards the
    * extra low-J candidates — and 32 hashes need only EIGHT sha256
    * digests per gram (the dominant scan cost; sha2 via MessageDigest is
    * ~15 µs/call).
    */
  val MinhashK = 32
  val MinhashBandRows = 2
  val MinhashBands: Int = MinhashK / MinhashBandRows // 16

  /** Default LSH bucket cap (the d3 skew guard). Interpolated into the
    * shared oracle CTEs so the DuckDB replay can never silently diverge
    * from the Spark default.
    */
  val DefaultMaxBucket = 50

  /** MinHash signatures over string shingle rows: hash family h_k(g) =
    * 15-hex-char chunk (k mod 4) of sha256((k div 4) || '|' || g) — 60
    * independent bits per chunk, four chunks per digest, so
    * [[MinhashK]] hashes cost only K/4 sha256 calls. Each chunk parses
    * to a LONG — fixed-width agg buffers keep the codegen'd `min`
    * aggregates on the HashAggregate fast path (string-typed min buffers
    * fall back to sort-based aggregation, ~4× slower); one shuffle keyed
    * by doc_id. The DuckDB oracle parses the identical chunks to BIGINT →
    * bit-identical signatures. (A nested-HOF formulation ran interpreted
    * and was ~100× slower; a Carter-Wegman h1+k·h2 family collapsed the
    * effective permutations — argmin is dominated by the smallest h2 for
    * large k — and lost planted near-dups.)
    * Returns (doc_id, m0..m{K-1}: long).
    */
  def minhashSignatures(gramRows: DataFrame): DataFrame = {
    val nDigests = MinhashK / 4
    val hx = gramRows.select(col("doc_id") +: (0 until nDigests).map(d =>
      graft.functions.Sha256Chunks
        .sha256Chunks(concat_ws("|", lit(d.toString), col("g")), 4).as(s"c$d")): _*)
    val hs = hx.select(col("doc_id") +: (0 until MinhashK).map(k =>
      get(col(s"c${k / 4}"), lit(k % 4)).as(s"h$k")): _*)
    val mins = (0 until MinhashK).map(k => min(col(s"h$k")).as(s"m$k"))
    hs.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** LSH band keys from the signature columns: [[MinhashBands]] bands ×
    * [[MinhashBandRows]] rows; the bucket key is the comma-joined tuple
    * itself (cross-engine exact — bucket membership is what matters, and
    * equal tuples ⇔ equal keys).
    */
  def bandKeyEntries: Column =
    array((0 until MinhashBands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (0 until MinhashBandRows)
          .map(j => col(s"m${MinhashBandRows * b + j}")): _*).as("bandkey"))
    }: _*)

  /** 60-bit SimHash per doc over whitespace tokens ([[hash60]] token
    * hashes): explode tokens → 60 codegen'd bit-count aggregates →
    * reassemble the sign word. Bit i is set iff more than half the token
    * hashes have bit i set (weight = 2·ones − n > 0). Returns
    * (doc_id, sh60).
    */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    val hashes = docs
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("t"))
      .select(col("doc_id"), hash60(col("t")).as("h"))
    val aggs = count(lit(1)).as("n") +:
      (0 until 60).map(i => sum(shiftright(col("h"), i).bitwiseAND(lit(1L))).as(s"o$i"))
    val sh60 = (0 until 60)
      .map(i => when(col(s"o$i") * 2 > col("n"), lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    hashes
      .groupBy(col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"), sh60.as("sh60"))
  }

  /** Skew-safe bucket cap (r13): keep rows whose key-group has at most
    * `maxN` members. groupBy-count + keyed join instead of the old
    * count-over-Window: hash-agg PARTIALS absorb a degenerate hot
    * bucket map-side (a near-constant corpus putting N rows in one
    * band bucket), where the window form lands the whole uncapped
    * bucket on a single window task before the `<= maxN` filter can
    * drop it. Same shuffle count — the join reuses the count's key
    * partitioning.
    */
  private[llm] def capBuckets(df: DataFrame, keys: Seq[String], maxN: Int): DataFrame = {
    // spill the (compact) bucket frame once: it feeds the count
    // aggregation AND both sides of the downstream self-join, and live
    // it would re-run its upstream (signature/shingle) lineage once per
    // consumer — at 100 TB, two extra corpus scans traded for one
    // narrow-column artifact write (the t20 discipline; released by
    // Verify/Bench per query). Wall-neutral at test SFs, measured.
    val spark = df.sparkSession
    val dir = spillRun(spark, None, "capBuckets", "cap")
    df.write.mode("overwrite").parquet(dir)
    val mat = spark.read.parquet(dir)
    val small = mat.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxN)
      .select(keys.map(col): _*)
    mat.join(small, keys)
  }

  /** LSH candidate pairs from a signature frame. Buckets on band keys;
    * ids only through the self-join — the shingle arrays (the heavy
    * payload) are re-attached per-side AFTER the candidate set is known,
    * so the shuffle moves keys, not content. Shared by d3's verified
    * pairs and d18's estimator-calibration pairs.
    */
  private def candidatesFromSigs(sigs: DataFrame, maxBucket: Int): DataFrame = {
    val buckets = sigs
      .select(col("doc_id"), explode(bandKeyEntries).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bandkey").as("bandkey"))
    val sized = capBuckets(buckets, Seq("band", "bandkey"), maxBucket)
    sized.select(col("band"), col("bandkey"), col("doc_id").as("doc_id_a"))
      .join(sized.select(col("band"), col("bandkey"), col("doc_id").as("doc_id_b")),
        Seq("band", "bandkey"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .select(col("doc_id_a"), col("doc_id_b"))
      .dropDuplicates("doc_id_a", "doc_id_b")
  }

  /** MinHash-LSH candidate pairs with exact-Jaccard verification.
    *
    * @param maxBucket LSH buckets larger than this are dropped (degenerate
    *                  content, e.g. boilerplate shingles) — the skew guard
    *                  that keeps the self-join from going quadratic.
    */
  def minhashPairs(docs: DataFrame, minJaccard: Double = 0.5,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    minhashPairsTok(tokenize(docs), minJaccard, maxBucket)

  /** [[minhashPairs]] from a pre-tokenized (doc_id, ts) frame — lets
    * [[corpusCleanFull]] feed every gram stage from one materialized
    * tokenization.
    */
  def minhashPairsTok(toks: DataFrame, minJaccard: Double = 0.5,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // Shingle gram rows feed three consumers (signatures + both sides of
    // the verification join) and are deliberately RECOMPUTED per consumer:
    // at 100 TB caching per-doc shingle sets on executors is a memory
    // liability — recompute-from-source is the spill-free posture (the
    // source being the raw scan here, or the token artifact under t15).
    val spreadToks = graft.Tables.spread(toks)
    def gramRows = tokenNgramRowsFromTokens(spreadToks, 3)
    val shingleDf = gramRows
      .select(col("doc_id"), xxhash64(col("g")).as("sh"))
      .groupBy(col("doc_id")).agg(collect_set(col("sh")).as("sh"))
    val sigs = minhashSignatures(gramRows)
    val candidates = candidatesFromSigs(sigs, maxBucket)
    candidates
      .join(shingleDf.select(col("doc_id").as("doc_id_a"), col("sh").as("sh_a")), Seq("doc_id_a"))
      .join(shingleDf.select(col("doc_id").as("doc_id_b"), col("sh").as("sh_b")), Seq("doc_id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_id_a"), col("doc_id_b"), col("jaccard"))
  }

  /** LSH tuning diagnostics — see the `d26` registry notes. Returns every
    * capped candidate pair with band-collision count, the minhash
    * estimator (matching signature components / K), exact Jaccard, and
    * the FP flag against `targetJaccard`. The pair set is d3's by
    * construction (same signatures, same bucket cap).
    */
  def lshDiagnostics(docs: DataFrame, targetJaccard: Double = 0.5,
      maxBucket: Int = DefaultMaxBucket,
      spillDir: Option[String] = None): DataFrame = {
    val spark = docs.sparkSession
    // fused single gram pass (the dedupIndexArtifacts shape, keeping the
    // raw m-columns for the estimator) + ONE spill boundary: the kernel
    // references signatures three times (banding, both estimator sides)
    // and shingle sets twice — unspilled, each reference re-executes the
    // sha256 chains (same multi-reference blowup st9 had)
    val gramRows = tokenNgramRowsFromTokens(Tables.spread(tokenize(docs)), 3)
    val nDigests = MinhashK / 4
    val hx = gramRows.select(
      col("doc_id") +: xxhash64(col("g")).as("gh") +: (0 until nDigests).map(d =>
        graft.functions.Sha256Chunks
          .sha256Chunks(concat_ws("|", lit(d.toString), col("g")), 4).as(s"c$d")): _*)
    val hs = hx.select(col("doc_id") +: col("gh") +: (0 until MinhashK).map(k =>
      get(col(s"c${k / 4}"), lit(k % 4)).as(s"h$k")): _*)
    val aggs = (0 until MinhashK).map(k => min(col(s"h$k")).as(s"m$k")) :+
      collect_set(col("gh")).as("sh")
    val artDir = spillRun(spark, spillDir, "lshDiagnostics", "lshdiag")
    hs.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      .write.mode("overwrite").parquet(artDir)
    val art = spark.read.parquet(artDir)
    val sigs = art.drop("sh")
    val banded = capBuckets(
      sigs.select(col("doc_id"), explode(bandKeyEntries).as("bk"))
        .select(col("doc_id"), col("bk.band").as("band"), col("bk.bandkey").as("bandkey")),
      Seq("band", "bandkey"), maxBucket)
    val nBands = banded.select(col("band"), col("bandkey"), col("doc_id").as("doc_id_a"))
      .join(banded.select(col("band"), col("bandkey"), col("doc_id").as("doc_id_b")),
        Seq("band", "bandkey"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .groupBy(col("doc_id_a"), col("doc_id_b"))
      .agg(count(lit(1)).as("n_bands"))
    val estExpr = (0 until MinhashK)
      .map(k => when(col(s"a.m$k") === col(s"b.m$k"), 1).otherwise(0))
      .reduce(_ + _).cast("double") / MinhashK
    val est = nBands
      .join(sigs.as("a"), col("doc_id_a") === col("a.doc_id"))
      .join(sigs.as("b"), col("doc_id_b") === col("b.doc_id"))
      .select(col("doc_id_a"), col("doc_id_b"), col("n_bands"),
        round(estExpr, 6).as("est_jaccard"))
    val shingleDf = art.select(col("doc_id"), col("sh"))
    est
      .join(shingleDf.select(col("doc_id").as("doc_id_a"), col("sh").as("sh_a")),
        Seq("doc_id_a"))
      .join(shingleDf.select(col("doc_id").as("doc_id_b"), col("sh").as("sh_b")),
        Seq("doc_id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .select(col("doc_id_a"), col("doc_id_b"), col("n_bands"), col("est_jaccard"),
        round(col("jaccard"), 6).as("jaccard"),
        (col("jaccard") < targetJaccard).as("is_fp"))
  }

  /** SimHash near-dup pairs: `bands`×`bandBits`-bit band blocking over the
    * 60-bit signature, Hamming ≤ maxHamming.
    *
    * Losslessness (pigeonhole): ≤ maxHamming flipped bits can touch at
    * most maxHamming of the bands, so with `bands ≥ maxHamming + 1` at
    * least one band matches exactly — which is why the full all-pairs
    * DuckDB oracle is a valid gate for the bucketed plan. Constraints
    * (enforced): `bands ≥ maxHamming + 1` and `bands · bandBits ≤ 60`.
    * The default 4×15 is the widest banding 60 bits allow for
    * hamming ≤ 3; the band-key space is 2^bandBits PER BAND, so expected
    * bucket occupancy grows as N/2^bandBits — at corpus scale the right
    * move is a wider signature (e.g. a 128-bit simhash → 4×32 banding),
    * not fewer/narrower bands, since narrowing bands weakens the hamming
    * guarantee.
    *
    * @param maxBucket band buckets larger than this are DROPPED (the d3
    *   skew guard, `minhashPairs`): a degenerate bucket — boilerplate or
    *   empty text collapsing to one signature, or sheer N outgrowing the
    *   2^bandBits key space — would otherwise self-join quadratically
    *   (O(N²/2^bandBits) candidate pairs by construction). A dropped
    *   bucket can lose true pairs, so the cap is sized far above organic
    *   occupancy at test scale; at 10⁹+ docs treat a tripped cap as the
    *   signal to widen the signature.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3, bands: Int = 4,
      bandBits: Int = 15, maxBucket: Int = 1000): DataFrame = {
    require(bands >= maxHamming + 1,
      s"banding loses pairs: need bands ($bands) >= maxHamming + 1 (${maxHamming + 1})")
    require(bands * bandBits <= 60,
      s"bands * bandBits (${bands * bandBits}) exceeds the 60-bit signature")
    val sigs = simhashSignatures(graft.Tables.spread(docs))
    val mask = (1L << bandBits) - 1
    val banded = sigs.select(col("doc_id"), col("sh60"),
      explode(expr(s"transform(sequence(0, ${bands - 1}), b -> struct(b AS band, shiftright(sh60, b * $bandBits) & ${mask}L AS key))")).as("bk"))
      .select(col("doc_id"), col("sh60"), col("bk.band"), col("bk.key"))
    val sized = capBuckets(banded, Seq("band", "key"), maxBucket)
    val a = sized.select(col("band"), col("key"), col("doc_id").as("doc_id_a"), col("sh60").as("ha"))
    val b = sized.select(col("band"), col("key"), col("doc_id").as("doc_id_b"), col("sh60").as("hb"))
    a.join(b, Seq("band", "key"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .dropDuplicates("doc_id_a", "doc_id_b")
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_id_a"), col("doc_id_b"), col("hamming"))
  }

  /** Collapse near-dup PAIRS into duplicate clusters: connected
    * components by min-label propagation WITH pointer jumping (the
    * two-hop / "hash-to-min" trick: each round a node adopts the least of
    * its own label, its neighbors' labels, AND its current label's label
    * — path compression). Plain propagation needs O(diameter) rounds and
    * the large-star/small-star alternation halves that; pointer jumping
    * converges in O(log diameter), strictly fewer for any chain longer
    * than a clique. Fixpoint = components labeled by their minimum doc_id
    * (the survivor).
    *
    * Cluster-scale execution mechanics (NOT localCheckpoint, which pins
    * blocks on executors with no fault tolerance — one executor loss
    * during a long propagation would abort the whole job at 100 TB):
    *  - the pair pipeline (the expensive LSH scan) is evaluated ONCE and
    *    spilled to parquet under `spillDir`; every round re-reads that —
    *    the recompute-over-cache posture, durable if `spillDir` is a
    *    reliable FS (HDFS/S3 in production; defaults to the session
    *    checkpoint dir, then local tmp for tests);
    *  - each convergence window (2 pointer-jump rounds chained lazily)
    *    spills its labels to parquet, so lineage never stacks and a lost
    *    executor only re-runs one short window from durable inputs;
    *  - convergence is checked once per window — half the driver syncs of
    *    a per-round count, and the check is a `limit 1` scan of the spill
    *    it just wrote, not a separate materialization.
    *
    * Returns (doc_id, comp_id, cluster_size, is_keeper) for every doc
    * that appears in at least one pair. The returned plan reads the final
    * spill, so `spillDir` must outlive consumption of the result.
    */
  /** Resolve a durable spill base: explicit dir, else the session
    * checkpoint dir, else — LOCAL MODE ONLY — java.io.tmpdir. The tmpdir
    * fallback is DRIVER-LOCAL, only valid when executors share the
    * driver's filesystem (local mode / tests); on a real cluster an
    * unshared file:/tmp would break (or silently partial-read) the
    * write/read cycle, so refuse loudly.
    */
  private[graft] def spillBase(spark: SparkSession, spillDir: Option[String],
      what: String): String =
    spillDir
      .orElse(spark.sparkContext.getCheckpointDir)
      .getOrElse {
        require(spark.sparkContext.isLocal,
          s"$what on a cluster needs a shared, durable spill location: " +
            "pass spillDir or set SparkContext.setCheckpointDir (HDFS/S3); " +
            "java.io.tmpdir is driver-local and unreadable from executors")
        val base = sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-cc-spill"
        // GC only on THIS fallback path: an explicit spillDir/checkpoint
        // dir is caller-owned (their retention policy; another process's
        // >TTL spill may still be live there), but nobody owns /tmp
        pruneStaleRuns(spark, base)
        base
      }

  /** One tag per JVM, embedded in every run-dir name: a pruner can then
    * tell its own session's spills (whose returned plans may still be
    * live) from earlier processes' leftovers.
    */
  private val sessionTag: String =
    java.lang.Long.toHexString(java.util.UUID.randomUUID().getMostSignificantBits)

  /** Every run-dir prefix the engine writes under a spill base — the
    * one list both namers accept and [[pruneStaleRuns]] reclaims, so a
    * new spill kind cannot be created without becoming prunable.
    */
  private[graft] val SpillPrefixes: Set[String] = Set(
    "bpelc", "cap", "cc", "fdoor", "forget", "incart", "incartb", "incverb",
    "ivf", "ivfidx", "ivflc", "ivfpq", "ivfrx", "ivfsq8", "lm", "lmk",
    "lshdiag", "ph", "snm", "tok")

  private def spillPrefix(prefix: String): String = {
    require(SpillPrefixes(prefix),
      s"spill dir prefix '$prefix' is not in Dedup.SpillPrefixes")
    prefix
  }

  private def runDirName(prefix: String): String =
    s"${spillPrefix(prefix)}-$sessionTag-${java.util.UUID.randomUUID()}"

  /** A DETERMINISTIC session-scoped dir name (no UUID): same prefix +
    * name within one JVM always maps to the same path, so a build-once
    * artifact (the s23 serving index) survives across bench reps while
    * the TTL pruner still recognizes other sessions' copies as foreign
    * (the session tag is embedded exactly like [[runDirName]]).
    */
  private[graft] def sessionDirName(prefix: String, name: String): String =
    s"${spillPrefix(prefix)}-$sessionTag-$name"

  /** Record a run dir whose returned plans may still be live (the
    * cc-/tok-/snm- spills) in the context's [[graft.EngineState]], so
    * [[releaseSpills]] can reclaim it on the caller's say-so and the
    * context's stop reclaims it otherwise; other processes' leftovers
    * belong to the TTL pruner / retention policy.
    */
  private def trackSpill(spark: SparkSession, dir: String): String = {
    graft.EngineState.of(spark).spills.add(dir); dir
  }

  /** A fresh run dir `<spill base>/<prefix>-<tag>-<uuid>` for `what`,
    * tracked as by [[trackSpill]]. */
  private[graft] def spillRun(spark: SparkSession, spillDir: Option[String],
      what: String, prefix: String): String =
    trackSpill(spark, s"${spillBase(spark, spillDir, what)}/${runDirName(prefix)}")

  /** Delete every spill directory this session's context has created so
    * far (a `foreachBatch` clone's spills included). The CALLER asserts
    * the plans those spills back are fully consumed — a released plan
    * re-collected afterwards fails on missing files (loudly, never
    * silently wrong). Verify/Bench call this after each query's output
    * is materialized, so repeated invocations of
    * [[corpusCleanFull]]/[[dedupClusters]] in one session do not
    * accumulate one tokenized-corpus copy per call. Never throws; a dir
    * that cannot be deleted stays for the retention policy. Returns the
    * number of directories removed.
    */
  def releaseSpills(spark: SparkSession): Int =
    graft.EngineState.of(spark).releaseSpills()

  /** Best-effort GC of ABANDONED run dirs under the TMPDIR-FALLBACK spill
    * base (explicit spillDir / checkpoint dirs are caller-owned and never
    * touched). Each invocation of [[dedupClusters]]/[[corpusCleanFull]]
    * must leave its final spill behind (the returned plan reads it
    * lazily), so without this the local-mode fallback accumulates one
    * tokenized corpus copy per call across repeated runs/tests. Deletes
    * only dirs that are (a) NOT this JVM's (live plans here may still
    * read theirs) and (b) older than `spark.graft.spill.ttl.minutes`
    * (default 60) — in /tmp that old means a dead process. Never throws.
    */
  private[llm] def pruneStaleRuns(spark: SparkSession, base: String): Unit =
    try {
      val ttlMs = graft.GraftConfig.spillTtlMinutes(spark) * 60000L
      val cutoff = System.currentTimeMillis() - ttlMs
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.listStatus(p).foreach { st =>
        val n = st.getPath.getName
        val foreignRun = SpillPrefixes(n.takeWhile(_ != '-')) &&
          !n.contains(sessionTag)
        if (foreignRun && st.getModificationTime < cutoff)
          fs.delete(st.getPath, true)
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  def dedupClusters(pairs: DataFrame, maxRounds: Int = 50,
      spillDir: Option[String] = None): DataFrame = {
    val spark = pairs.sparkSession
    val runDir = spillRun(spark, spillDir, "dedupClusters", "cc")

    pairs.select(col("doc_id_a").as("a"), col("doc_id_b").as("b"))
      .write.mode("overwrite").parquet(s"$runDir/edges")
    val edges = spark.read.parquet(s"$runDir/edges")
    val sym = edges.union(edges.select(col("b").as("a"), col("a").as("b")))

    var labels = sym.select(col("a").as("node")).distinct()
      .withColumn("comp", col("node"))
    val roundsPerCheck = 2
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      var cur = labels.withColumn("prev", col("comp"))
      for (i <- 0 until roundsPerCheck) {
        // snapshot labels entering the window's LAST round: "no change
        // across that single round" is the fixpoint test, and snapshotting
        // late means a window whose final round is already a no-op detects
        // convergence without an extra confirmation window
        if (i == roundsPerCheck - 1)
          cur = cur.select(col("node"), col("comp"), col("comp").as("prev"))
        val in = sym
          .join(cur.select(col("node").as("n1"), col("comp").as("c1")),
            sym("a") === col("n1"))
          .groupBy(col("b")).agg(min(col("c1")).as("in_comp"))
          .select(col("b").as("in_node"), col("in_comp"))
        val hop = cur.join(in, cur("node") === col("in_node"), "left")
          .select(col("node"),
            least(col("comp"), coalesce(col("in_comp"), col("comp"))).as("comp"),
            col("prev"))
        val jump = cur.select(col("node").as("jn"), col("comp").as("jc"))
        cur = hop.join(jump, hop("comp") === col("jn"), "left")
          .select(col("node"),
            least(col("comp"), coalesce(col("jc"), col("comp"))).as("comp"),
            col("prev"))
        rounds += 1
      }
      val slot = s"$runDir/labels-r$rounds"
      cur.write.mode("overwrite").parquet(slot)
      val spilled = spark.read.parquet(slot)
      converged = spilled.filter(col("comp") =!= col("prev")).isEmpty
      labels = spilled.select("node", "comp")
    }
    // a capped-out loop would return NOT-YET-MERGED components as if
    // final — refuse rather than silently under-cluster
    require(converged,
      s"dedupClusters did not converge within $maxRounds rounds (graph diameter too large)")
    graft.EngineState.of(spark).lastClosureRounds.set(rounds)
    System.err.println(s"[dedupClusters] converged in $rounds propagation rounds")
    // only the FINAL labels spill feeds the returned plan — drop the edge
    // spill and superseded round slots. The final slot itself must outlive
    // consumption of the result, so each invocation leaves one small
    // parquet dir behind; a retention policy owns the run dir in
    // production (spillDir is the knob).
    try {
      val fs = new org.apache.hadoop.fs.Path(runDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(runDir))
        .filter(_.getPath.getName != s"labels-r$rounds")
        .foreach(st => fs.delete(st.getPath, true))
    } catch { case scala.util.control.NonFatal(_) => () }
    // SHUFFLE join, deliberately not broadcast: `sizes` has one row per
    // CLUSTER — corpus-derived and unbounded (hundreds of millions of
    // near-dup clusters at 100 TB). Both sides key on comp (sizes is
    // already hash-partitioned by comp from its own aggregation), so the
    // plain join is the natural plan; AQE still broadcasts when small.
    val sizes = labels.groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("comp"))
      .select(col("node").as("doc_id"), col("comp").as("comp_id"),
        col("cluster_size"), (col("node") === col("comp")).as("is_keeper"))
  }

  /** Quality-ranked cluster representatives — see the `d25` registry
    * notes. `docs` needs (doc_id, text, n_chars). The per-cluster window
    * keys on comp_id, whose cardinality grows with the corpus (well
    * distributed — the opposite of a fixed-|sources| partition key);
    * quality columns are scan-side integer counts joined back keyed on
    * doc_id.
    */
  /** Cluster-atomic train/val/test split — see the `d27` registry notes.
    * Every doc takes the split of its d8-closure representative's
    * content hash (singletons: their own hash, i.e. exactly q76), so no
    * near-dup pair ever crosses a split boundary. DedupSpec proves the
    * zero-leakage law against the pair set and the singleton≡q76
    * reduction.
    */
  def leakageSafeSplit(docs: DataFrame): DataFrame = {
    val comp = dedupClusters(minhashPairs(docs))
      .select(col("doc_id"), col("comp_id"))
    val allc = docs.select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("comp_id"), col("doc_id")).as("comp_id"))
    val repBucket = docs.select(col("doc_id").as("comp_id"),
      (conv(substring(contentHash(col("text")), 1, 8), 16, 10).cast("long") % 100)
        .as("bucket"))
    allc.join(repBucket, Seq("comp_id"))
      .select(col("doc_id"), col("comp_id"), col("bucket"),
        when(col("bucket") < 80, "train").when(col("bucket") < 90, "val")
          .otherwise("test").as("split"))
  }

  /** d27's split discipline over a MAINTAINED label store — the st11
    * consumption path: at a continuously-growing corpus the closure
    * labels come off the incremental fold ([[mergeClosureLabels]] /
    * `Streams.runIncrementalClosureStream`) instead of the full-corpus
    * d8 recompute [[leakageSafeSplit]] pays per run. One keyed join of
    * the doc spine against the label store (coalesce to self for
    * never-paired docs), then the same representative-hash bucketing —
    * so the split assignment a doc gets the day it arrives is the one
    * the batch recompute would give (DedupSpec pins the equivalence on
    * the st11 label set).
    */
  def leakageSafeSplitFromLabels(docs: DataFrame, labels: DataFrame): DataFrame = {
    val allc = docs.select(col("doc_id"))
      .join(labels.select(col("doc_id"), col("comp")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("comp_id"))
    val hashBucket =
      (conv(substring(contentHash(col("text")), 1, 8), 16, 10).cast("long") % 100)
    val repBucket = docs.select(col("doc_id").as("comp_id"),
      hashBucket.as("rep_bucket"))
    val ownBucket = docs.select(col("doc_id"), hashBucket.as("own_bucket"))
    // LEFT join on the representative: a label whose rep id is absent
    // from `docs` (the rep was RTBF-purged while other cluster members
    // survive, and the store hasn't been re-pointed yet) must not
    // silently drop every member row from the split — those members
    // fall back to their OWN content-hash bucket (still deterministic
    // and re-ingest-stable; cluster-atomicity for that orphaned cluster
    // is restored when purgeClosureLabels re-elects its rep). Output is
    // exactly one row per doc by construction (both joins are keyed
    // left joins off the doc spine).
    allc.join(repBucket, Seq("comp_id"), "left")
      .join(ownBucket, Seq("doc_id"))
      .select(col("doc_id"), col("comp_id"),
        coalesce(col("rep_bucket"), col("own_bucket")).as("bucket"))
      .select(col("doc_id"), col("comp_id"), col("bucket"),
        when(col("bucket") < 80, "train").when(col("bucket") < 90, "val")
          .otherwise("test").as("split"))
  }

  /** See the `t34` registry notes. `docs` needs (doc_id, source, text).
    * Effective per-source token mass over the DEDUPED corpus: a doc
    * contributes its tokens iff it is unpaired or its d8 cluster's
    * min-label keeper (integer-exact — no rational 1/n weights, so the
    * oracle hash cannot drift on division rounding), then t32's
    * √-tempered mixture math on the corrected counts. The Σ√n
    * denominator folds driver-side in lexicographic source order over
    * the |sources|-row frame (the t21/t32 bounded-fold rule). `meter`
    * is the per-doc token meter (default: whitespace; t43 passes the
    * LEARNED BpeCount so the dedup-corrected mixture prices what a
    * trainer consumes).
    */
  def dedupCorrectedMixture(docs: DataFrame,
      meter: Column = size(graft.llm.TextStats.tokens(col("text"))).cast("long"),
      keep0: Option[DataFrame] = None)
      : DataFrame = {
    val keep = keep0.getOrElse(dedupClusters(minhashPairs(docs))
      .select(col("doc_id"), col("is_keeper").as("__k")))
    val spark = docs.sparkSession
    import spark.implicits._
    val s = docs
      .select(col("doc_id"), col("source"), meter.as("nt"))
      .join(keep, Seq("doc_id"), "left")
      .select(col("source"), col("nt"), coalesce(col("__k"), lit(true)).as("k"))
      .groupBy(col("source"))
      .agg(sum(col("nt")).as("n_tok_raw"),
        sum(when(col("k"), col("nt")).otherwise(0L)).as("n_tok_dedup"))
    // collect the |sources|-row frame ONCE (the t21/t32 bounded-fold
    // rule) and build the output from it — r13: consuming `s` again for
    // the final select re-ran the whole LSH + closure lineage a second
    // time (it was the corpus-heavy half of the entry's cost)
    val perSource = s.orderBy(col("source")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val tot = perSource.map(_._3).sum
    val wsum = perSource.foldLeft(0.0) { case (acc, (_, _, n)) =>
      acc + math.sqrt(n.toDouble)
    }
    // n_tok_dedup = 0 is reachable (a source whose entire token mass is
    // cross-source-duplicated away — exactly the d29/t34 target): the
    // unguarded divisions would emit 0/0 NaN epochs and lean on Spark
    // and DuckDB agreeing on NaN serialization for the oracle hash.
    // Such a source gets weight 0 and epochs 0 by definition.
    val nonEmpty = col("n_tok_dedup") > 0L
    perSource.toSeq.toDF("source", "n_tok_raw", "n_tok_dedup")
      .select(col("source"), col("n_tok_raw"), col("n_tok_dedup"),
      round(col("n_tok_dedup").cast("double") / col("n_tok_raw"), 6)
        .as("dedup_frac"),
      round(col("n_tok_dedup").cast("double") / lit(tot), 6).as("nat_frac"),
      round(when(nonEmpty, sqrt(col("n_tok_dedup").cast("double")) / lit(wsum))
        .otherwise(0.0), 6).as("weight"),
      round(when(nonEmpty, sqrt(col("n_tok_dedup").cast("double")) / lit(wsum) *
        lit(tot) / col("n_tok_dedup")).otherwise(0.0), 6).as("epochs"))
  }

  def clusterKeepBest(docs: DataFrame): DataFrame = {
    val comp = dedupClusters(minhashPairs(docs))
    val sw = typedLit(graft.llm.TextStats.enStopwords)
    val qual = docs.select(col("doc_id"), col("n_chars"),
      size(filter(split(trim(col("text")), "\\s+"), t => array_contains(sw, t)))
        .cast("long").as("n_stopwords"))
    // per-component rank on the bounded two-pass form (r13): comp_id is
    // corpus-derived and a crawl's boilerplate mega-cluster would land
    // its entire membership on ONE Window task; the range-partitioned
    // rank spreads a dominant component across partitions instead
    val ranked = graft.operators.Relational.groupedRowNumber(
      comp.join(qual, Seq("doc_id")), Seq("comp_id"),
      Seq(col("n_stopwords").desc, col("n_chars").desc, col("doc_id")), "__rn")
    ranked
      .withColumn("kept", col("__rn") === 1)
      .select(col("doc_id"), col("comp_id"), col("cluster_size"),
        col("n_stopwords"), col("kept"))
  }

  /** The full five-stage corpus clean (the `t15` registry entry): exact
    * dedup → near-dup cluster losers → benchmark decontamination →
    * boilerplate cut → quality cut, with that precedence, one verdict per
    * doc — with the shared tokenization MATERIALIZED ONCE. A single
    * pre-pass scans the raw corpus and writes a compact artifact
    * `(doc_id, content hash, non-alpha ratio, token array)`; every
    * downstream stage derives from that artifact, so at 100 TB the raw
    * text is scanned + decoded ONCE instead of once per gram stage (the
    * t10 posture), and the per-stage plans are unchanged. Like
    * [[dedupClusters]], the returned plan reads the artifact — the spill
    * must outlive consumption of the result; a retention policy owns the
    * run dir in production (`spillDir` is the knob).
    *
    * The decontamination stage deliberately passes
    * `broadcastBench = false`: unlike d10's external-eval-suite contract,
    * the bench gram set here is carved from the corpus ARTIFACT itself
    * (doc_id % 10), i.e. corpus-derived and unbounded by construction —
    * the keyed shuffle semi-join is the only shape that survives 100 TB
    * (AQE still broadcast-converts it while small, as at test SFs).
    */
  def corpusCleanFull(docs: DataFrame, spillDir: Option[String] = None): DataFrame = {
    val spark = docs.sparkSession
    val tokDir = spillRun(spark, spillDir, "corpusCleanFull", "tok")
    // spread BEFORE the artifact write: a single-file corpus scan would
    // otherwise run the tokenize+hash job on one task AND land the
    // artifact as one file, so every downstream stage would begin from a
    // one-partition scan and pay its own full-token-array repartition.
    // Spread here, and (a) the write parallelizes, (b) the artifact is
    // multi-file so downstream scans start wide, (c) the per-stage
    // spread() calls become no-ops.
    Tables.spread(docs).select(col("doc_id"),
        contentHash(col("text")).as("__h"),
        nonAlphaRatio(col("text")).as("__na"),
        split(trim(col("text")), "\\s+").as("ts"))
      .write.mode("overwrite").parquet(tokDir)
    val art = spark.read.parquet(tokDir)
    val toks = art.select(col("doc_id"), col("ts"))
    val exactDups = exactDupLosers(art.select(col("doc_id"), col("__h")))
    val nearLosers = dedupClusters(minhashPairsTok(toks), spillDir = spillDir)
      .filter(!col("is_keeper"))
      .select(col("doc_id"), lit(true).as("__near"))
    val contaminated = decontaminateTok(toks, broadcastBench = false)
      .filter(col("is_contaminated"))
      .select(col("doc_id"), lit(true).as("__cont"))
    val boiler = hotNgramCoverageTok(toks)
      .filter(col("is_boilerplate"))
      .select(col("doc_id"), lit(true).as("__boiler"))
    art.select(col("doc_id"), col("__na"))
      .join(exactDups, Seq("doc_id"), "left")
      .join(nearLosers, Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .join(boiler, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__exact").isNotNull, "exact_dup")
          .when(col("__near").isNotNull, "near_dup")
          .when(col("__cont").isNotNull, "contaminated")
          .when(col("__boiler").isNotNull, "boilerplate")
          .when(col("__na") > 0.19, "low_quality")
          .otherwise("kept").as("reason"))
      .withColumn("kept", col("reason") === "kept")
  }

  /** The DuckDB CTE chain replaying the MinHash-LSH pipeline, ending in a
    * `pairs(doc_id_a, doc_id_b, jaccard)` CTE — shared by the d3 oracle
    * and d8's cluster oracle.
    */
  /** The DuckDB CTE prefix replaying minhash signatures + band keys for
    * every document (`toks` → `gsets` → `gr` → `gh` → `sig` → `banded`)
    * — shared by the symmetric pair oracle ([[minhashOracleCtes]]) and
    * the asymmetric cross-snapshot oracle (d12).
    */
  private def minhashSigCtes: String = minhashSigCtesFrom("documents")

  private def minhashSigCtesFrom(docsRel: String): String = {
    def parse15(src: String) = s"CAST(list_sum([CAST(strpos('0123456789abcdef', substr($src, j+1, 1)) - 1 AS BIGINT) << (4*(14-j)) FOR j IN range(15)]) AS BIGINT)"
    val hxs = (0 until MinhashK / 4).map(d => s"sha256('$d|' || g) AS hx$d").mkString(", ")
    val mins = (0 until MinhashK).map(k =>
      s"min(${parse15(s"substr(hx${k / 4}, ${15 * (k % 4) + 1}, 15)")}) AS m$k").mkString(", ")
    val bandSel = (0 until MinhashBands).map(b =>
      s"SELECT doc_id, $b AS band, concat_ws(',', ${(0 until MinhashBandRows)
        .map(j => s"m${MinhashBandRows * b + j}").mkString(", ")}) AS bk FROM sig")
      .mkString("\n  UNION ALL ")
    s"""toks AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts FROM $docsRel
       |), gsets AS (
       |  SELECT doc_id, list_distinct([array_to_string(ts[i:i+2], ' ')
       |    FOR i IN range(1, greatest(len(ts) - 2, 1) + 1)]) AS gs
       |  FROM toks
       |), gr AS (
       |  SELECT doc_id, unnest(gs) AS g FROM gsets
       |), gh AS (
       |  SELECT doc_id, $hxs FROM gr
       |), sig AS (
       |  SELECT doc_id, $mins FROM gh GROUP BY doc_id
       |), banded AS (
       |  $bandSel
       |)""".stripMargin
  }

  /** Sig CTEs + capped band buckets + the distinct candidate pair set —
    * the unfiltered front of the LSH pipeline, shared by d3's verified
    * pairs and d18's estimator calibration.
    */
  private def minhashCandCtes: String =
    s"""$minhashSigCtes, capped AS (
       |  SELECT doc_id, band, bk FROM (
       |    SELECT doc_id, band, bk, count(*) OVER (PARTITION BY band, bk) AS nb FROM banded)
       |  WHERE nb <= $DefaultMaxBucket
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM capped a JOIN capped b ON a.band = b.band AND a.bk = b.bk AND b.doc_id > a.doc_id
       |)""".stripMargin

  private def minhashOracleCtes: String = {
    s"""$minhashCandCtes, pairs AS (
       |  SELECT da AS doc_id_a, db AS doc_id_b, jaccard FROM (
       |    SELECT c.da, c.db,
       |      CAST(len(list_intersect(ga.gs, gb.gs)) AS DOUBLE)
       |        / len(list_distinct(ga.gs || gb.gs)) AS jaccard
       |    FROM cand c
       |    JOIN gsets ga ON ga.doc_id = c.da
       |    JOIN gsets gb ON gb.doc_id = c.db)
       |  WHERE jaccard >= 0.5
       |)""".stripMargin
  }

  def registry: Seq[OpQuery] = Seq(

    // ---- exact dedup: first-wins survivor per content hash ---------------
    sql("d1_exact_dedup",
      """SELECT doc_id, content_hash FROM (
        |  SELECT doc_id, sha256(text) AS content_hash,
        |    ROW_NUMBER() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
        |  FROM documents) t WHERE rn = 1""".stripMargin) { (s, d) =>
      // First-wins ≡ min(doc_id) per hash, so the survivor set IS the
      // hash-agg result — no rank at all (r14): the r13 window grouped on
      // content_hash, i.e. on duplicate sets, and a crawl's boilerplate
      // mega-group would land its whole membership on ONE window task.
      // The hash-agg min combines map-side, so the hot hash costs one
      // partial per input partition (the exactDupLosers rule, commit
      // 5ce2a76, applied to the registry query that actually runs).
      Tables.documents(s, d)
        .select(col("doc_id"), contentHash(col("text")).as("content_hash"))
        .groupBy(col("content_hash")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"), col("content_hash"))
    },

    // ---- duplicate-group report on a prefix key (non-trivial in this
    //      corpus: generated docs share 80-char prefixes) -------------------
    sql("d2_dup_groups",
      """SELECT prefix_hash, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(doc_id) AS BIGINT) AS keeper_doc_id
        |FROM (SELECT doc_id, sha256(substr(text, 1, 80)) AS prefix_hash FROM documents) t
        |GROUP BY prefix_hash HAVING count(*) > 1""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), sha2(substring(col("text"), 1, 80), 256).as("prefix_hash"))
        .groupBy(col("prefix_hash"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper_doc_id"))
        .filter(col("n_docs") > 1)
    },

    // ---- normalized-text dedup: case/punct/whitespace-insensitive --------
    // The canonicalization step every LLM corpus dedup runs before exact
    // hashing: lowercase, strip punctuation, collapse whitespace.
    sql("d6_normalized_dedup",
      """SELECT doc_id, norm_hash FROM (
        |  SELECT doc_id,
        |    sha256(trim(regexp_replace(regexp_replace(lower(text), '[.,;:!?"]', '', 'g'),
        |                               '\s+', ' ', 'g'))) AS norm_hash,
        |    ROW_NUMBER() OVER (PARTITION BY
        |      sha256(trim(regexp_replace(regexp_replace(lower(text), '[.,;:!?"]', '', 'g'),
        |                                 '\s+', ' ', 'g')))
        |      ORDER BY doc_id) AS rn
        |  FROM documents) t WHERE rn = 1""".stripMargin) { (s, d) =>
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[.,;:!?\"]", ""), "\\s+", " "))
      // same skew-safe shape as d1: min-per-hash agg, no duplicate-group
      // window (normalization makes the mega-group MORE likely — it
      // exists to collapse near-identical boilerplate)
      Tables.documents(s, d)
        .select(col("doc_id"), sha2(norm, 256).as("norm_hash"))
        .groupBy(col("norm_hash")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"), col("norm_hash"))
    },

    // ---- MinHash+LSH near-dup pairs -------------------------------------
    // FULL oracle: DuckDB replays the entire LSH pipeline — identical
    // seeded hash60 signatures over identical string grams, identical
    // band-tuple buckets, the same ≤50 bucket cap, exact Jaccard on the
    // survivors — so the probabilistic candidate set is compared
    // bucket-for-bucket, not approximately. (The gram-hash Jaccard on the
    // Spark side equals string-set Jaccard barring 64-bit collisions —
    // the d5 precedent.)
    sql("d3_minhash_pairs",
      s"""WITH $minhashOracleCtes
         |SELECT doc_id_a, doc_id_b, jaccard FROM pairs""".stripMargin) { (s, d) =>
      minhashPairs(Tables.documents(s, d))
    },

    // ---- near-dup CLUSTERS: connected components over the pair graph -----
    // The step that turns a pair list into keep/drop decisions: components
    // by min-label propagation with pointer jumping (O(log diameter)
    // rounds, durable parquet spills — see [[dedupClusters]]). Oracle:
    // DuckDB recursive-CTE transitive closure over the SAME replayed LSH
    // pairs.
    sql("d8_dedup_clusters",
      s"""WITH RECURSIVE $minhashOracleCtes,
         |edges AS (
         |  SELECT doc_id_a AS a, doc_id_b AS b FROM pairs
         |  UNION ALL SELECT doc_id_b, doc_id_a FROM pairs
         |), reach AS (
         |  SELECT DISTINCT a AS node, a AS r FROM edges
         |  UNION
         |  SELECT e.a AS node, r.r FROM edges e JOIN reach r ON r.node = e.b
         |), comp AS (
         |  SELECT node AS doc_id, min(r) AS comp_id FROM reach GROUP BY node
         |)
         |SELECT c.doc_id, CAST(c.comp_id AS BIGINT) AS comp_id,
         |  CAST(n.sz AS BIGINT) AS cluster_size,
         |  c.doc_id = c.comp_id AS is_keeper
         |FROM comp c
         |JOIN (SELECT comp_id, count(*) AS sz FROM comp GROUP BY comp_id) n
         |  USING (comp_id)""".stripMargin) { (s, d) =>
      dedupClusters(minhashPairs(Tables.documents(s, d)))
    },

    // ---- cluster representative by QUALITY, not position -----------------
    // The step production dedup actually runs after d8: inside each
    // near-dup cluster keep the highest-quality member (most stopword
    // hits — the t3 fluency proxy — then longest, then lowest doc_id),
    // not the arbitrary min-label keeper. All three rank keys are
    // INTEGERS, so the cross-engine ordering is exact with no float
    // boundary. Scale shape: clusters and quality are both keyed on
    // comp_id/doc_id (corpus-derived — keyed joins + a per-cluster
    // window whose key cardinality GROWS with the corpus, so no
    // single-task partition); quality is computed scan-side off the
    // raw doc row. Oracle: the SAME replayed LSH pairs + recursive-CTE
    // closure as d8, ranked by the identical integer triple.
    sql("d25_cluster_keep_best", {
      val swList = graft.llm.TextStats.enStopwords.map(w => s"'$w'").mkString("[", ",", "]")
      s"""WITH RECURSIVE $minhashOracleCtes,
         |edges AS (
         |  SELECT doc_id_a AS a, doc_id_b AS b FROM pairs
         |  UNION ALL SELECT doc_id_b, doc_id_a FROM pairs
         |), reach AS (
         |  SELECT DISTINCT a AS node, a AS r FROM edges
         |  UNION
         |  SELECT e.a AS node, r.r FROM edges e JOIN reach r ON r.node = e.b
         |), comp AS (
         |  SELECT node AS doc_id, min(r) AS comp_id FROM reach GROUP BY node
         |), qual AS (
         |  SELECT doc_id, n_chars,
         |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
         |         x -> list_contains($swList, x))) AS BIGINT) AS n_stopwords
         |  FROM documents
         |), sized AS (
         |  SELECT comp_id, count(*) AS sz FROM comp GROUP BY comp_id
         |)
         |SELECT c.doc_id, CAST(c.comp_id AS BIGINT) AS comp_id,
         |  CAST(n.sz AS BIGINT) AS cluster_size, q.n_stopwords,
         |  (ROW_NUMBER() OVER (PARTITION BY c.comp_id
         |     ORDER BY q.n_stopwords DESC, q.n_chars DESC, c.doc_id) = 1) AS kept
         |FROM comp c
         |JOIN sized n USING (comp_id)
         |JOIN qual q ON q.doc_id = c.doc_id""".stripMargin
    }) { (s, d) =>
      clusterKeepBest(Tables.documents(s, d))
    },

    // ---- leakage-safe train/val/test split (cluster-atomic) --------------
    // q76's content-hash split is stable under re-ingest, but it assigns
    // PER DOC — two near-duplicates hash to independent buckets, so a
    // training doc's near-copy lands in the eval split ~34% of the time
    // per dup pair (the canonical train/test contamination vector that
    // decontamination sweeps then have to mop up). Here the d8 closure's
    // components are assigned ATOMICALLY: every member takes the split
    // of its cluster REPRESENTATIVE's content hash (min-label doc —
    // content-derived, so still re-ingest-stable), and singletons reduce
    // exactly to q76. By construction no LSH near-dup pair can ever
    // cross a split boundary. Scale shape: capped LSH pairs → closure
    // (both d8 machinery), then one keyed join of the doc spine against
    // the representatives' hash projection — comp_id cardinality grows
    // with the corpus, nothing corpus-derived broadcasts.
    sql("d27_leakage_safe_split", {
      s"""WITH RECURSIVE $minhashOracleCtes,
         |edges AS (
         |  SELECT doc_id_a AS a, doc_id_b AS b FROM pairs
         |  UNION ALL SELECT doc_id_b, doc_id_a FROM pairs
         |), reach AS (
         |  SELECT DISTINCT a AS node, a AS r FROM edges
         |  UNION
         |  SELECT e.a AS node, r.r FROM edges e JOIN reach r ON r.node = e.b
         |), comp AS (
         |  SELECT node AS doc_id, min(r) AS comp_id FROM reach GROUP BY node
         |), allc AS (
         |  SELECT d.doc_id, coalesce(c.comp_id, d.doc_id) AS comp_id
         |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
         |), rep AS (
         |  SELECT a.doc_id, CAST(a.comp_id AS BIGINT) AS comp_id,
         |    CAST(CAST(concat('0x', substr(sha256(t.text), 1, 8)) AS UBIGINT) % 100
         |      AS BIGINT) AS bucket
         |  FROM allc a JOIN documents t ON t.doc_id = a.comp_id
         |)
         |SELECT doc_id, comp_id, bucket,
         |  CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM rep""".stripMargin
    }) { (s, d) =>
      leakageSafeSplit(Tables.documents(s, d))
    },

    // ---- SimHash near-dup pairs -----------------------------------------
    // FULL oracle: hamming ≤ 3 banding is lossless (see [[simhashPairs]]),
    // so the all-pairs DuckDB scan over identical hash60 token signatures
    // is EXACTLY the bucketed plan's output.
    sql("d4_simhash_pairs", {
      val parse15 = "CAST(list_sum([CAST(strpos('0123456789abcdef', substr(hx, j+1, 1)) - 1 AS BIGINT) << (4*(14-j)) FOR j IN range(15)]) AS BIGINT)"
      val os = (0 until 60).map(i => s"CAST(sum((h >> $i) & 1) AS BIGINT) AS o$i").mkString(", ")
      val sh = (0 until 60)
        .map(i => s"(CASE WHEN 2*o$i > n THEN CAST(1 AS BIGINT) << $i ELSE 0 END)")
        .mkString(" + ")
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t FROM documents
         |), th AS (
         |  SELECT doc_id, $parse15 AS h
         |  FROM (SELECT doc_id, substr(sha256(t), 1, 15) AS hx FROM tok)
         |), bits AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n, $os FROM th GROUP BY doc_id
         |), sig AS (
         |  SELECT doc_id, $sh AS sh FROM bits
         |)
         |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         |  CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
         |FROM sig a JOIN sig b ON b.doc_id > a.doc_id
         |WHERE bit_count(xor(a.sh, b.sh)) <= 3""".stripMargin
    }) { (s, d) =>
      simhashPairs(Tables.documents(s, d))
    },

    // ---- embedding-cosine near-dup pairs (blocked exact) -----------------
    // The semantic-dedup mode: pairs whose EMBEDDINGS are close, blocked
    // by label so the quadratic is bounded per block (the d5 pattern; the
    // unblocked 100 TB path is the LSH/IVF candidate generation of
    // s2/s4 + this exact verify). Native codegen'd cosine; sims rounded
    // to 6dp before the threshold on BOTH engines (summation-order ulp).
    sql("d7_embedding_neardup",
      """WITH elems AS (
        |  SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x,
        |         unnest(range(len(embedding))) AS i
        |  FROM embeddings
        |), norms AS (
        |  SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM elems GROUP BY vec_id
        |), dots AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb, a.label AS label, sum(a.x * b.x) AS dot
        |  FROM elems a JOIN elems b ON a.i = b.i AND a.label = b.label AND b.vec_id > a.vec_id
        |  GROUP BY 1, 2, 3
        |)
        |SELECT va AS vec_id_a, vb AS vec_id_b, CAST(label AS BIGINT) AS label, sim FROM (
        |  SELECT d.va, d.vb, d.label, round(d.dot / (na.nrm * nb.nrm), 6) AS sim
        |  FROM dots d JOIN norms na ON na.vec_id = d.va JOIN norms nb ON nb.vec_id = d.vb)
        |WHERE sim >= 0.4""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val a = e.select(col("vec_id").as("vec_id_a"), col("label"), col("embedding").as("ea"))
      val b = e.select(col("vec_id").as("vec_id_b"), col("label"), col("embedding").as("eb"))
      a.join(b, Seq("label"))
        .filter(col("vec_id_b") > col("vec_id_a"))
        .select(col("vec_id_a"), col("vec_id_b"), col("label").cast("long").as("label"),
          round(graft.llm.Similarity.cosine(col("ea"), col("eb")), 6).as("sim"))
        .filter(col("sim") >= 0.4)
    },

    // ---- END-TO-END corpus clean: the composed LLM-dedup pipeline --------
    // What a training-data run actually executes, as ONE operator: exact
    // dedup (first-wins per content hash) → near-dup cluster losers
    // (MinHash-LSH + components) → quality cut (non-alpha ratio), with
    // that precedence. Every doc gets a keep/drop verdict and the reason.
    // The oracle composes the same three stages (the LSH replay + a
    // recursive-CTE closure + window/scalar SQL) — a full end-to-end
    // hash-match of the pipeline, not just its parts.
    sql("t10_corpus_clean",
      s"""WITH RECURSIVE $minhashOracleCtes,
         |edges AS (
         |  SELECT doc_id_a AS a, doc_id_b AS b FROM pairs
         |  UNION ALL SELECT doc_id_b, doc_id_a FROM pairs
         |), reach AS (
         |  SELECT DISTINCT a AS node, a AS r FROM edges
         |  UNION
         |  SELECT e.a AS node, r.r FROM edges e JOIN reach r ON r.node = e.b
         |), near_losers AS (
         |  SELECT node AS doc_id FROM reach GROUP BY node HAVING node <> min(r)
         |), exact_dups AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
         |    FROM documents) t WHERE rn > 1
         |), q AS (
         |  SELECT doc_id, (length(text) - length(regexp_replace(text, '[^A-Za-z]', '', 'g')))
         |    * 1.0 / greatest(length(text), 1) AS na
         |  FROM documents
         |)
         |SELECT doc_id, reason, reason = 'kept' AS kept FROM (
         |  SELECT d.doc_id,
         |    CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
         |         WHEN n.doc_id IS NOT NULL THEN 'near_dup'
         |         WHEN q.na > 0.19 THEN 'low_quality'
         |         ELSE 'kept' END AS reason
         |  FROM documents d
         |  LEFT JOIN exact_dups e ON e.doc_id = d.doc_id
         |  LEFT JOIN near_losers n ON n.doc_id = d.doc_id
         |  JOIN q ON q.doc_id = d.doc_id) v""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val exactDups =
        exactDupLosers(docs.select(col("doc_id"), contentHash(col("text")).as("__h")))
      val nearLosers = dedupClusters(minhashPairs(docs))
        .filter(!col("is_keeper"))
        .select(col("doc_id"), lit(true).as("__near"))
      val quality = docs.select(col("doc_id"), nonAlphaRatio(col("text")).as("__na"))
      docs.select(col("doc_id"))
        .join(exactDups, Seq("doc_id"), "left")
        .join(nearLosers, Seq("doc_id"), "left")
        .join(quality, Seq("doc_id"))
        .select(col("doc_id"),
          when(col("__exact").isNotNull, "exact_dup")
            .when(col("__near").isNotNull, "near_dup")
            .when(col("__na") > 0.19, "low_quality")
            .otherwise("kept").as("reason"))
        .withColumn("kept", col("reason") === "kept")
    },

    // ---- FULL corpus clean: all five drop stages composed ----------------
    // t10 extended with the round-4 stages — the complete modern
    // training-data pipeline as ONE hash-matched query: exact dedup →
    // near-dup cluster losers → benchmark decontamination → boilerplate
    // cut → quality cut, with that precedence, one verdict per doc. The
    // oracle composes the LSH replay, the recursive-CTE closure, the
    // 13-gram bench overlap, the hot-8-gram coverage, and the quality
    // scalar end-to-end. The Spark side materializes the shared
    // tokenization ONCE ([[corpusCleanFull]]): one raw-corpus scan writes
    // a (doc_id, hash, quality, tokens) artifact and all five stages fan
    // out from it — at 100 TB that's one decode of the corpus, not five.
    sql("t15_corpus_clean_full",
      s"""WITH RECURSIVE $minhashOracleCtes,
         |edges AS (
         |  SELECT doc_id_a AS a, doc_id_b AS b FROM pairs
         |  UNION ALL SELECT doc_id_b, doc_id_a FROM pairs
         |), reach AS (
         |  SELECT DISTINCT a AS node, a AS r FROM edges
         |  UNION
         |  SELECT e.a AS node, r.r FROM edges e JOIN reach r ON r.node = e.b
         |), near_losers AS (
         |  SELECT node AS doc_id FROM reach GROUP BY node HAVING node <> min(r)
         |), exact_dups AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
         |    FROM documents) t WHERE rn > 1
         |), cg AS (
         |  SELECT DISTINCT doc_id, unnest([array_to_string(ts[i:i+12], ' ')
         |    FOR i IN range(1, greatest(len(ts) - 12, 1) + 1)]) AS g
         |  FROM toks
         |), bench AS (
         |  SELECT DISTINCT g FROM cg WHERE doc_id % 10 = 0
         |), cont AS (
         |  SELECT DISTINCT doc_id FROM cg
         |  WHERE doc_id % 10 <> 0 AND g IN (SELECT g FROM bench)
         |), bg AS (
         |  SELECT DISTINCT doc_id, unnest([array_to_string(ts[i:i+7], ' ')
         |    FOR i IN range(1, greatest(len(ts) - 7, 1) + 1)]) AS g
         |  FROM toks
         |), hot AS (
         |  SELECT g FROM bg GROUP BY g HAVING count(*) >= 2
         |), bp AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |      CAST(sum(CASE WHEN g IN (SELECT g FROM hot) THEN 1 ELSE 0 END) AS BIGINT) AS n_hot
         |    FROM bg GROUP BY doc_id) t
         |  WHERE n_hot * 2 >= n_grams
         |), q AS (
         |  SELECT doc_id, (length(text) - length(regexp_replace(text, '[^A-Za-z]', '', 'g')))
         |    * 1.0 / greatest(length(text), 1) AS na
         |  FROM documents
         |)
         |SELECT doc_id, reason, reason = 'kept' AS kept FROM (
         |  SELECT d.doc_id,
         |    CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
         |         WHEN n.doc_id IS NOT NULL THEN 'near_dup'
         |         WHEN c.doc_id IS NOT NULL THEN 'contaminated'
         |         WHEN b.doc_id IS NOT NULL THEN 'boilerplate'
         |         WHEN q.na > 0.19 THEN 'low_quality'
         |         ELSE 'kept' END AS reason
         |  FROM documents d
         |  LEFT JOIN exact_dups e ON e.doc_id = d.doc_id
         |  LEFT JOIN near_losers n ON n.doc_id = d.doc_id
         |  LEFT JOIN cont c ON c.doc_id = d.doc_id
         |  LEFT JOIN bp b ON b.doc_id = d.doc_id
         |  JOIN q ON q.doc_id = d.doc_id) v""".stripMargin) { (s, d) =>
      corpusCleanFull(Tables.documents(s, d))
    },

    // ---- hot-n-gram boilerplate coverage (the line-dedup analogue) -------
    // The C4/RefinedWeb repeated-span trick: word 8-grams occurring in
    // ≥ 2 distinct docs are boilerplate; each doc reports its coverage
    // and a drop flag at ≥ 50%. Scale shape: the corpus shuffles 8-byte
    // xxhash64 gram keys (never gram strings — count equality vs the
    // string oracle is the d5 precedent); hot-set membership is a
    // semi-join on the same key; the ≥50% flag is integer arithmetic
    // (n_hot*2 >= n_grams), no float boundary.
    sql("d9_hot_ngram_boilerplate",
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts FROM documents
        |), g AS (
        |  SELECT DISTINCT doc_id, unnest([array_to_string(ts[i:i+7], ' ')
        |    FOR i IN range(1, greatest(len(ts) - 7, 1) + 1)]) AS g
        |  FROM toks
        |), hot AS (
        |  SELECT g FROM g GROUP BY g HAVING count(*) >= 2
        |), pd AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(sum(CASE WHEN g IN (SELECT g FROM hot) THEN 1 ELSE 0 END) AS BIGINT) AS n_hot
        |  FROM g GROUP BY doc_id
        |)
        |SELECT doc_id, n_grams, n_hot,
        |  round(n_hot * 1.0 / n_grams, 6) AS boilerplate_ratio,
        |  n_hot * 2 >= n_grams AS is_boilerplate
        |FROM pd""".stripMargin) { (s, d) =>
      hotNgramCoverage(Tables.documents(s, d))
    },

    // ---- benchmark decontamination: 13-gram overlap vs the eval set ------
    // The GPT-3-style contamination sweep: a training doc sharing any
    // word 13-gram with the benchmark suite is flagged (here the "suite"
    // is the deterministic doc_id % 10 == 0 subset; in production it's an
    // external KB-scale eval set). Scale shape: the bench gram-hash set
    // BROADCASTS (eval suites are tiny), so the 100 TB training side
    // streams scan-side through a broadcast semi-join — its only shuffle
    // is the per-doc count. The hint is now a caller-owned knob
    // (`broadcastBench`): it is asserted true here ONLY because this
    // demo's carved-out set is KB-scale at test SFs — a caller whose
    // bench set is corpus-derived/unbounded must pass false and take the
    // keyed shuffle semi-join instead.
    sql("d10_decontaminate",
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts FROM documents
        |), g AS (
        |  SELECT DISTINCT doc_id, unnest([array_to_string(ts[i:i+12], ' ')
        |    FOR i IN range(1, greatest(len(ts) - 12, 1) + 1)]) AS g
        |  FROM toks
        |), bench AS (
        |  SELECT DISTINCT g FROM g WHERE doc_id % 10 = 0
        |), hits AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contaminated
        |  FROM g WHERE doc_id % 10 <> 0 AND g IN (SELECT g FROM bench)
        |  GROUP BY doc_id
        |)
        |SELECT d.doc_id, coalesce(h.n_contaminated, 0) AS n_contaminated,
        |  h.doc_id IS NOT NULL AS is_contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0) d
        |LEFT JOIN hits h ON h.doc_id = d.doc_id""".stripMargin) { (s, d) =>
      decontaminate(Tables.documents(s, d), broadcastBench = true)
    },

    // ---- graded contamination score: n-gram overlap FRACTION -------------
    // d10's boolean flag is the drop rule; eval-overlap REPORTS (Gopher
    // app. C, GPT-3 app. C) need the graded form — what fraction of a
    // doc's distinct 4-grams appear in the eval set, bucketed by
    // severity. Shorter grams than d10's 13 on purpose: the report wants
    // partial-overlap signal, not just verbatim leakage. Thresholds
    // compare CROSS-MULTIPLIED INTEGERS (n_hit·10 ≥ n_grams·5 ⇔ ≥50%),
    // never a float ratio, so both engines bucket identically. Unlike
    // d10's external-eval-set broadcast contract, this registry entry
    // carves the bench set FROM THE CORPUS, so it takes the keyed
    // shuffle join (`broadcastBench = false`) — corpus-derived frames
    // never broadcast (PartitioningSpec pins no-BHJ).
    sql("d24_contamination_score", {
      val w = ContamN - 1
      s"""WITH toks AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts FROM documents
         |), g AS (
         |  SELECT DISTINCT doc_id, unnest([array_to_string(ts[i:i+$w], ' ')
         |    FOR i IN range(1, greatest(len(ts) - $w, 1) + 1)]) AS g
         |  FROM toks
         |), bench AS (
         |  SELECT DISTINCT g FROM g WHERE doc_id % 10 = 0
         |), per AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |    CAST(sum(CASE WHEN g IN (SELECT g FROM bench) THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
         |  FROM g WHERE doc_id % 10 <> 0 GROUP BY doc_id
         |)
         |SELECT doc_id, n_grams, n_hit,
         |  round(n_hit / CAST(n_grams AS DOUBLE), 6) AS overlap_frac,
         |  CASE WHEN n_hit * 10 >= n_grams * 5 THEN 'high'
         |       WHEN n_hit * 100 >= n_grams * 5 THEN 'medium'
         |       WHEN n_hit > 0 THEN 'low' ELSE 'clean' END AS bucket
         |FROM per""".stripMargin
    }) { (s, d) =>
      contaminationScore(Tables.documents(s, d), broadcastBench = false)
    },

    // ---- span-level (substring) duplicate coverage -----------------------
    // Suffix-array-style dedup (Lee et al. 2021) as positional 13-grams:
    // a position whose gram repeats corpus-wide is duplicated; runs of
    // overlapping duplicated gram intervals merge into spans (equal-width
    // intervals ⇒ ends monotone ⇒ one lag(end) window pass). Hot-set
    // membership is a keyed shuffle semi-join on the 8-byte gram hash —
    // corpus-derived, never broadcast.
    sql("d11_duplicate_spans",
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts FROM documents
        |), pos AS (
        |  SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens, i,
        |    array_to_string(ts[i:i+12], ' ') AS g
        |  FROM (SELECT doc_id, ts,
        |          unnest(range(1, greatest(len(ts) - 12, 1) + 1)) AS i
        |        FROM toks) t
        |), hot AS (
        |  SELECT g FROM pos GROUP BY g HAVING count(*) >= 2
        |), dup AS (
        |  SELECT doc_id, n_tokens, i, least(i + 12, n_tokens) AS e
        |  FROM pos WHERE g IN (SELECT g FROM hot)
        |), isl AS (
        |  SELECT doc_id, i, e,
        |    CASE WHEN lag(e) OVER (PARTITION BY doc_id ORDER BY i) IS NULL
        |           OR i > lag(e) OVER (PARTITION BY doc_id ORDER BY i) + 1
        |         THEN 1 ELSE 0 END AS brk
        |  FROM dup
        |), grps AS (
        |  SELECT doc_id, i, e,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS grp
        |  FROM isl
        |), spans AS (
        |  SELECT doc_id, grp, max(e) - min(i) + 1 AS covered
        |  FROM grps GROUP BY doc_id, grp
        |), agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |    CAST(sum(covered) AS BIGINT) AS dup_tokens
        |  FROM spans GROUP BY doc_id
        |)
        |SELECT t.doc_id, CAST(len(t.ts) AS BIGINT) AS n_tokens,
        |  coalesce(a.n_spans, 0) AS n_spans,
        |  coalesce(a.dup_tokens, 0) AS dup_tokens,
        |  round(coalesce(a.dup_tokens, 0) * 1.0 / greatest(len(t.ts), 1), 6) AS dup_fraction,
        |  coalesce(a.dup_tokens, 0) > 0 AS has_dup
        |FROM toks t LEFT JOIN agg a ON a.doc_id = t.doc_id""".stripMargin) { (s, d) =>
      duplicateSpans(Tables.documents(s, d))
    },

    // ---- duplicated-span REMOVAL (the excision d11 only reports) ---------
    // The actual Lee-et-al cut: drop every token position covered by a
    // corpus-hot 13-gram interval, re-assemble the survivors, publish
    // the cleaned text's sha256 (the downstream exact-dedup key) +
    // kept/removed counts. Shares d11's hot-gram machinery; the oracle
    // extends d11's chain with the position union and an ordered
    // re-assembly, and hash-matching the cleaned hashes proves BOTH
    // engines excised identical token sets in identical order.
    sql("d28_span_removal",
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts FROM documents
        |), pos AS (
        |  SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens, i,
        |    array_to_string(ts[i:i+12], ' ') AS g
        |  FROM (SELECT doc_id, ts,
        |          unnest(range(1, greatest(len(ts) - 12, 1) + 1)) AS i
        |        FROM toks) t
        |), hot AS (
        |  SELECT g FROM pos GROUP BY g HAVING count(*) >= 2
        |), dup AS (
        |  SELECT doc_id, n_tokens, i, least(i + 12, n_tokens) AS e
        |  FROM pos WHERE g IN (SELECT g FROM hot)
        |), cov AS (
        |  SELECT DISTINCT doc_id, unnest(range(i, e + 1)) AS p FROM dup
        |), pt AS (
        |  SELECT doc_id, unnest(ts) AS t,
        |    unnest(range(1, len(ts) + 1)) AS p
        |  FROM toks
        |), keptagg AS (
        |  SELECT pt.doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    sha256(array_to_string(list(pt.t ORDER BY pt.p), ' ')) AS cleaned_hash
        |  FROM pt LEFT JOIN cov ON cov.doc_id = pt.doc_id AND cov.p = pt.p
        |  WHERE cov.p IS NULL
        |  GROUP BY pt.doc_id
        |)
        |SELECT t.doc_id, CAST(len(t.ts) AS BIGINT) AS n_tokens,
        |  coalesce(k.n_kept, 0) AS n_kept,
        |  CAST(len(t.ts) AS BIGINT) - coalesce(k.n_kept, 0) AS n_removed,
        |  coalesce(k.cleaned_hash, sha256('')) AS cleaned_hash
        |FROM toks t LEFT JOIN keptagg k ON k.doc_id = t.doc_id""".stripMargin) { (s, d) =>
      removeDuplicateSpans(Tables.documents(s, d))
    },

    // ---- cross-snapshot incremental dedup ---------------------------------
    // The continuous-crawl tick: the new batch (doc_id % 4 = 3 here; a
    // fresh crawl in production) deduped against the cleaned snapshot
    // (the rest), asymmetric — exact hash first, then capped LSH bucket
    // candidates verified at exact Jaccard >= 0.5. The oracle shares the
    // d3 signature CTE chain and splits sides by the same predicate.
    sql("d12_snapshot_dedup",
      s"""WITH $minhashSigCtes, cappedN AS (
         |  SELECT doc_id, band, bk FROM (
         |    SELECT doc_id, band, bk, count(*) OVER (PARTITION BY band, bk) AS nb
         |    FROM banded WHERE doc_id % 4 = 3) t WHERE nb <= 50
         |), cappedS AS (
         |  SELECT doc_id, band, bk FROM (
         |    SELECT doc_id, band, bk, count(*) OVER (PARTITION BY band, bk) AS nb
         |    FROM banded WHERE doc_id % 4 <> 3) t WHERE nb <= 50
         |), exact AS (
         |  SELECT doc_id FROM (SELECT doc_id, sha256(text) AS h FROM documents
         |                      WHERE doc_id % 4 = 3) n
         |  WHERE h IN (SELECT DISTINCT sha256(text) FROM documents WHERE doc_id % 4 <> 3)
         |), cand AS (
         |  SELECT DISTINCT n.doc_id AS nd, s.doc_id AS sd
         |  FROM cappedN n JOIN cappedS s ON n.band = s.band AND n.bk = s.bk
         |), near AS (
         |  SELECT DISTINCT nd AS doc_id FROM (
         |    SELECT c.nd,
         |      CAST(len(list_intersect(ga.gs, gb.gs)) AS DOUBLE)
         |        / len(list_distinct(ga.gs || gb.gs)) AS j
         |    FROM cand c
         |    JOIN gsets ga ON ga.doc_id = c.nd
         |    JOIN gsets gb ON gb.doc_id = c.sd) t
         |  WHERE j >= 0.5
         |)
         |SELECT n.doc_id,
         |  CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
         |       WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
         |       ELSE 'kept' END AS verdict,
         |  e.doc_id IS NULL AND nr.doc_id IS NULL AS is_new_content
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 3) n
         |LEFT JOIN exact e ON e.doc_id = n.doc_id
         |LEFT JOIN near nr ON nr.doc_id = n.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      dedupAgainstSnapshot(
        docs.filter(col("doc_id") % 4 === 3),
        docs.filter(col("doc_id") % 4 =!= 3))
    },

    // ---- LSH tuning diagnostics: estimated vs exact Jaccard per pair -----
    // The report you read before changing MinhashK/bands/rows: every
    // surviving candidate pair with (a) how many bands collided, (b) the
    // signature ESTIMATE of Jaccard (matching-component fraction — the
    // unbiased minhash estimator), (c) the exact shingle-set Jaccard,
    // and (d) the false-positive flag (candidate below the 0.5 target
    // the 16×2 S-curve is tuned for). NO Jaccard filter — the FPs are
    // the point. Same capped bucket join as d3, so the candidate set is
    // identical to production's; one extra keyed join against the
    // signature table covers the estimator.
    // ---- cross-source duplication matrix (r10) ---------------------------
    // WHERE the duplication lives: for every source pair (diagonal
    // included), how many of the d3 near-dup pairs connect them — the
    // mixture-design companion of t12/t29 (a source that is largely
    // another source's content should be down-weighted or dropped
    // BEFORE t32 computes mixing weights; on this corpus 24 of 25 pairs
    // are cross-source — invisible to any per-source statistic).
    // Scale shape: the capped pair set (already bounded by the d3
    // bucket discipline) joins the doc→source projection twice, keyed
    // on doc id; the output is ≤ |sources|² rows.
    sql("d29_cross_source_dups",
      s"""WITH $minhashOracleCtes, ds AS (
         |  SELECT doc_id, source FROM documents
         |)
         |SELECT least(a.source, b.source) AS source_a,
         |  greatest(a.source, b.source) AS source_b,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  round(avg(p.jaccard), 6) AS avg_jaccard
         |FROM pairs p JOIN ds a ON a.doc_id = p.doc_id_a
         |             JOIN ds b ON b.doc_id = p.doc_id_b
         |GROUP BY 1, 2""".stripMargin) { (s, d) =>
      val ds = Tables.documents(s, d).select(col("doc_id"), col("source"))
      minhashPairs(Tables.documents(s, d))
        .join(ds.select(col("doc_id").as("doc_id_a"), col("source").as("sa")),
          Seq("doc_id_a"))
        .join(ds.select(col("doc_id").as("doc_id_b"), col("source").as("sb")),
          Seq("doc_id_b"))
        .select(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"), col("jaccard"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_pairs"),
          round(avg(col("jaccard")), 6).as("avg_jaccard"))
    },

    // ---- duplicate-rate-vs-threshold curve (r10) -------------------------
    // The threshold-tuning table a dedup deployment reads before
    // committing a Jaccard cutoff: at each τ, how many of the capped
    // candidate pairs survive and how much of the corpus is implicated.
    // The τ grid sits in the regime this corpus's near-dups occupy
    // (d3 pairs span 0.90–0.99) so the curve actually moves. FULL
    // oracle over the shared d3 CTE chain; pair counts and
    // implicated-doc counts are exact integers, the fraction is one
    // division. τ comparisons are double-literal vs the same
    // intersection/union division both engines compute — identical
    // IEEE results, no boundary ambiguity.
    sql("d30_dup_rate_curve", {
      s"""WITH $minhashOracleCtes, taus(tau) AS (
         |  VALUES (0.5), (0.9), (0.95), (0.97), (0.99)
         |), m AS (
         |  SELECT t.tau, p.doc_id_a, p.doc_id_b
         |  FROM pairs p JOIN taus t ON p.jaccard >= t.tau
         |), u AS (
         |  SELECT tau, doc_id_a AS d FROM m
         |  UNION
         |  SELECT tau, doc_id_b AS d FROM m
         |), total AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
         |SELECT CAST(t.tau AS DOUBLE) AS tau, coalesce(p.n_pairs, 0) AS n_pairs,
         |  coalesce(u2.n_dup_docs, 0) AS n_dup_docs,
         |  round(CAST(coalesce(u2.n_dup_docs, 0) AS DOUBLE) / total.n, 6)
         |    AS dup_frac
         |FROM taus t
         |LEFT JOIN (SELECT tau, CAST(count(*) AS BIGINT) AS n_pairs
         |           FROM m GROUP BY tau) p ON p.tau = t.tau
         |LEFT JOIN (SELECT tau, CAST(count(*) AS BIGINT) AS n_dup_docs
         |           FROM u GROUP BY tau) u2 ON u2.tau = t.tau
         |CROSS JOIN total""".stripMargin
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      val nDocs = docs.count()
      val pairs = minhashPairs(docs)
      val m = pairs.select(col("doc_id_a"), col("doc_id_b"), col("jaccard"),
          explode(typedLit(Seq(0.5, 0.9, 0.95, 0.97, 0.99))).as("tau"))
        .filter(col("jaccard") >= col("tau"))
      val np = m.groupBy(col("tau")).agg(count(lit(1)).as("n_pairs"))
      val nd = m.select(col("tau"), col("doc_id_a").as("d"))
        .union(m.select(col("tau"), col("doc_id_b").as("d"))).distinct()
        .groupBy(col("tau")).agg(count(lit(1)).as("n_dup_docs"))
      val spark2 = s
      import spark2.implicits._
      Seq(0.5, 0.9, 0.95, 0.97, 0.99).toDF("tau")
        .join(np, Seq("tau"), "left")
        .join(nd, Seq("tau"), "left")
        .select(col("tau"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"),
          round(coalesce(col("n_dup_docs"), lit(0L)).cast("double") / lit(nDocs), 6)
            .as("dup_frac"))
    },

    // ---- dedup-corrected mixture weights (d29's ACTION, r11) -------------
    // d29 showed this corpus's near-dup pairs are overwhelmingly
    // cross-source — a source that is largely another's content inflates
    // its raw token mass and with it its t32 sampling weight. This is
    // the re-weighting step that observation demands: per-source token
    // counts recomputed over the DEDUPED corpus (each d8 near-dup
    // cluster contributes only its min-label keeper's tokens — the
    // cluster-mass rule d17 states, here in the integer-exact keep-best
    // form so the oracle never divides), then the t32 √-tempered
    // weight/fraction/epochs on the corrected counts, with the raw
    // counts and survival fraction alongside so the shift is readable.
    // Scale shape: the d8 machinery (capped LSH pairs → closure) plus
    // ONE keyed join of the token projection against the keeper flags
    // and a |sources|-row aggregation; the Σ√n denominator folds in
    // lexicographic source order on both engines (the t21/t32 rule).
    sql("t34_dedup_corrected_mixture",
      s"""WITH RECURSIVE $minhashOracleCtes,
         |edges AS (
         |  SELECT doc_id_a AS a, doc_id_b AS b FROM pairs
         |  UNION ALL SELECT doc_id_b, doc_id_a FROM pairs
         |), reach AS (
         |  SELECT DISTINCT a AS node, a AS r FROM edges
         |  UNION
         |  SELECT e.a AS node, r.r FROM edges e JOIN reach r ON r.node = e.b
         |), comp AS (
         |  SELECT node AS doc_id, min(r) AS comp_id FROM reach GROUP BY node
         |), keep AS (
         |  SELECT d.source,
         |    CASE WHEN length(trim(d.text)) = 0 THEN 0
         |         ELSE len(regexp_split_to_array(trim(d.text), '\\s+')) END AS nt,
         |    (c.doc_id IS NULL OR c.comp_id = d.doc_id) AS kept
         |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
         |), s AS (
         |  SELECT source, CAST(sum(nt) AS BIGINT) AS n_tok_raw,
         |    CAST(sum(CASE WHEN kept THEN nt ELSE 0 END) AS BIGINT) AS n_tok_dedup
         |  FROM keep GROUP BY source
         |), t AS (
         |  SELECT CAST(sum(n_tok_dedup) AS BIGINT) AS tot,
         |    list_sum(list(sqrt(CAST(n_tok_dedup AS DOUBLE)) ORDER BY source))
         |      AS wsum
         |  FROM s
         |)
         |SELECT source, n_tok_raw, n_tok_dedup,
         |  round(CAST(n_tok_dedup AS DOUBLE) / n_tok_raw, 6) AS dedup_frac,
         |  round(CAST(n_tok_dedup AS DOUBLE) / t.tot, 6) AS nat_frac,
         |  round(CASE WHEN n_tok_dedup > 0
         |    THEN sqrt(CAST(n_tok_dedup AS DOUBLE)) / t.wsum ELSE 0 END, 6)
         |    AS weight,
         |  round(CASE WHEN n_tok_dedup > 0
         |    THEN sqrt(CAST(n_tok_dedup AS DOUBLE)) / t.wsum * t.tot / n_tok_dedup
         |    ELSE 0 END, 6) AS epochs
         |FROM s, t""".stripMargin) { (s, d) =>
      dedupCorrectedMixture(Tables.documents(s, d))
    },

    // ---- t34 re-metered in LEARNED-BPE tokens (r15 — closes the r14
    // verdict's #1 for the dedup-corrected recipe): the d8 keeper logic
    // is unchanged; every token mass — raw, deduped, the Σ√n
    // denominator, and through them weight/epochs — is re-priced by the
    // t37-trained table. The oracle replays LSH → closure AND
    // train → apply in one chain, so a drift in EITHER pipeline
    // mismatches the hash.
    sql("t43_dedup_mixture_bpe",
      s"""WITH RECURSIVE $minhashOracleCtes,
         |edges AS (
         |  SELECT doc_id_a AS a, doc_id_b AS b FROM pairs
         |  UNION ALL SELECT doc_id_b, doc_id_a FROM pairs
         |), reach AS (
         |  SELECT DISTINCT a AS node, a AS r FROM edges
         |  UNION
         |  SELECT e.a AS node, r.r FROM edges e JOIN reach r ON r.node = e.b
         |), comp AS (
         |  SELECT node AS doc_id, min(r) AS comp_id FROM reach GROUP BY node
         |),
         |${graft.llm.TextStats.bpeTrainCtes(
            graft.llm.TextStats.BpeTrainTopV, graft.llm.TextStats.BpeTrainRounds)},
         |${graft.llm.TextStats.bpeApplyCtes(graft.llm.TextStats.BpeTrainRounds)},
         |${graft.llm.TextStats.bpeDocTokCte},
         |keep AS (
         |  SELECT b.source, b.n_tok AS nt,
         |    (c.doc_id IS NULL OR c.comp_id = b.doc_id) AS kept
         |  FROM bdoc b LEFT JOIN comp c ON c.doc_id = b.doc_id
         |), s AS (
         |  SELECT source, CAST(sum(nt) AS BIGINT) AS n_tok_raw,
         |    CAST(sum(CASE WHEN kept THEN nt ELSE 0 END) AS BIGINT) AS n_tok_dedup
         |  FROM keep GROUP BY source
         |), t AS (
         |  SELECT CAST(sum(n_tok_dedup) AS BIGINT) AS tot,
         |    list_sum(list(sqrt(CAST(n_tok_dedup AS DOUBLE)) ORDER BY source))
         |      AS wsum
         |  FROM s
         |)
         |SELECT source, n_tok_raw, n_tok_dedup,
         |  round(CAST(n_tok_dedup AS DOUBLE) / n_tok_raw, 6) AS dedup_frac,
         |  round(CAST(n_tok_dedup AS DOUBLE) / t.tot, 6) AS nat_frac,
         |  round(CASE WHEN n_tok_dedup > 0
         |    THEN sqrt(CAST(n_tok_dedup AS DOUBLE)) / t.wsum ELSE 0 END, 6)
         |    AS weight,
         |  round(CASE WHEN n_tok_dedup > 0
         |    THEN sqrt(CAST(n_tok_dedup AS DOUBLE)) / t.wsum * t.tot / n_tok_dedup
         |    ELSE 0 END, 6) AS epochs
         |FROM s, t""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      // r20: the BPE merge learning (histogram agg + top-V collect +
      // driver merge loop) and the LSH closure chain (eager spill +
      // label propagation inside dedupClusters) share no inputs beyond
      // the immutable corpus — overlap them (guide §2.6); the mixture
      // math then consumes both exactly as before
      val (merges, keep) = graft.llm.Similarity.inParallel(
        graft.llm.TextStats.bpeLearnMerges(docs).map(m => (m._2, m._3)),
        dedupClusters(minhashPairs(docs))
          .select(col("doc_id"), col("is_keeper").as("__k")))
      dedupCorrectedMixture(docs,
        graft.functions.Bpe.count(col("text"), merges), keep0 = Some(keep))
    },

    sql("d26_lsh_diagnostics", {
      val estSum = (0 until MinhashK)
        .map(k => s"CASE WHEN sa.m$k = sb.m$k THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH $minhashCandCtes, nb AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, CAST(count(*) AS BIGINT) AS n_bands
         |  FROM capped a JOIN capped b
         |    ON a.band = b.band AND a.bk = b.bk AND b.doc_id > a.doc_id
         |  GROUP BY 1, 2
         |), est AS (
         |  SELECT c.da, c.db, ($estSum) / ${MinhashK}.0 AS est_j
         |  FROM cand c JOIN sig sa ON sa.doc_id = c.da
         |              JOIN sig sb ON sb.doc_id = c.db
         |), ex AS (
         |  SELECT c.da, c.db,
         |    CAST(len(list_intersect(ga.gs, gb.gs)) AS DOUBLE)
         |      / len(list_distinct(ga.gs || gb.gs)) AS j
         |  FROM cand c JOIN gsets ga ON ga.doc_id = c.da
         |              JOIN gsets gb ON gb.doc_id = c.db
         |)
         |SELECT n.da AS doc_id_a, n.db AS doc_id_b, n.n_bands,
         |  round(e.est_j, 6) AS est_jaccard, round(x.j, 6) AS jaccard,
         |  x.j < 0.5 AS is_fp
         |FROM nb n JOIN est e ON e.da = n.da AND e.db = n.db
         |          JOIN ex x ON x.da = n.da AND x.db = n.db""".stripMargin
    }) { (s, d) =>
      lshDiagnostics(Tables.documents(s, d))
    },

    // ---- bloom membership prefilter (sketch front of d12's exact stage) --
    // FULL oracle (r14 — rows-only through r13): the registry runs the
    // sha256-chunk-derived [[bloomPrefilterReplayable]], whose sizing
    // (exact integer m), double-hashed probe positions, and membership
    // bits DuckDB recomputes verbatim — a wrong bit anywhere mismatches
    // the hash, not just the in-query FN/FPR gates (which stay).
    // [[bloomPrefilter]] (Spark's native sketch) remains the production
    // API, spec-covered in DedupSpec.
    sql("d13_bloom_prefilter", {
      def parse15(src: String) = s"CAST(list_sum([CAST(strpos('0123456789abcdef', substr($src, j+1, 1)) - 1 AS BIGINT) << (4*(14-j)) FOR j IN range(15)]) AS BIGINT)"
      s"""WITH snap AS (
         |  SELECT text FROM documents WHERE doc_id % 4 <> 3
         |), newdocs AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 3
         |), params AS (
         |  SELECT greatest((48 * count(*) + 4) // 5, 64) AS m FROM snap
         |), snapk AS (
         |  SELECT ${parse15("substr(sha256(text),1,15)")} AS h1,
         |         ${parse15("substr(sha256(text),16,15)")} AS h2 FROM snap
         |), snapbits AS (
         |  SELECT DISTINCT (h1 + i * h2) % m AS pos
         |  FROM snapk, params, range($BloomReplayK) t(i)
         |), newk AS (
         |  SELECT doc_id, sha256(text) AS hx,
         |         ${parse15("substr(sha256(text),1,15)")} AS h1,
         |         ${parse15("substr(sha256(text),16,15)")} AS h2 FROM newdocs
         |), newpos AS (
         |  SELECT doc_id, (h1 + i * h2) % m AS pos
         |  FROM newk, params, range($BloomReplayK) t(i)
         |), hits AS (
         |  SELECT doc_id, bool_and(pos IN (SELECT pos FROM snapbits)) AS bloom_hit
         |  FROM newpos GROUP BY doc_id
         |), flagged AS (
         |  SELECT k.doc_id, h.bloom_hit,
         |    k.hx IN (SELECT sha256(text) FROM snap) AS is_dup
         |  FROM newk k JOIN hits h USING (doc_id)
         |), stats AS (
         |  SELECT sum(CASE WHEN NOT is_dup AND bloom_hit THEN 1 ELSE 0 END) AS fp,
         |         sum(CASE WHEN NOT is_dup THEN 1 ELSE 0 END) AS nneg
         |  FROM flagged
         |)
         |SELECT f.doc_id, f.bloom_hit, f.is_dup,
         |  round(CAST(s.fp AS DOUBLE) / greatest(s.nneg, 1), 6) AS fpr
         |FROM flagged f CROSS JOIN stats s""".stripMargin
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      bloomPrefilterReplayable(
        docs.filter(col("doc_id") % 4 === 3),
        docs.filter(col("doc_id") % 4 =!= 3))
    },

    // ---- semantic dedup: k-means blocks + within-cluster cosine ----------
    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster embeddings,
    // then drop any vector whose cluster holds a SMALLER-id vector with
    // cosine ≥ τ — pairwise comparison happens only inside a cluster.
    // Unlike d7 (blocks on a GIVEN label), the blocking key here is
    // LEARNED (s7's seeded k-means, shared CTE chain), which is the
    // posture for unlabeled corpora. Scale shape: assignment is s7's
    // (k·dim-bounded centroid broadcast); the pairwise stage is a
    // self-join keyed on cluster_id — a keyed shuffle whose per-key cost
    // is C(n_c, 2), bounded by sizing k ~ N/target_cluster_size at real
    // scale (SemDeDup's own remedy: 50k clusters for 100M docs). Verdict
    // is a semi-join back on vec_id.
    sql("d14_semantic_dedup",
      s"""WITH ${graft.llm.Similarity.kmeansCtes()},
         |norms AS (
         |  SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM e GROUP BY vec_id
         |), losers AS (
         |  SELECT DISTINCT vb AS vec_id FROM (
         |    SELECT a.vec_id AS vb,
         |      round(sum(ea.x * eb.x) / (na.nrm * nb.nrm), 6) AS sim
         |    FROM afin a JOIN afin b ON a.cid = b.cid AND b.vec_id < a.vec_id
         |    JOIN e ea ON ea.vec_id = a.vec_id
         |    JOIN e eb ON eb.vec_id = b.vec_id AND eb.i = ea.i
         |    JOIN norms na ON na.vec_id = a.vec_id
         |    JOIN norms nb ON nb.vec_id = b.vec_id
         |    GROUP BY a.vec_id, b.vec_id, na.nrm, nb.nrm) p
         |  WHERE sim >= 0.4
         |)
         |SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cluster_id,
         |  l.vec_id IS NULL AS keep
         |FROM afin a LEFT JOIN losers l ON l.vec_id = a.vec_id""".stripMargin) { (s, d) =>
      val assign = graft.llm.Similarity
        .kmeansAssign(Tables.embeddings(s, d),
          k = graft.llm.Similarity.KmeansRegistryK, iters = 1)
        .select(col("vec_id"), col("cluster_id"))
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val withVec = assign.join(e, Seq("vec_id"))
      val hi = withVec.select(col("cluster_id"), col("vec_id").as("vb"),
        col("embedding").as("ea"))
      val lo = withVec.select(col("cluster_id"), col("vec_id").as("va"),
        col("embedding").as("eb"))
      val losers = hi.join(lo, Seq("cluster_id"))
        .filter(col("va") < col("vb"))
        .select(col("vb"),
          round(graft.llm.Similarity.cosine(col("ea"), col("eb")), 6).as("sim"))
        .filter(col("sim") >= 0.4)
        .select(col("vb").as("vec_id"))
        .distinct()
      assign.join(losers.withColumn("__loser", lit(true)), Seq("vec_id"), "left")
        .select(col("vec_id"), col("cluster_id"), col("__loser").isNull.as("keep"))
    },

    // ---- content-defined chunking + chunk-level dedup --------------------
    // CDC (the rsync/LBFS posture, used for chunk-sharing dedup of crawl
    // snapshots): a chunk boundary falls wherever the rolling 8-char
    // window's hash ≡ 0 (mod 64) — boundaries move WITH content, so an
    // insertion early in a doc re-chunks only the surrounding chunk, not
    // every downstream fixed-size window (t11 is the fixed-size
    // contrast). Chunk identity is a content hash; `shared` marks chunks
    // appearing in >1 doc or >1 position — the unit of cross-snapshot
    // storage dedup. The boundary hash is the cross-engine sha256-prefix
    // (hash60), so DuckDB replays boundaries bit-identically. Scale
    // shape: position explode (t5's codegen'd shape) → per-doc window on
    // doc_id (one keyed shuffle) → chunk-hash counts via a skew-safe
    // groupBy-count + keyed join on chash (corpus-derived, keyed
    // shuffle — never broadcast, never a single window task).
    sql("d15_cdc_chunks", {
      val parse15 = "CAST(list_sum([CAST(strpos('0123456789abcdef', substr(gk, j+1, 1)) - 1 AS BIGINT) << (4*(14-j)) FOR j IN range(15)]) AS BIGINT)"
      s"""WITH pos AS (
         |  SELECT doc_id, text, unnest(range(8, length(text) + 1)) AS i
         |  FROM documents
         |), b AS (
         |  SELECT doc_id, text, i, $parse15 % 64 = 0 AS is_b
         |  FROM (SELECT doc_id, text, i,
         |          substr(sha256(substr(text, CAST(i - 7 AS INTEGER), 8)), 1, 15) AS gk
         |        FROM pos) t
         |), bounds AS (
         |  SELECT doc_id, text, CAST(i AS BIGINT) AS e FROM b WHERE is_b
         |  UNION ALL
         |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS e FROM documents
         |), uniq AS (SELECT DISTINCT doc_id, text, e FROM bounds),
         |chunks AS (
         |  SELECT doc_id,
         |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY e), 0) + 1 AS s, e
         |  FROM uniq
         |), ch AS (
         |  SELECT doc_id, s AS start_pos, e - s + 1 AS len,
         |    substr(sha256(substr(text, CAST(s AS INTEGER), CAST(e - s + 1 AS INTEGER))), 1, 15) AS chash
         |  FROM chunks c JOIN documents d USING (doc_id) WHERE e >= s
         |)
         |SELECT doc_id, start_pos, len, chash,
         |  CAST(count(*) OVER (PARTITION BY chash) AS BIGINT) > 1 AS shared
         |FROM ch""".stripMargin
    }) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val bounds = Tables.spread(docs)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(8), greatest(length(col("text")), lit(8)))).as("i"))
        .filter(col("i") <= length(col("text")))
        .filter(hash60(col("text").substr(col("i") - 7, lit(8))) % 64 === 0)
        .select(col("doc_id"), col("i").cast("long").as("e"))
        .unionByName(docs.select(col("doc_id"), length(col("text")).cast("long").as("e")))
        .distinct()
      val w = Window.partitionBy(col("doc_id")).orderBy(col("e"))
      val chunks = bounds
        .withColumn("s", coalesce(lag(col("e"), 1).over(w), lit(0L)) + 1)
        .filter(col("e") >= col("s"))
        .join(docs, Seq("doc_id"))
        .select(col("doc_id"), col("s").as("start_pos"), (col("e") - col("s") + 1).as("len"),
          substring(sha2(col("text").substr(col("s").cast("int"),
            (col("e") - col("s") + 1).cast("int")), 256), 1, 15).as("chash"))
      // shared flag via groupBy-count + join (r13 skew-safe form): a
      // degenerate corpus making one chunk hash dominate stays a
      // map-side partial, not a single window task
      chunks
        .join(chunks.groupBy(col("chash"))
          .agg((count(lit(1)) > 1).as("shared")), Seq("chash"))
        .select(col("doc_id"), col("start_pos"), col("len"), col("chash"),
          col("shared"))
    },

    // ---- sorted-neighborhood near-dup (the non-LSH blocking family) ------
    // Hernández–Stolfo sorted neighborhood: order the corpus by a
    // content-derived key (min char-8-gram sha-prefix hash — near-dups
    // share most grams, so with probability ≈ |∩|/|∪| they share the
    // MINIMUM and sort adjacent), then compare only rank neighbors
    // (window w = 2). One sort + a rank-band self-join replaces LSH's
    // band explosion — cheaper per doc, lower recall (measured here:
    // ~36% of d3's verified pairs at sf0.01 — the classic SNM tradeoff;
    // multi-pass with different keys is the standard recall remedy).
    // The global ordering uses the q46 two-pass distributed rank
    // (Relational.globalRowNumber) — no single-partition Window.
    sql("d19_sorted_neighborhood", {
      val parse15 = "CAST(list_sum([CAST(strpos('0123456789abcdef', substr(hx, j+1, 1)) - 1 AS BIGINT) << (4*(14-j)) FOR j IN range(15)]) AS BIGINT)"
      s"""WITH g AS (
         |  SELECT doc_id, substr(sha256(substr(text, CAST(i AS INTEGER), 8)), 1, 15) AS hx
         |  FROM (SELECT doc_id, text,
         |          unnest(range(1, greatest(length(text) - 7, 1) + 1)) AS i
         |        FROM documents) t
         |), keyed AS (
         |  SELECT doc_id, min($parse15) AS skey FROM g GROUP BY doc_id
         |), ordered AS (
         |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY skey, doc_id) AS rk FROM keyed
         |), gsets AS (
         |  SELECT doc_id, list_distinct([array_to_string(ts[i:i+2], ' ')
         |    FOR i IN range(1, greatest(len(ts) - 2, 1) + 1)]) AS gs
         |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts
         |        FROM documents) x
         |), pairs AS (
         |  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, b.rk - a.rk AS dist
         |  FROM ordered a JOIN ordered b ON b.rk > a.rk AND b.rk <= a.rk + 2
         |)
         |SELECT p.doc_id_a, p.doc_id_b, CAST(p.dist AS BIGINT) AS window_dist,
         |  round(CAST(len(list_intersect(ga.gs, gb.gs)) AS DOUBLE)
         |    / len(list_distinct(ga.gs || gb.gs)), 6) AS jaccard
         |FROM pairs p JOIN gsets ga ON ga.doc_id = p.doc_id_a
         |             JOIN gsets gb ON gb.doc_id = p.doc_id_b""".stripMargin
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      val keyed = Tables.spread(docs)
        .select(col("doc_id"),
          explode(sequence(lit(1), greatest(length(col("text")) - 7, lit(1)))).as("i"),
          col("text"))
        .select(col("doc_id"),
          hash60(col("text").substr(col("i"), lit(8))).as("gh"))
        .groupBy(col("doc_id")).agg(min(col("gh")).as("skey"))
      val ordered = graft.operators.Relational
        .globalRowNumber(keyed, Seq(col("skey"), col("doc_id")), "rk")
        .select(col("doc_id"), col("rk"))
      // rank-band join as TWO keyed equi-joins (dist 1 and 2) — a
      // range predicate here would plan a nested-loop cross product
      val a = ordered.select(col("rk"), col("doc_id").as("doc_id_a"))
      val pairs = Seq(1, 2).map { dlt =>
        a.join(ordered.select((col("rk") - dlt).as("rk"), col("doc_id").as("doc_id_b")),
            Seq("rk"))
          .select(col("doc_id_a"), col("doc_id_b"), lit(dlt.toLong).as("window_dist"))
      }.reduce(_ unionByName _)
      val sets = shingleHashSets(docs)
      pairs
        .join(sets.select(col("doc_id").as("doc_id_a"), col("sh").as("ga")), Seq("doc_id_a"))
        .join(sets.select(col("doc_id").as("doc_id_b"), col("sh").as("gb")), Seq("doc_id_b"))
        .select(col("doc_id_a"), col("doc_id_b"), col("window_dist"),
          round(size(array_intersect(col("ga"), col("gb"))).cast("double") /
            size(array_union(col("ga"), col("gb"))), 6).as("jaccard"))
    },

    // ---- multi-pass sorted neighborhood (the SNM recall remedy) ----------
    // d19 with the standard fix for single-ordering blindness: TWO
    // independent orderings (min char-8-gram hash under two hash
    // prefixes), each contributing its w=2 rank band; candidates are the
    // DISTINCT union, verified at exact Jaccard. A near-dup pair is
    // found if EITHER ordering sorts it adjacent — recall 1-(1-p)^k for
    // k passes at per-pass probability p (measured here: 9 → 10 of d3's
    // 25 verified pairs at sf0.01; the synthetic corpus's near-dups sit
    // at Jaccard ≈ 0.5, the worst case for min-gram agreement). Each
    // pass is the d19 shape: distributed two-pass rank, keyed equi-join
    // bands — cost is linear in passes, never quadratic in docs.
    sql("d20_snm_multipass", {
      val parse15 = "CAST(list_sum([CAST(strpos('0123456789abcdef', substr(hx, j+1, 1)) - 1 AS BIGINT) << (4*(14-j)) FOR j IN range(15)]) AS BIGINT)"
      s"""WITH g AS (
         |  SELECT doc_id, substr(text, CAST(i AS INTEGER), 8) AS gr
         |  FROM (SELECT doc_id, text,
         |          unnest(range(1, greatest(length(text) - 7, 1) + 1)) AS i
         |        FROM documents) t
         |), k1 AS (
         |  SELECT doc_id, min($parse15) AS skey, 1 AS pass
         |  FROM (SELECT doc_id, substr(sha256(gr), 1, 15) AS hx FROM g) h
         |  GROUP BY doc_id
         |), k2 AS (
         |  SELECT doc_id, min($parse15) AS skey, 2 AS pass
         |  FROM (SELECT doc_id, substr(sha256('2|' || gr), 1, 15) AS hx FROM g) h
         |  GROUP BY doc_id
         |), keyed AS (SELECT * FROM k1 UNION ALL SELECT * FROM k2),
         |ordered AS (
         |  SELECT doc_id, pass,
         |    ROW_NUMBER() OVER (PARTITION BY pass ORDER BY skey, doc_id) AS rk
         |  FROM keyed
         |), cand AS (
         |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_id_a,
         |         greatest(a.doc_id, b.doc_id) AS doc_id_b
         |  FROM ordered a JOIN ordered b
         |    ON a.pass = b.pass AND (b.rk = a.rk + 1 OR b.rk = a.rk + 2)
         |), gsets AS (
         |  SELECT doc_id, list_distinct([array_to_string(ts[i:i+2], ' ')
         |    FOR i IN range(1, greatest(len(ts) - 2, 1) + 1)]) AS gs
         |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts
         |        FROM documents) x
         |)
         |SELECT c.doc_id_a, c.doc_id_b,
         |  round(CAST(len(list_intersect(ga.gs, gb.gs)) AS DOUBLE)
         |    / len(list_distinct(ga.gs || gb.gs)), 6) AS jaccard
         |FROM cand c JOIN gsets ga ON ga.doc_id = c.doc_id_a
         |            JOIN gsets gb ON gb.doc_id = c.doc_id_b""".stripMargin
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      // ONE char-gram pass emits BOTH orderings' sort keys (two min
      // aggregates over the same exploded grams); the doc-level key table
      // (3 longs/doc) is spilled to parquet so the two rank passes read
      // that artifact instead of each re-running the gram explode — the
      // dominant cost of this query, previously paid once per pass. Like
      // dedupClusters, the returned plan reads the spill; retention is
      // the spillDir/TTL policy.
      val keyed = Tables.spread(docs)
        .select(col("doc_id"),
          explode(sequence(lit(1), greatest(length(col("text")) - 7, lit(1)))).as("i"),
          col("text"))
        .select(col("doc_id"), col("text").substr(col("i"), lit(8)).as("gr"))
        .groupBy(col("doc_id"))
        .agg(min(hash60(col("gr"))).as("k1"),
          min(hash60(concat(lit("2|"), col("gr")))).as("k2"))
      val keyDir = spillRun(s, None, "d20_snm_multipass", "snm")
      keyed.write.mode("overwrite").parquet(keyDir)
      val keyArt = s.read.parquet(keyDir)
      def passPairs(key: String): DataFrame = {
        val ordered = graft.operators.Relational
          .globalRowNumber(keyArt.select(col("doc_id"), col(key).as("skey")),
            Seq(col("skey"), col("doc_id")), "rk")
          .select(col("doc_id"), col("rk"))
        val a = ordered.select(col("rk"), col("doc_id").as("da"))
        Seq(1, 2).map { dlt =>
          a.join(ordered.select((col("rk") - dlt).as("rk"), col("doc_id").as("db")),
              Seq("rk"))
            .select(least(col("da"), col("db")).as("doc_id_a"),
              greatest(col("da"), col("db")).as("doc_id_b"))
        }.reduce(_ unionByName _)
      }
      // r20: the two sort-key passes are independent bounded-rank
      // chains over the same spilled key artifact (each pays an eager
      // range-sample + partials collect inside globalRowNumber) — run
      // them concurrently (guide §2.6); pair content is unchanged
      val (p1, p2) = graft.llm.Similarity.inParallel(
        passPairs("k1"), passPairs("k2"))
      val cand = p1.unionByName(p2).distinct()
      val sets = shingleHashSets(docs)
      cand
        .join(sets.select(col("doc_id").as("doc_id_a"), col("sh").as("ga")), Seq("doc_id_a"))
        .join(sets.select(col("doc_id").as("doc_id_b"), col("sh").as("gb")), Seq("doc_id_b"))
        .select(col("doc_id_a"), col("doc_id_b"),
          round(size(array_intersect(col("ga"), col("gb"))).cast("double") /
            size(array_union(col("ga"), col("gb"))), 6).as("jaccard"))
    },

    // ---- minhash estimator calibration (estimate vs exact, per pair) -----
    // For every LSH candidate pair, BOTH the signature-match Jaccard
    // estimate (matching components / 32 — the only similarity a
    // signature-only system ever sees) and the exact shingle Jaccard,
    // with the absolute error: the measurement that justifies k=32 and
    // the 0.5 verify threshold, produced by the pipeline itself. The
    // estimate is an integer/32 — exactly representable, bit-stable.
    // Scale shape: d3's candidate chain (capped buckets, ids-only
    // self-join); signatures re-attach per side AFTER candidates.
    sql("d18_minhash_estimate", {
      val matches = (0 until MinhashK)
        .map(k => s"CASE WHEN sa.m$k = sb.m$k THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $minhashCandCtes, est AS (
         |  SELECT c.da, c.db, round(($matches) / $MinhashK.0, 6) AS sig_est
         |  FROM cand c JOIN sig sa ON sa.doc_id = c.da
         |               JOIN sig sb ON sb.doc_id = c.db
         |), ex AS (
         |  SELECT c.da, c.db,
         |    round(CAST(len(list_intersect(ga.gs, gb.gs)) AS DOUBLE)
         |      / len(list_distinct(ga.gs || gb.gs)), 6) AS jaccard
         |  FROM cand c JOIN gsets ga ON ga.doc_id = c.da
         |               JOIN gsets gb ON gb.doc_id = c.db
         |)
         |SELECT e.da AS doc_id_a, e.db AS doc_id_b, e.sig_est, x.jaccard,
         |  round(abs(e.sig_est - x.jaccard), 6) AS abs_err
         |FROM est e JOIN ex x ON x.da = e.da AND x.db = e.db""".stripMargin
    }) { (s, d) =>
      val spreadToks = graft.Tables.spread(tokenize(Tables.documents(s, d)))
      def gramRows = tokenNgramRowsFromTokens(spreadToks, 3)
      val sigs = minhashSignatures(gramRows)
      val candidates = candidatesFromSigs(sigs, maxBucket = DefaultMaxBucket)
      val matchCount = (0 until MinhashK)
        .map(k => when(col(s"ma$k") === col(s"mb$k"), 1).otherwise(0))
        .reduce(_ + _)
      val sigA = sigs.select(col("doc_id").as("doc_id_a") +:
        (0 until MinhashK).map(k => col(s"m$k").as(s"ma$k")): _*)
      val sigB = sigs.select(col("doc_id").as("doc_id_b") +:
        (0 until MinhashK).map(k => col(s"m$k").as(s"mb$k")): _*)
      val shingleDf = gramRows
        .select(col("doc_id"), xxhash64(col("g")).as("sh"))
        .groupBy(col("doc_id")).agg(collect_set(col("sh")).as("sh"))
      candidates
        .join(sigA, Seq("doc_id_a")).join(sigB, Seq("doc_id_b"))
        .select(col("doc_id_a"), col("doc_id_b"),
          round(matchCount.cast("double") / MinhashK, 6).as("sig_est"))
        .join(shingleDf.select(col("doc_id").as("doc_id_a"), col("sh").as("sh_a")),
          Seq("doc_id_a"))
        .join(shingleDf.select(col("doc_id").as("doc_id_b"), col("sh").as("sh_b")),
          Seq("doc_id_b"))
        .select(col("doc_id_a"), col("doc_id_b"), col("sig_est"),
          round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            size(array_union(col("sh_a"), col("sh_b"))), 6).as("jaccard"))
        .withColumn("abs_err", round(abs(col("sig_est") - col("jaccard")), 6))
    },

    // ---- soft dedup: downweight copies instead of dropping them ----------
    // The sampling-weight alternative to d1's hard drop (used when exact
    // copies carry signal about document importance): every doc keeps a
    // weight of 1/n_copies so a group of n duplicates contributes ONE
    // document's worth of training mass in expectation, and the min-id
    // member is flagged canonical. Scale shape: one keyed shuffle on the
    // content hash; both the count and the rank ride the same window
    // partitioning.
    sql("d17_soft_dedup_weights",
      """SELECT doc_id, content_hash,
        |  CAST(n_copies AS BIGINT) AS n_copies,
        |  round(1.0 / n_copies, 6) AS weight,
        |  rn = 1 AS is_canonical
        |FROM (
        |  SELECT doc_id, sha256(text) AS content_hash,
        |    count(*) OVER (PARTITION BY sha256(text)) AS n_copies,
        |    ROW_NUMBER() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
        |  FROM documents) t""".stripMargin) { (s, d) =>
      // window-free form (r13): n_copies and the canonical pick are both
      // per-hash aggregates (count, min(doc_id)) — hash-agg partials
      // stay skew-robust where a content_hash window would land a
      // degenerate dup group on one task
      val hashed = Tables.documents(s, d)
        .select(col("doc_id"), sha2(col("text"), 256).as("content_hash"))
      hashed.join(
          hashed.groupBy(col("content_hash"))
            .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("__first")),
          Seq("content_hash"))
        .select(col("doc_id"), col("content_hash"), col("n_copies"),
          round(lit(1.0) / col("n_copies"), 6).as("weight"),
          (col("doc_id") === col("__first")).as("is_canonical"))
    },

    // ---- containment (asymmetric near-dup: quote/superset inclusion) -----
    // Broder's second resemblance measure: |A∩B| / min(|A|,|B|) — near 1
    // when the SMALLER doc is included in the larger even though Jaccard
    // is low (a quoted article inside a long page scores ~|A|/|B| on
    // Jaccard and ~1.0 on containment — the partial-inclusion dup class
    // d3/d5 miss by design). Same bounded blocking as d5 (adjacent
    // same-source pairs), intersection over hashed 3-gram SETS; sizes
    // ship alongside so the direction of inclusion is readable.
    sql("d16_containment",
      """WITH sh AS (
        |  SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rk,
        |    list_distinct([array_to_string(toks[i:i+2], ' ')
        |      FOR i IN range(1, greatest(len(toks) - 2, 1) + 1)]) AS grams
        |  FROM (SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS toks
        |        FROM documents) t
        |)
        |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
        |  CAST(len(a.grams) AS BIGINT) AS n_grams_a,
        |  CAST(len(b.grams) AS BIGINT) AS n_grams_b,
        |  round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |    / least(len(a.grams), len(b.grams)), 6) AS containment
        |FROM sh a JOIN sh b ON a.source = b.source AND b.rk = a.rk + 1""".stripMargin) { (s, d) =>
      // Two-pass distributed per-source rank (Relational.groupedRowNumber):
      // a partitionBy(source) window is one task per source at scale.
      val docs = Tables.documents(s, d)
      val sh = graft.operators.Relational.groupedRowNumber(
        shingleHashSets(docs)
          .withColumnRenamed("sh", "grams")
          .join(docs.select(col("doc_id"), col("source")), Seq("doc_id")),
        Seq("source"), Seq(col("doc_id")), "rk")
      val a = sh.select(col("source"), col("rk"), col("doc_id").as("doc_id_a"),
        col("grams").as("ga"))
      val b = sh.select(col("source"), (col("rk") - 1).as("rk"),
        col("doc_id").as("doc_id_b"), col("grams").as("gb"))
      a.join(b, Seq("source", "rk"))
        .select(col("doc_id_a"), col("doc_id_b"),
          size(col("ga")).cast("long").as("n_grams_a"),
          size(col("gb")).cast("long").as("n_grams_b"),
          round(size(array_intersect(col("ga"), col("gb"))).cast("double") /
            least(size(col("ga")), size(col("gb"))), 6).as("containment"))
    },

    // ---- n-gram Jaccard similarity for adjacent same-source docs ---------
    // The standalone exact-similarity op (no LSH): pairs within a bounded
    // blocking key (source), similarity = |∩|/|∪| of word 3-gram sets.
    sql("d5_ngram_jaccard",
      """WITH sh AS (
        |  SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rk,
        |    list_distinct([array_to_string(toks[i:i+2], ' ')
        |      FOR i IN range(1, greatest(len(toks) - 2, 1) + 1)]) AS grams
        |  FROM (SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS toks
        |        FROM documents) t
        |)
        |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
        |  CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |    / len(list_distinct(a.grams || b.grams)) AS jaccard
        |FROM sh a JOIN sh b
        |  ON a.source = b.source AND b.rk = a.rk + 1""".stripMargin) { (s, d) =>
      // Spark side works on hashed shingle sets (identical Jaccard values,
      // no string building); the oracle builds the string grams — set
      // sizes are equal barring 64-bit collisions. Rank is the two-pass
      // distributed per-source row number (see d16).
      val docs = Tables.documents(s, d)
      val sh = graft.operators.Relational.groupedRowNumber(
        shingleHashSets(docs)
          .withColumnRenamed("sh", "grams")
          .join(docs.select(col("doc_id"), col("source")), Seq("doc_id")),
        Seq("source"), Seq(col("doc_id")), "rk")
      val a = sh.select(col("source"), col("rk"), col("doc_id").as("doc_id_a"), col("grams").as("ga"))
      val b = sh.select(col("source"), (col("rk") - 1).as("rk"),
        col("doc_id").as("doc_id_b"), col("grams").as("gb"))
      a.join(b, Seq("source", "rk"))
        .select(col("doc_id_a"), col("doc_id_b"),
          (size(array_intersect(col("ga"), col("gb"))).cast("double") /
            size(array_union(col("ga"), col("gb")))).as("jaccard"))
    },

    // ---- prefix dedup: truncation duplicates, keep the longest -----------
    // Web-crawl reality between d1's exact hash and d3's MinHash: the
    // same page captured at different truncation points (connection cut,
    // render limit, pagination) shares its opening but not its hash, and
    // token-level near-dup misses badly truncated pairs because Jaccard
    // decays with the length gap. Block on the first-4-token prefix,
    // keep the LONGEST capture per group (n_chars desc, doc_id tie),
    // flag the rest. Scale: one scan; the prefix groupBy and the
    // rank window are keyed on the prefix itself — an OPEN key space
    // that grows with the corpus (no fixed-cardinality single-task
    // window, unlike a source-keyed one), with group extents bounded by
    // the duplicate multiplicity; the group-size table meets the doc
    // stream in a keyed shuffle join (corpus-derived — never broadcast).
    sql("d21_prefix_dedup",
      """WITH p AS (
        |  SELECT doc_id, n_chars,
        |    array_to_string((regexp_split_to_array(trim(text), '\s+'))[1:4], ' ') AS pfx
        |  FROM documents
        |), g AS (
        |  SELECT pfx, CAST(count(*) AS BIGINT) AS grp_size
        |  FROM p GROUP BY pfx HAVING count(*) >= 2
        |)
        |SELECT p.doc_id, p.pfx, g.grp_size,
        |  (ROW_NUMBER() OVER (PARTITION BY p.pfx
        |     ORDER BY p.n_chars DESC, p.doc_id) = 1) AS kept
        |FROM p JOIN g ON g.pfx = p.pfx""".stripMargin) { (s, d) =>
      prefixDedup(Tables.documents(s, d))
    },

    // ---- intra-doc stutter removal (run-length token dedup) --------------
    // The OCR/ASR/scrape text-normalization transform: collapse every
    // run of identical consecutive tokens to one ("the the the" → "the")
    // — the transform counterpart of t8's repetition METRICS. Pure
    // scan-side HOF work (an index-aware filter over the token array) —
    // exact strings, exact counts, zero shuffles; the cleaned text goes
    // back out as a column, so downstream stages chain without a
    // re-tokenize. Both engines rebuild the cleaned doc token-for-token,
    // and the oracle compares the full cleaned string.
    sql("d23_stutter_removal",
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts FROM documents
        |), cl AS (
        |  SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tok,
        |    [ts[i+1] FOR i IN range(len(ts)) IF i = 0 OR ts[i+1] <> ts[i]] AS clean
        |  FROM toks
        |)
        |SELECT doc_id, n_tok, CAST(len(clean) AS BIGINT) AS n_clean,
        |  n_tok - len(clean) AS n_removed,
        |  array_to_string(clean, ' ') AS clean_text
        |FROM cl""".stripMargin) { (s, d) =>
      stutterRemoval(Tables.spread(Tables.documents(s, d)))
    }
  )

  /** See the `d23` registry notes. `docs` needs (doc_id, text). */
  def stutterRemoval(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("ts"))
      .select(col("doc_id"), size(col("ts")).cast("long").as("n_tok"),
        // keep position i+1 (1-based) iff it's the first token or
        // differs from its predecessor — filter's lambda index is
        // 0-based, element_at is 1-based, so element_at(ts, i) IS the
        // predecessor of x
        expr("filter(ts, (x, i) -> i = 0 OR x != element_at(ts, i))").as("clean"))
      .select(col("doc_id"), col("n_tok"),
        size(col("clean")).cast("long").as("n_clean"),
        (col("n_tok") - size(col("clean"))).as("n_removed"),
        array_join(col("clean"), " ").as("clean_text"))

  /** See the `d21` registry notes. `docs` needs (doc_id, text, n_chars). */
  def prefixDedup(docs: DataFrame, nPrefix: Int = 4): DataFrame = {
    val p = docs.select(col("doc_id"), col("n_chars"),
      array_join(slice(split(trim(col("text")), "\\s+"), 1, nPrefix), " ").as("pfx"))
    val g = p.groupBy(col("pfx")).agg(count(lit(1)).as("grp_size"))
      .filter(col("grp_size") >= 2)
    // keep-longest rank on the bounded two-pass form (r14): boilerplate
    // prefixes are the NORM in crawl data — the biggest pfx group is the
    // hot one, and a pfx window would put it on one task. Same migration
    // clusterKeepBest made in r13.
    graft.operators.Relational.groupedRowNumber(
        p.join(g, Seq("pfx")), Seq("pfx"),
        Seq(col("n_chars").desc, col("doc_id")), "__rn")
      .withColumn("kept", col("__rn") === 1)
      .select(col("doc_id"), col("pfx"), col("grp_size"), col("kept"))
  }
}
