package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.{OpQuery, Tables}
import graft.OpQuery.sql

/** Text-analysis operators for LLM training-data pipelines: token counting,
  * quality scoring, language ID, fingerprinting (builder-prompt north-star;
  * SURVEY.md §2.10). All scalar work is Catalyst expressions/HOFs — one
  * scan, no shuffle except where an aggregation is the point. At 100 TB
  * these run embarrassingly parallel over document partitions.
  */
object TextStats {

  /** Whitespace tokens of a (trimmed) text column. */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  /** GPT-style pre-tokenizer count: letter runs | single digits | single
    * non-alnum marks. A cheap, deterministic stand-in for a BPE tokenizer's
    * pre-split (the real BPE merge table is model-specific).
    */
  def bpeishCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0))).cast("long")

  /** English stopword sample (public knowledge, small on purpose — it's a
    * broadcast dim, not a model).
    */
  val enStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "of", "to", "in", "is", "that", "it", "for", "on", "with", "as")

  /** Fixture subword vocab for the t35/t36 greedy tokenizer — a LITERAL
    * merge/vocab table (the oracle-replayable alternative to a learned,
    * model-specific BPE table): full common words plus sub-pieces chosen
    * so multi-piece splits, longest-match-over-shorter-prefix decisions
    * ("ord" beats "or"), and the single-char fallback all occur on the
    * synthetic corpus. Shared VERBATIM between the Spark expression and
    * the DuckDB VALUES list, so the two engines can never disagree on
    * the table. Parameter-bounded (a broadcast dim, not a model) — at
    * 100 TB a production vocab is ~50k entries, still plan-shippable.
    */
  val SubwordVocab: Seq[String] = Seq(
    "join", "hash", "row", "batch", "scan", "cust", "omer", "col", "umn",
    "filt", "er", "small", "slow", "merge", "ord", "vect", "or", "line",
    "data", "tab", "le", "agg", "val", "ue", "key", "stream", "win", "dow",
    "spark", "group", "part", "big", "sort", "quer", "fast", "the", "a",
    "ing", "tion", "ent", "ter")

  /** Greedy-longest-match subword count under [[SubwordVocab]] — the
    * subword metering column (codegen'd scan-side expression).
    */
  def subwordCount(text: Column): Column =
    graft.functions.Subword.count(text, SubwordVocab)

  /** Words in the deterministic BPE trainer's sample (top-V by
    * (freq DESC, word ASC) — the tie-broken cut both engines compute
    * identically) and merge rounds learned. 32 rounds leaves ~3×
    * headroom before the pair space of the synthetic corpus exhausts
    * (89 learnable at every SF — measured; [[bpeLearnMerges]] `require`s
    * non-exhaustion so a corpus change fails loudly, not silently
    * short). Both are codebook-class parameters: the train sample is
    * V rows collected to the driver (the FAISS train-on-sample posture
    * the k-means codebooks already use), the model is K merge pairs.
    */
  val BpeTrainTopV = 64
  val BpeTrainRounds = 32

  /** Driver-cost ceiling for the train sample — the 8192-row codebook
    * precedent made a knob: the sample is topV short strings collected
    * to the driver, and the per-round work is bounded by the sample's
    * total symbol count, so 65536 words caps the driver's memory and
    * the merge loop's cost at the same parameter-bounded class the
    * k-means codebooks already occupy. A corpus needing a bigger vocab
    * raises the ceiling consciously, not by accident.
    */
  val BpeTrainMaxTopV = 65536

  /** Resolved (topV, rounds) train parameters for a session: the
    * `spark.graft.bpe.trainTopV/trainRounds` knobs when set, else the
    * pinned defaults. The ONE resolution point — both production train
    * entry points ([[BpeArtifact.train]] and
    * [[BpeArtifact.trainFromHist]], the lifecycle's retrain) resolve
    * through it and record the same values as the artifact's
    * provenance, so the persisted model can never disagree with the
    * parameters that trained it. Registry entries pass the pinned
    * [[BpeTrainTopV]]/[[BpeTrainRounds]] constants explicitly (st15
    * additionally `require`s the knobs unset) so a deployment knob can
    * never silently drift the oracles.
    */
  def bpeTrainParams(s: org.apache.spark.sql.SparkSession): (Int, Int) =
    (graft.GraftConfig.bpeTrainTopV(s).getOrElse(BpeTrainTopV),
      graft.GraftConfig.bpeTrainRounds(s).getOrElse(BpeTrainRounds))

  /** Deterministic BPE merge LEARNING (t37) — the real-tokenizer answer
    * to "whitespace metering mispriced the budget": seed every sampled
    * word as its CODEPOINT sequence (r15 — aligned with the oracle's
    * codepoint-based str_split beyond the BMP), then `rounds` times
    * (1) count adjacent symbol pairs weighted by word frequency,
    * (2) merge the most frequent pair everywhere (tie-break: count
    * DESC, then (a, b) lexicographic — total, so the learned table is a
    * pure function of the corpus), exactly the textbook BPE trainer.
    * Distributed part: ONE word-count aggregation + a bounded
    * TakeOrdered for the top-V sample; the merge loop itself runs
    * driver-side over ≤ V short strings (the sanctioned
    * codebook-training class — at 100 TB the word-frequency agg is the
    * only corpus-sized work). Returns (rank, left, right, merged,
    * weighted count).
    *
    * The merge loop maintains pair counts INCREMENTALLY (r15 — the r14
    * verdict's #2): each round rewrites only the words that contain the
    * chosen pair (tracked by an occurrence index) and diff-updates the
    * count table from those words' before/after adjacency multisets, so
    * the per-round cost is O(affected words · word length + |pairs|)
    * instead of a full re-scan of every sampled word — at V = 4096
    * that's the difference between touching ~1% and 100% of the sample
    * per round (SubwordScaleSpec measures it and pins equality with the
    * full-re-scan reference on random corpora).
    */
  def bpeLearnMerges(docs: DataFrame, topV: Int = BpeTrainTopV,
      rounds: Int = BpeTrainRounds): Seq[(Int, String, String, String, Long)] =
    bpeLearnMergesFromHist(bpeWordHistogram(docs), topV, rounds)

  /** Whitespace-word histogram of a corpus — (w, freq) with freq a
    * BIGINT occurrence count. The ONE corpus-sized aggregation the
    * trainer needs: everything downstream (the top-V sample, the merge
    * loop, the drift metrics) is a pure function of this histogram, so
    * a lifecycle can persist PER-BATCH histograms (vocabulary-sized,
    * Zipf-bounded) instead of raw text and still retrain EXACTLY —
    * summing histograms commutes with splitting the corpus
    * ([[graft.streaming.BpeLifecycle]] is built on this).
    */
  def bpeWordHistogram(docs: DataFrame): DataFrame = docs
    .select(explode(split(trim(col("text")), "\\s+")).as("w"))
    .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  /** Exact freq-weighted pricing of a (w, freq) histogram under a
    * learned table: (Σ freq·codepoints, Σ freq·learnedTokens) —
    * per-DISTINCT-word work, vocabulary-sized. THE one pricing
    * expression: [[BpeArtifact.train]]'s train-time baseline and
    * [[graft.streaming.BpeLifecycle.tick]]'s per-batch drift metering
    * both call it, so the two sides of the drift compare can never
    * drift apart (two hand-copies of this agg would skew every verdict
    * the moment one was edited).
    */
  private def bpeMeterCols(pairs: Seq[(String, String)]): Seq[Column] = Seq(
    coalesce(sum(col("freq") * length(col("w"))), lit(0L)).as("ncp"),
    coalesce(sum(col("freq") *
      graft.functions.Bpe.count(col("w"), pairs)), lit(0L)).as("ntok"))

  def bpeHistMeter(hist: DataFrame,
      pairs: Seq[(String, String)]): (Long, Long) = {
    val cols = bpeMeterCols(pairs)
    val r = hist.agg(cols.head, cols.tail: _*).head()
    (r.getLong(0), r.getLong(1))
  }

  /** [[bpeHistMeter]] plus the histogram provenance fingerprint in ONE
    * fused 1-row aggregate (r20): the train path used to pay two
    * driver-synchronous head() jobs over the same persisted histogram —
    * pricing and fingerprint are independent aggregates of one input,
    * so they share a single pass. The pricing COLUMNS are
    * [[bpeMeterCols]], the same expressions [[bpeHistMeter]] serves the
    * lifecycle's drift metering with — the one-pricing-expression rule
    * is structural, not by convention.
    */
  def bpeHistMeterWithFp(hist: DataFrame,
      pairs: Seq[(String, String)]): (Long, Long, Long) = {
    val cols = bpeMeterCols(pairs) :+
      expr("bit_xor(xxhash64(w, freq))").as("fp")
    val r = hist.agg(cols.head, cols.tail: _*).head()
    (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  /** [[bpeLearnMerges]] from a pre-aggregated (w, freq) histogram —
    * the lifecycle's retrain entry point (histograms of committed
    * batches merge by summed freq before the top-V cut, which is the
    * same tie-broken cut the one-shot trainer computes on raw docs).
    */
  def bpeLearnMergesFromHist(hist: DataFrame, topV: Int = BpeTrainTopV,
      rounds: Int = BpeTrainRounds): Seq[(Int, String, String, String, Long)] = {
    require(topV >= 1 && topV <= BpeTrainMaxTopV,
      s"topV=$topV outside [1, $BpeTrainMaxTopV] — the train sample is " +
        "driver-collected; raise BpeTrainMaxTopV consciously for a bigger vocab")
    val wf: Seq[(String, Long)] = hist
      .select(col("w"), col("freq").cast("long").as("freq"))
      .orderBy(col("freq").desc, col("w")).limit(topV)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // Oracle-packing precondition enforced at TRAIN time (r16 — the
    // [[bpeTrainCtes]] caveat made loud): the DuckDB replay packs symbols
    // with '|' and probes the accumulator tail with LIKE, so a sampled word
    // containing '|' or a LIKE wildcard would surface as a silent oracle
    // hash mismatch downstream. The Spark expressions handle any text
    // (property-tested); only the SQL replay needs this, so fail here with
    // the words named rather than as an unexplained mismatch later.
    val unpackable = wf.iterator.map(_._1)
      .filter(w => w.exists(c => c == '|' || c == '%' || c == '_')).take(5).toSeq
    require(unpackable.isEmpty,
      "train sample contains '|' or LIKE-wildcard ('%', '_') characters the " +
        s"oracle packing cannot replay (first: ${unpackable.mkString(", ")}); " +
        "strip or remap them upstream, or change the oracle packing delimiter")
    def codepointSyms(w: String): scala.collection.mutable.ArrayBuffer[String] = {
      val buf = new scala.collection.mutable.ArrayBuffer[String](w.length)
      var i = 0
      while (i < w.length) {
        val n = Character.charCount(w.codePointAt(i))
        buf += w.substring(i, i + n)
        i += n
      }
      buf
    }
    val words: Array[(scala.collection.mutable.ArrayBuffer[String], Long)] =
      wf.iterator.filter(_._1.nonEmpty)
        .map { case (w, c) => (codepointSyms(w), c) }.toArray
    // exact pair counts + an occurrence index (pair → word ids). The
    // index is a SUPERSET invariant: every word currently containing a
    // pair is indexed under it; stale entries (the pair merged away) are
    // harmless — their rewrite pass is a no-op diff.
    val cnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val occ = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.Set[Int]]
    def addPairs(wi: Int, syms: scala.collection.mutable.ArrayBuffer[String],
        c: Long): Unit = {
      var i = 0
      while (i < syms.length - 1) {
        val key = (syms(i), syms(i + 1))
        cnt.update(key, cnt.getOrElse(key, 0L) + c)
        occ.getOrElseUpdate(key, scala.collection.mutable.Set.empty[Int]) += wi
        i += 1
      }
    }
    def dropPairs(syms: scala.collection.mutable.ArrayBuffer[String], c: Long): Unit = {
      var i = 0
      while (i < syms.length - 1) {
        val key = (syms(i), syms(i + 1))
        val left = cnt(key) - c
        if (left == 0L) cnt.remove(key) else cnt.update(key, left)
        i += 1
      }
    }
    words.iterator.zipWithIndex.foreach { case ((syms, c), wi) => addPairs(wi, syms, c) }
    val out = Vector.newBuilder[(Int, String, String, String, Long)]
    var k = 0
    while (k < rounds) {
      require(cnt.nonEmpty,
        s"BPE pair space exhausted at rank $k — lower BpeTrainRounds for this corpus")
      val ((a, b), n) = cnt.minBy { case ((x, y), m) => (-m, x, y) }
      out += ((k, a, b, a + b, n))
      occ.remove((a, b)).foreach(_.foreach { wi =>
        val (syms, c) = words(wi)
        dropPairs(syms, c)
        val next = new scala.collection.mutable.ArrayBuffer[String](syms.length)
        syms.foreach { x =>
          if (next.nonEmpty && next.last == a && x == b) next(next.length - 1) = a + b
          else next += x
        }
        words(wi) = (next, c)
        addPairs(wi, next, c)
      })
      k += 1
    }
    out.result()
  }

  /** DuckDB CTE chain replaying [[bpeLearnMerges]]: `wf`/`state_0` seed
    * the top-V character sequences, then per round k `pairs_k` (adjacent
    * pair counts), `best_k` (the tie-broken argmax) and `state_k` (the
    * merge applied via a single greedy-left `list_reduce` pass — proven
    * equivalent to the Scala pass in SubwordSpec and by the t37/t38
    * hashes). Every CTE is MATERIALIZED: the chain is
    * sequential-dependent and inlining would re-expand the whole prefix
    * per consumer (observed as an exponential blowup in the prototype).
    * ORACLE-side caveat (not a Spark-side one — the expression handles
    * any text, property-tested): the list_reduce accumulator packs
    * symbols with '|' and probes the tail with LIKE, so the replay
    * assumes corpus symbols contain no '|' and no LIKE wildcards
    * ('%'/'_') — true of the word-salad corpus; a corpus where it
    * isn't would need a different packing delimiter in the SQL only.
    */
  private[graft] def bpeTrainCtes(topV: Int, rounds: Int,
      sfx: String = "", src: String = "documents"): String = {
    val seed =
      s"""wf$sfx AS MATERIALIZED (
         |  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
         |    SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
         |    FROM $src) t
         |  GROUP BY w ORDER BY freq DESC, w LIMIT $topV
         |), state${sfx}_0 AS MATERIALIZED (
         |  SELECT w, freq, str_split(w, '') AS syms FROM wf$sfx WHERE length(w) > 0
         |)""".stripMargin
    val steps = (1 to rounds).map { k =>
      s"""pairs${sfx}_$k AS MATERIALIZED (
         |  SELECT p.a AS a, p.b AS b, sum(freq) AS cnt FROM (
         |    SELECT freq, unnest([struct_pack(a := syms[i], b := syms[i+1])
         |      FOR i IN range(1, len(syms))]) AS p
         |    FROM state${sfx}_${k - 1}) t
         |  GROUP BY p.a, p.b
         |), best${sfx}_$k AS MATERIALIZED (
         |  SELECT a, b, a || b AS m, cnt FROM pairs${sfx}_$k ORDER BY cnt DESC, a, b LIMIT 1
         |), state${sfx}_$k AS MATERIALIZED (
         |  SELECT w, freq, str_split(list_reduce(syms, (acc, x) ->
         |    CASE WHEN (acc = bb.a OR acc LIKE '%|' || bb.a) AND x = bb.b
         |         THEN substr(acc, 1, length(acc) - length(bb.a)) || bb.m
         |         ELSE acc || '|' || x END), '|') AS syms
         |  FROM state${sfx}_${k - 1}, best${sfx}_$k bb
         |)""".stripMargin
    }
    (seed +: steps).mkString(",\n")
  }

  /** The learned table's cross-engine FINGERPRINT replayed in SQL —
    * `tfp$sfx(table_fp)`: sha256 over the length-prefixed canonical
    * rendering of the rank-ordered merge table (rank:len:left:len:right:
    * len:merged:count joined by '|'; lengths in CODEPOINTS — DuckDB's
    * `length` — so both engines render identically beyond the BMP),
    * truncated to the repo's 15-hex-char hash60 prefix. Must match
    * [[bpeTableFingerprint]] bit for bit: a manifest column fed by one
    * and hash-compared against the other proves the fingerprint names
    * the MODEL engine-independently — which is what lets a downstream
    * artifact (shard manifest, mixture table) carry "which table priced
    * me" as plain data.
    */
  private[graft] def bpeTableFpCte(rounds: Int, sfx: String = ""): String = {
    val rows = (1 to rounds).map { k =>
      s"SELECT ${k - 1} AS rnk, a, b, m, CAST(cnt AS BIGINT) AS cnt FROM best${sfx}_$k"
    }.mkString("\n  UNION ALL ")
    // NOTE: no generated line may START with '|' — this fragment embeds
    // into callers' s"""…""".stripMargin templates, which would strip
    // the first pipe of a leading '||' (observed as a DuckDB binder
    // error on '|'(VARCHAR, …)). concat() instead of the operator.
    s"""mtab$sfx AS MATERIALIZED (
       |  $rows
       |), tfp$sfx AS MATERIALIZED (
       |  SELECT CAST(CAST(concat('0x', substr(sha256(string_agg(
       |      concat(CAST(rnk AS VARCHAR), ':', CAST(length(a) AS VARCHAR), ':', a,
       |        ':', CAST(length(b) AS VARCHAR), ':', b,
       |        ':', CAST(length(m) AS VARCHAR), ':', m,
       |        ':', CAST(cnt AS VARCHAR)), '|' ORDER BY rnk)), 1, 15))
       |    AS UBIGINT) AS BIGINT) AS table_fp
       |  FROM mtab$sfx
       |)""".stripMargin
  }

  /** Driver-side twin of [[bpeTableFpCte]]: the 60-bit model fingerprint
    * of a learned merge table ([[bpeLearnMerges]]' output shape). Two
    * models that learn the same table fingerprint identically regardless
    * of corpus or engine; any drift in rank order, a merge pair, or a
    * weight moves it. Codepoint lengths (`codePointCount`), NOT UTF-16
    * `String.length`, so the rendering matches SQL `length` beyond the
    * BMP; the first 15 hex chars of sha256 follow the same hash60
    * convention every other oracle replays with `substr(sha256(x),1,15)`.
    */
  def bpeTableFingerprint(
      merges: Seq[(Int, String, String, String, Long)]): Long = {
    def cp(s: String) = s.codePointCount(0, s.length)
    val canon = merges.map { case (r, a, b, m, c) =>
      s"$r:${cp(a)}:$a:${cp(b)}:$b:${cp(m)}:$m:$c"
    }.mkString("|")
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(canon.getBytes("UTF-8"))
    val hex = d.take(8).map(x => f"$x%02x").mkString.substring(0, 15)
    java.lang.Long.parseLong(hex, 16)
  }

  /** The apply half of the t38/t40–t43/st13 oracles: the learned
    * `best_k` merges replayed over EVERY distinct corpus word (`aw_k`
    * chain), ending in `wn(w, n_sub)` + `words(doc_id, source, w)` rows.
    * Inherits [[bpeTrainCtes]]'s ORACLE-side packing caveat: the
    * `list_reduce` accumulator packs symbols with '|' and probes the
    * tail with LIKE, so corpus symbols must contain no '|' and no LIKE
    * wildcards ('%'/'_') — enforced loudly at train time by
    * [[bpeLearnMerges]]' sample scan, and property-tested Spark-side
    * (the expressions themselves handle any text).
    */
  private[graft] def bpeApplyCtes(rounds: Int, sfx: String = "",
      trainSfx: String = "", src: String = "documents"): String = {
    val seed =
      s"""words$sfx AS MATERIALIZED (
         |  SELECT doc_id, source,
         |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
         |  FROM $src
         |), aw${sfx}_0 AS MATERIALIZED (
         |  SELECT w, str_split(w, '') AS syms
         |  FROM (SELECT DISTINCT w FROM words$sfx) t WHERE length(w) > 0
         |)""".stripMargin
    val steps = (1 to rounds).map { k =>
      s"""aw${sfx}_$k AS MATERIALIZED (
         |  SELECT w, str_split(list_reduce(syms, (acc, x) ->
         |    CASE WHEN (acc = bb.a OR acc LIKE '%|' || bb.a) AND x = bb.b
         |         THEN substr(acc, 1, length(acc) - length(bb.a)) || bb.m
         |         ELSE acc || '|' || x END), '|') AS syms
         |  FROM aw${sfx}_${k - 1}, best${trainSfx}_$k bb
         |)""".stripMargin
    }
    val fin = s"wn$sfx AS (SELECT w, CAST(len(syms) AS BIGINT) AS n_sub" +
      s" FROM aw${sfx}_$rounds)"
    (seed +: steps :+ fin).mkString(",\n")
  }

  /** Per-doc learned-BPE token totals off the apply chain — the shared
    * tail of every re-metered oracle (t40–t43, st13): one row per doc
    * with its whitespace count and its trained-table token count. A doc
    * of only whitespace still appears (regexp_split_to_array yields
    * [''], which the apply chain prices at 0), mirroring the Spark
    * expression's walk over the raw text.
    */
  private[graft] def bpeDocTokCte: String =
    """bdoc AS MATERIALIZED (
      |  SELECT w.doc_id, w.source, CAST(count(*) AS BIGINT) AS n_ws,
      |    CAST(sum(coalesce(t.n_sub, 0)) AS BIGINT) AS n_tok
      |  FROM words w LEFT JOIN wn t USING (w)
      |  GROUP BY w.doc_id, w.source
      |)""".stripMargin

  /** DuckDB CTE prefix replaying the greedy tokenizer: `vocab` as a
    * VALUES literal, the per-DISTINCT-word greedy walk as a recursive
    * CTE (each step consumes the longest vocab prefix of the remaining
    * suffix, else one char), ending in `wtok(w, n_sub)` plus
    * `words(doc_id, source, w)` word rows. Must be opened with
    * `WITH RECURSIVE`.
    */
  private def subwordOracleCtes: String = {
    val values = SubwordVocab.map(v => s"('$v')").mkString(",")
    s"""vocab(v) AS (VALUES $values
       |), words AS (
       |  SELECT doc_id, source,
       |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
       |  FROM documents
       |), dw AS (
       |  SELECT DISTINCT w FROM words
       |), steps AS (
       |  SELECT w, 1 AS pos, 0 AS ntok FROM dw
       |  UNION ALL
       |  SELECT w, pos + CAST(length(tok) AS INT) AS pos, ntok + 1 AS ntok FROM (
       |    SELECT s.w AS w, s.pos AS pos, s.ntok AS ntok,
       |      coalesce((SELECT v FROM vocab
       |                WHERE substr(s.w, s.pos, length(v)) = v
       |                ORDER BY length(v) DESC LIMIT 1),
       |               substr(s.w, s.pos, 1)) AS tok
       |    FROM steps s WHERE s.pos <= length(s.w))
       |), wtok AS (
       |  SELECT w, max(ntok) AS n_sub FROM steps GROUP BY w
       |)""".stripMargin
  }

  /** Shared bigram-LM CTE prefix (t17/t20's oracle front): ends with
    * `sc(doc_id, lp)`, one row per bigram occurrence with its smoothed
    * log-probability.
    */
  private val bigramLmCtes: String =
    """tok AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS t,
      |         generate_subscripts(regexp_split_to_array(trim(text), '\s+'), 1) AS pos
      |  FROM documents
      |), big AS (
      |  SELECT a.doc_id, a.t AS w1, b.t AS w2
      |  FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      |), bc AS (
      |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM big GROUP BY 1, 2
      |), uc AS (
      |  SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM big GROUP BY 1
      |), v AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS vsz FROM tok),
      |sc AS (
      |  SELECT g.doc_id, ln((bc.c2 + 0.5) / (uc.c1 + 0.5 * v.vsz)) AS lp
      |  FROM big g JOIN bc ON bc.w1 = g.w1 AND bc.w2 = g.w2
      |  JOIN uc ON uc.w1 = g.w1, v
      |)""".stripMargin

  /** Per-doc mean bigram log-prob under the corpus-trained add-0.5
    * smoothed LM — t17's frame, shared with t20's bucket assignment.
    * Columns: (doc_id, n_bigrams, avg_logprob). See the t17 registry
    * entry for the scale shape.
    */
  def bigramLogprob(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.spread(Tables.documents(s, d))
      .select(col("doc_id"), posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos", "t")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val big = toks
      .withColumn("w2", lead(col("t"), 1).over(w))
      .filter(col("w2").isNotNull)
      .select(col("doc_id"), col("t").as("w1"), col("w2"))
    val bc = big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val uc = big.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val v = toks.agg(countDistinct(col("t")).as("vsz"))
    big.join(bc, Seq("w1", "w2"))
      .join(uc, Seq("w1"))
      .crossJoin(broadcast(v))
      .select(col("doc_id"),
        log((col("c2") + lit(0.5)) / (col("c1") + lit(0.5) * col("vsz"))).as("lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("lp")) / count(lit(1)), 6).as("avg_logprob"))
  }

  /** Per-language stopword dictionary for the language-ID heuristic. */
  val stopwordDict: Seq[(String, String)] =
    enStopwords.map(("en", _)) ++
      Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den").map(("de", _)) ++
      Seq("el", "la", "de", "que", "y", "en", "un", "es", "se", "no").map(("es", _)) ++
      Seq("le", "les", "et", "une", "est", "dans", "du", "pas", "pour", "sur").map(("fr", _)) ++
      Seq("的", "是", "不", "了", "在", "人", "有", "我", "他", "这").map(("zh", _))

  /** Deterministic training order — see the `t14_training_order` registry
    * notes. Each doc's shard and position are a pure function of
    * (doc_id, seed) via the cross-engine sha256-prefix hash.
    *
    * @param shards number of shards, i.e. the parallelism of the final
    *   per-shard sort — tie it to the target cluster's task slots (a 100
    *   TB run wants thousands; the registry default 8 matches the fixed
    *   oracle). Shard assignment is h60 mod shards, so the same seed
    *   with a different shard count still yields a deterministic order.
    */
  def trainingOrder(docs: DataFrame, shards: Int = 8,
      seed: String = "shuffle42"): DataFrame = {
    require(shards > 0, s"shards must be positive, got $shards")
    val h = docs
      .select(col("doc_id"),
        graft.llm.Dedup.hash60(concat(lit(s"$seed|"), col("doc_id").cast("string")))
          .as("h60"))
      .withColumn("shard", col("h60") % shards)
    // shard count is FIXED (default 8), so a Window.partitionBy(shard)
    // would sort N/shards rows in one task at the 100 TB point — the
    // r12 bounded two-pass rank spreads each shard's extent over many
    // range partitions instead (the groupedRunningSum scale rule)
    graft.operators.Relational
      .groupedRowNumber(h, Seq("shard"), Seq(col("h60"), col("doc_id")), "pos")
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** Fixed 32-token context windows with stride 24 (8-token overlap) per
    * doc — see the `t11_chunking` registry notes. A window is emitted only
    * if it contributes at least one new token: k = 0 .. ⌊(n_tok−9)/24⌋.
    */
  def chunk(docs: DataFrame, window: Int = 32, stride: Int = 24): DataFrame =
    Tables.spread(docs)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("ts"))
      .select(col("doc_id"), col("ts"),
        explode(sequence(lit(0L),
          greatest(floor((size(col("ts")) - (window - stride) - 1) / stride.toDouble),
            lit(0L)))).as("k"))
      .select(col("doc_id"), col("k").as("chunk_id"),
        slice(col("ts"), (col("k") * stride + 1).cast("int"), lit(window)).as("ctoks"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("ctoks")).cast("long").as("n_tokens"),
        array_join(col("ctoks"), " ").as("chunk_text"))

  /** [[chunk]] re-metered in LEARNED-BPE tokens (r16, t45 — the r15
    * verdict's #3: t40 measured the 64-token context admitting ~1.3×
    * fewer learned tokens than whitespace says, and chunk boundaries
    * ARE the max_seq_len decision). Same window/stride law over the
    * doc's BPE token SEQUENCE instead of its whitespace words: the
    * token array is materialized ONCE per doc in its own projection
    * (the Generate-recompute rule — the expensive tokenize never sits
    * beside the explode), then sliced per window. `chunk_text` is the
    * window's tokens concatenated — token streams have no whitespace to
    * restore; content is preserved (concat(tokens) == stripped text,
    * property-tested), word boundaries are the tokenizer's business.
    * Scale shape identical to t11: pure scan-side row amplification,
    * no shuffle.
    */
  def chunkBpe(docs: DataFrame, merges: Seq[(String, String)],
      window: Int = 32, stride: Int = 24): DataFrame =
    Tables.spread(docs)
      .select(col("doc_id"),
        graft.functions.Bpe.tokens(col("text"), merges).as("ts"))
      .select(col("doc_id"), col("ts"),
        explode(sequence(lit(0L),
          greatest(floor((size(col("ts")) - (window - stride) - 1) / stride.toDouble),
            lit(0L)))).as("k"))
      .select(col("doc_id"), col("k").as("chunk_id"),
        slice(col("ts"), (col("k") * stride + 1).cast("int"), lit(window)).as("ctoks"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("ctoks")).cast("long").as("n_tokens"),
        array_join(col("ctoks"), "").as("chunk_text"))

  /** t12's temperature-scaled source mixture, parameterized by the
    * meter (r16 — the t42 pattern applied to the τ-tempered family):
    * per-source token share p_i re-weighted as p_i^τ / Σ p_j^τ. The
    * float work happens on |sources| rows; 6-dp rounding sits far from
    * any boundary at that cardinality (15 rounds of t12 hashes agree).
    */
  def sourceMixture(docs: DataFrame,
      meter: Column = size(split(trim(col("text")), "\\s+")).cast("long"),
      tau: Double = 0.7): DataFrame = {
    val c = Tables.spread(docs)
      .select(col("source"), meter.as("n"))
      .groupBy(col("source")).agg(sum(col("n")).as("n_tok"))
    val tot = c.agg(sum(col("n_tok")).as("tot"))
    val p = c.crossJoin(broadcast(tot))
      .withColumn("p", col("n_tok") / col("tot"))
    val z = p.agg(sum(pow(col("p"), tau)).as("z"))
    p.crossJoin(broadcast(z))
      .select(col("source"), col("n_tok"),
        round(col("p"), 6).as("token_share"),
        round(pow(col("p"), tau) / col("z"), 6).as("mixture_weight"))
  }

  def registry: Seq[OpQuery] = Seq(

    // ---- corpus stats per language (metadata aggregation) ----------------
    sql("t1_lang_stats",
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(min(n_chars) AS BIGINT) AS min_chars,
        |  CAST(max(n_chars) AS BIGINT) AS max_chars,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources
        |FROM documents GROUP BY lang""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          min(col("n_chars")).cast("long").as("min_chars"),
          max(col("n_chars")).cast("long").as("max_chars"),
          countDistinct(col("source")).as("n_sources"))
    },

    // ---- token counting: whitespace + BPE-ish pre-tokenizer --------------
    sql("t2_token_counts",
      """SELECT doc_id,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpeish_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars_measured
        |FROM documents""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_ws_tokens"),
        bpeishCount(col("text")).as("n_bpeish_tokens"),
        length(col("text")).cast("long").as("n_chars_measured"))
    },

    // ---- quality scoring: length/punct/alpha/stopword ratios -------------
    // Ratios are int/int double divisions — bit-identical across engines,
    // no rounding needed.
    sql("t3_quality_score",
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars_measured,
        |  CAST(length(text) - length(regexp_replace(text, '[.,;:!?"]', '', 'g')) AS BIGINT) AS n_punct,
        |  (length(text) - length(regexp_replace(text, '[^A-Za-z]', '', 'g'))) * 1.0
        |    / length(text) AS non_alpha_ratio,
        |  CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |       x -> list_contains(['the','a','an','and','of','to','in','is','that','it','for','on','with','as'], x))) AS BIGINT)
        |    AS n_stopwords
        |FROM documents WHERE length(text) > 0""".stripMargin) { (s, d) =>
      val sw = typedLit(enStopwords)
      Tables.documents(s, d)
        .filter(length(col("text")) > 0)
        .select(
          col("doc_id"),
          length(col("text")).cast("long").as("n_chars_measured"),
          (length(col("text")) -
            length(regexp_replace(col("text"), "[.,;:!?\"]", ""))).cast("long").as("n_punct"),
          ((length(col("text")) -
            length(regexp_replace(col("text"), "[^A-Za-z]", ""))) * lit(1.0) /
            length(col("text"))).as("non_alpha_ratio"),
          size(filter(tokens(col("text")), t => array_contains(sw, t)))
            .cast("long").as("n_stopwords"))
    },

    // ---- language ID: stopword-hit argmax over a broadcast dictionary ----
    // The scale shape: explode tokens → broadcast-join the tiny dictionary
    // → per-doc per-lang counts (map-side combined) → argmax window. No
    // big-side shuffle except the per-doc aggregation.
    sql("t4_lang_id",
      """WITH dict AS (
        |  SELECT * FROM (VALUES
        |    ('en','the'),('en','a'),('en','an'),('en','and'),('en','of'),('en','to'),
        |    ('en','in'),('en','is'),('en','that'),('en','it'),('en','for'),('en','on'),
        |    ('en','with'),('en','as'),
        |    ('de','der'),('de','die'),('de','das'),('de','und'),('de','ist'),('de','nicht'),
        |    ('de','mit'),('de','ein'),('de','zu'),('de','den'),
        |    ('es','el'),('es','la'),('es','de'),('es','que'),('es','y'),('es','en'),
        |    ('es','un'),('es','es'),('es','se'),('es','no'),
        |    ('fr','le'),('fr','les'),('fr','et'),('fr','une'),('fr','est'),('fr','dans'),
        |    ('fr','du'),('fr','pas'),('fr','pour'),('fr','sur'),
        |    ('zh','的'),('zh','是'),('zh','不'),('zh','了'),('zh','在'),('zh','人'),
        |    ('zh','有'),('zh','我'),('zh','他'),('zh','这')
        |  ) AS t(sw_lang, sw_word)
        |), hits AS (
        |  SELECT doc_id, sw_lang, CAST(count(*) AS BIGINT) AS n_hits
        |  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |        FROM documents WHERE length(trim(text)) > 0) tok
        |  JOIN dict ON token = sw_word
        |  GROUP BY doc_id, sw_lang
        |), best AS (
        |  SELECT doc_id, sw_lang, n_hits,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY n_hits DESC, sw_lang) AS rn
        |  FROM hits
        |)
        |SELECT d.doc_id, coalesce(b.sw_lang, 'und') AS pred_lang,
        |  coalesce(b.n_hits, 0) AS n_hits, d.lang AS labeled_lang
        |FROM documents d LEFT JOIN best b ON b.doc_id = d.doc_id AND b.rn = 1""".stripMargin) { (s, d) =>
      import s.implicits._
      val dict = broadcast(stopwordDict.toDF("sw_lang", "sw_word"))
      val docs = Tables.documents(s, d)
      val hits = docs
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        .join(dict, col("token") === col("sw_word"))
        .groupBy(col("doc_id"), col("sw_lang"))
        .agg(count(lit(1)).as("n_hits"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("n_hits").desc, col("sw_lang"))
      val best = hits.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      docs.select(col("doc_id"), col("lang").as("labeled_lang"))
        .join(best.select(col("doc_id"), col("sw_lang"), col("n_hits")), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("sw_lang"), lit("und")).as("pred_lang"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          col("labeled_lang"))
    },

    // ---- TF-IDF for high-signal terms ------------------------------------
    // tf = term count in doc; idf = ln(N/df). The classic relevance
    // weighting, restricted to terms appearing in < 40% of docs (stopword
    // cut) and scores rounded to 6dp (ln differs between libms in the
    // last ulp). Shape at scale: explode → two keyed aggregations, both
    // map-side combined; tf⋈df is a SHUFFLE join on term — the docfreq
    // side is the corpus vocabulary, which grows with corpus size
    // (Heaps' law: typos/URLs/numbers), so it must never carry a
    // broadcast hint (AQE still broadcasts when genuinely small). Both
    // sides arrive already hash-partitioned by term from their own
    // aggregations, so the join adds no extra exchange.
    sql("t6_tfidf",
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents WHERE length(trim(text)) > 0
        |), tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM tok GROUP BY doc_id, term
        |), df AS (
        |  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |  FROM tok GROUP BY term
        |), n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents)
        |SELECT tf.doc_id, tf.term, tf.tf,
        |  round(tf.tf * ln(n.n_docs / df.df), 6) AS tfidf
        |FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
        |WHERE df.df < 0.4 * n.n_docs""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val tok = docs.filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      val tf = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val df = tok.groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))
      val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
      tf.join(df, Seq("term"))
        .crossJoin(broadcast(n))
        .filter(col("df") < lit(0.4) * col("n_docs"))
        .select(col("doc_id"), col("term"), col("tf"),
          round(col("tf") * log(col("n_docs") / col("df")), 6).as("tfidf"))
    },

    // ---- PII redaction: mask emails / long digit runs --------------------
    // The pre-training scrub pass. Counts surface per pattern; the
    // redacted text itself is proven byte-equal across engines via its
    // SHA-256 (emitting a digest instead of megabytes of text). Patterns
    // stay in the Java∩RE2 common subset so both engines match the same
    // spans. One scan, no shuffle.
    sql("t7_redact_pii",
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '\d{4,}')) AS BIGINT) AS n_long_nums,
        |  sha256(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\d{4,}', '<NUM>', 'g')) AS redacted_hash
        |FROM documents""".stripMargin) { (s, d) =>
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val numRe = "\\d{4,}"
      Tables.documents(s, d).select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(emailRe), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(col("text"), lit(numRe), lit(0))).cast("long").as("n_long_nums"),
        sha2(regexp_replace(regexp_replace(col("text"), emailRe, "<EMAIL>"),
          numRe, "<NUM>"), 256).as("redacted_hash"))
    },

    // ---- repetition metrics: dup-token and top-token ratios --------------
    // The "degenerate document" quality signals (boilerplate, keyword
    // stuffing): explode → per-(doc, token) counts (map-side combined) →
    // per-doc closed forms from exact integer sums.
    sql("t8_repetition",
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS t
        |  FROM documents WHERE length(trim(text)) > 0
        |), tf AS (
        |  SELECT doc_id, t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY doc_id, t
        |)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  1.0 - CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS repetition_ratio,
        |  CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_token_ratio
        |FROM tf GROUP BY doc_id""".stripMargin) { (s, d) =>
      val tok = Tables.documents(s, d)
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      val tf = tok.groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
      tf.groupBy(col("doc_id")).agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        (lit(1.0) - count(lit(1)).cast("double") / sum(col("c")).cast("double"))
          .as("repetition_ratio"),
        (max(col("c")).cast("double") / sum(col("c")).cast("double")).as("top_token_ratio"))
    },

    // ---- sequence packing: bin docs into fixed token budgets -------------
    // The training-batch prep step: greedy-by-order packing of documents
    // into ~2048-token bins, deterministic (ordered by doc_id) and
    // partitioned by source so the running sum distributes — each
    // source's packing is independent, no global sequential scan. A doc
    // larger than the budget gets its own bin (ceil semantics of the
    // running sum keep both engines identical: integer arithmetic only).
    sql("t9_sequence_packing",
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tok
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, source, n_tok,
        |    SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t
        |)
        |SELECT doc_id, source, n_tok,
        |  CAST((cum - n_tok) // 2048 AS BIGINT) AS pack_id
        |FROM r""".stripMargin) { (s, d) =>
      // Two-pass distributed cumsum (Relational.groupedRunningSum): a
      // partitionBy(source) window would put each source's whole extent
      // on one task — multi-TB sorts at the 100 TB point.
      val t = Tables.documents(s, d).select(
        col("doc_id"), col("source"),
        bpeishCount(col("text")).as("n_tok"))
      graft.operators.Relational
        .groupedRunningSum(t, Seq("source"), Seq(col("doc_id")), col("n_tok"), "cum")
        .select(col("doc_id"), col("source"), col("n_tok"),
          floor((col("cum") - col("n_tok")) / lit(2048)).cast("long").as("pack_id"))
    },

    // ---- context chunking: 32-token windows with 8-token overlap ---------
    // The long-document prep step: split each doc into fixed token
    // windows (stride 24, so consecutive chunks share 8 tokens of
    // context). A chunk is emitted only if it contributes at least one
    // new token (k == 0 or n_tok >= 24k+9), so short docs yield exactly
    // one chunk and no chunk is a subset of its predecessor. Pure
    // scan-side row amplification — no shuffle at all; at 100 TB this is
    // map-only work at scan bandwidth.
    sql("t11_chunking",
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts FROM documents
        |), k AS (
        |  SELECT doc_id, ts,
        |    unnest(range(0, greatest((len(ts) - 9) // 24, 0) + 1)) AS k
        |  FROM toks
        |)
        |SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
        |  CAST(len(ts[k*24+1:k*24+32]) AS BIGINT) AS n_tokens,
        |  array_to_string(ts[k*24+1:k*24+32], ' ') AS chunk_text
        |FROM k""".stripMargin) { (s, d) =>
      chunk(Tables.documents(s, d))
    },

    // ---- source mixture weights: temperature-scaled sampling -------------
    // The data-mixing step of every LLM training run: per-source token
    // share p_i, re-weighted as p_i^τ / Σ p_j^τ (τ = 0.7 — upsamples
    // small high-quality sources, the GPT-3/LLaMA recipe). All-integer
    // token counts; the float work happens on |sources| rows (tiny), so
    // the 6-dp rounding is far from any boundary. Scale: ONE corpus scan
    // → one partial-agg shuffle on source; the corpus-wide total and the
    // normalizer z are 1-row aggregates of the |sources| frame rejoined
    // as broadcast cross-joins (exchange reuse keeps the corpus agg
    // single-scan — plan-asserted) — no unpartitioned Window, so no
    // single-partition WindowExec and no per-run warning flood in the
    // 100×-scale logs.
    sql("t12_source_mixture",
      """WITH c AS (
        |  SELECT source,
        |    CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tok
        |  FROM documents GROUP BY source
        |), t AS (SELECT sum(n_tok) AS tot FROM c),
        |p AS (SELECT source, n_tok, n_tok * 1.0 / tot AS p FROM c, t),
        |z AS (SELECT sum(pow(p, 0.7)) AS z FROM p)
        |SELECT source, n_tok, round(p, 6) AS token_share,
        |  round(pow(p, 0.7) / z, 6) AS mixture_weight
        |FROM p, z""".stripMargin) { (s, d) =>
      sourceMixture(Tables.documents(s, d))
    },

    // ---- unigram log-prob quality score (perplexity proxy) ---------------
    // The CCNet-style quality signal (a KenLM stand-in the container can
    // hold): score each doc by its mean token log-probability under the
    // corpus unigram distribution — repetitive/boilerplate docs score
    // high, rare-token noise scores low. Scale: the vocab aggregate is a
    // partial-agg shuffle on token; the scoring join is a SHUFFLE join
    // on the token — the vocab is corpus-derived and open (Heaps' law:
    // distinct tokens keep growing with corpus size), so no broadcast
    // hint; the token stream is already keyed by t on both sides and
    // AQE will still broadcast a genuinely small vocab. Per-doc mean is
    // one more partial agg. 6-dp rounding absorbs partial-sum order.
    sql("t13_unigram_logprob",
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS t
        |  FROM documents
        |), vc AS (
        |  SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY t
        |), tot AS (SELECT sum(c) AS n FROM vc),
        |sc AS (
        |  SELECT doc_id, ln(c * 1.0 / n) AS lp FROM tok JOIN vc USING (t), tot
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        |  round(sum(lp) / count(*), 6) AS avg_logprob
        |FROM sc GROUP BY doc_id""".stripMargin) { (s, d) =>
      val tok = Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("t"))
      val vc = tok.groupBy(col("t")).agg(count(lit(1)).as("c"))
      val tot = vc.agg(sum(col("c")).as("n"))
      tok.join(vc, Seq("t"))
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), log(col("c") * lit(1.0) / col("n")).as("lp"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"),
          round(sum(col("lp")) / count(lit(1)), 6).as("avg_logprob"))
    },

    // ---- quality bucketing + deterministic curriculum sampling -----------
    // The DataComp/DCLM-style quality pipeline tail: score every doc by
    // the t13 perplexity proxy, cut the corpus into quintiles at exact
    // percentile boundaries, and keep a deterministic per-bucket sample
    // (keep rate rising with quality: 20/40/60/80/100%) — the seeded
    // cross-engine hash makes the keep decision a pure function of
    // doc_id, reproducible on any engine/partitioning (the t14/q61
    // property). Scale notes: the scoring is the t13 shape (keyed
    // shuffle joins, no vocab broadcast); the four cut points are ONE
    // 4-double row (bounded — broadcast is correct); exact percentile
    // funnels values to one reducer, so at 100 TB the cuts come from
    // approx_percentile or a bounded deterministic sample instead (the
    // q64 posture) — exact here because it is what DuckDB can replay.
    sql("t16_quality_buckets", {
      val parse15 = "CAST(list_sum([CAST(strpos('0123456789abcdef', substr(hx, j+1, 1)) - 1 AS BIGINT) << (4*(14-j)) FOR j IN range(15)]) AS BIGINT)"
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
         |  FROM documents
         |), vc AS (
         |  SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY t
         |), tot AS (SELECT sum(c) AS n FROM vc),
         |lp AS (
         |  SELECT doc_id, round(sum(ln(c * 1.0 / n)) / count(*), 6) AS avg_logprob
         |  FROM tok JOIN vc USING (t), tot GROUP BY doc_id
         |), cuts AS (
         |  SELECT quantile_cont(avg_logprob, 0.2) AS c1,
         |         quantile_cont(avg_logprob, 0.4) AS c2,
         |         quantile_cont(avg_logprob, 0.6) AS c3,
         |         quantile_cont(avg_logprob, 0.8) AS c4
         |  FROM lp
         |), b AS (
         |  SELECT doc_id, avg_logprob,
         |    CAST((CASE WHEN avg_logprob > c1 THEN 1 ELSE 0 END)
         |       + (CASE WHEN avg_logprob > c2 THEN 1 ELSE 0 END)
         |       + (CASE WHEN avg_logprob > c3 THEN 1 ELSE 0 END)
         |       + (CASE WHEN avg_logprob > c4 THEN 1 ELSE 0 END) AS BIGINT) AS bucket
         |  FROM lp, cuts
         |), h AS (
         |  SELECT doc_id, $parse15 AS h60
         |  FROM (SELECT doc_id, substr(sha256('qb42|' || CAST(doc_id AS VARCHAR)), 1, 15) AS hx
         |        FROM documents) t
         |)
         |SELECT b.doc_id, b.avg_logprob, b.bucket,
         |  CAST([20,40,60,80,100][CAST(b.bucket AS INT) + 1] AS BIGINT) AS keep_pct,
         |  h.h60 % 100 < [20,40,60,80,100][CAST(b.bucket AS INT) + 1] AS keep
         |FROM b JOIN h ON h.doc_id = b.doc_id""".stripMargin
    }) { (s, d) =>
      val tok = Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("t"))
      val vc = tok.groupBy(col("t")).agg(count(lit(1)).as("c"))
      val tot = vc.agg(sum(col("c")).as("n"))
      val lp = tok.join(vc, Seq("t"))
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), log(col("c") * lit(1.0) / col("n")).as("lpt"))
        .groupBy(col("doc_id"))
        .agg(round(sum(col("lpt")) / count(lit(1)), 6).as("avg_logprob"))
      val cuts = lp.agg(
        percentile(col("avg_logprob"), lit(0.2)).as("c1"),
        percentile(col("avg_logprob"), lit(0.4)).as("c2"),
        percentile(col("avg_logprob"), lit(0.6)).as("c3"),
        percentile(col("avg_logprob"), lit(0.8)).as("c4"))
      val rates = array(lit(20L), lit(40L), lit(60L), lit(80L), lit(100L))
      lp.crossJoin(broadcast(cuts))
        .withColumn("bucket",
          (col("avg_logprob") > col("c1")).cast("long")
            + (col("avg_logprob") > col("c2")).cast("long")
            + (col("avg_logprob") > col("c3")).cast("long")
            + (col("avg_logprob") > col("c4")).cast("long"))
        .withColumn("keep_pct", element_at(rates, (col("bucket") + 1).cast("int")))
        .withColumn("keep",
          graft.llm.Dedup.hash60(concat(lit("qb42|"), col("doc_id").cast("string")))
            % 100 < col("keep_pct"))
        .select(col("doc_id"), col("avg_logprob"), col("bucket"),
          col("keep_pct"), col("keep"))
    },

    // ---- deterministic training order: seeded shard + position -----------
    // Reproducible corpus shuffling for training: each doc's order is a
    // pure function of (doc_id, seed) via the cross-engine sha256-prefix
    // hash — identical on any engine, any partitioning, any day, the
    // property a resumable training run needs. Docs land in 8 shards
    // (hash mod) and are ordered within a shard by (hash, doc_id) — a
    // window keyed by shard, so at 100 TB the sort is per-shard, not
    // global; shard count scales with the cluster.
    sql("t14_training_order", {
      val parse15 = "CAST(list_sum([CAST(strpos('0123456789abcdef', substr(hx, j+1, 1)) - 1 AS BIGINT) << (4*(14-j)) FOR j IN range(15)]) AS BIGINT)"
      s"""WITH h AS (
         |  SELECT doc_id, $parse15 AS h60
         |  FROM (SELECT doc_id, substr(sha256('shuffle42|' || CAST(doc_id AS VARCHAR)), 1, 15) AS hx
         |        FROM documents) t
         |)
         |SELECT doc_id, CAST(h60 % 8 AS BIGINT) AS shard,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY h60 % 8 ORDER BY h60, doc_id) AS BIGINT) AS pos
         |FROM h""".stripMargin
    }) { (s, d) =>
      trainingOrder(Tables.documents(s, d))
    },

    // ---- document fingerprint: bottom-k sketch of char 8-gram hashes -----
    // Winnowing-style content fingerprint: rolling char 8-grams → hash →
    // keep the 8 smallest distinct hashes (the sketch) → digest. The gram
    // hash is the first 15 hex chars of SHA-256 — fixed-width lowercase
    // hex, so lexicographic order == numeric order and BOTH engines
    // compute the identical sketch (full DuckDB oracle; xxhash64 isn't
    // DuckDB-expressible). Sketch surfaces as 8 scalar columns (raw array
    // columns break the driver's canonicalizer — m2 precedent).
    //
    // Scale shape: explode gram positions (codegen'd generate + substr +
    // sha2 — the HOF `transform` formulation ran interpreted), then ONE
    // shuffle keyed by doc_id whose payload is bounded at 8 values per
    // (task, doc): the bottom-k sketch is a typed Aggregator
    // ([[graft.functions.BottomKDistinct]]) with partial aggregation, not
    // a collect_set of every distinct gram.
    sql("t5_fingerprint", {
      val sk = (0 until 8).map(k => s"sketch[${k + 1}] AS s$k").mkString(", ")
      val fp = (1 to 8).map(k => s"sketch[$k]").mkString(", ")
      s"""WITH g AS (
         |  SELECT doc_id, substr(sha256(substr(text, CAST(i AS INTEGER), 8)), 1, 15) AS gk
         |  FROM (SELECT doc_id, text,
         |          unnest(range(1, greatest(length(text) - 7, 1) + 1)) AS i
         |        FROM documents) t
         |), sk AS (
         |  SELECT doc_id, list_sort(list_distinct(list(gk))) AS sketch
         |  FROM g GROUP BY doc_id
         |)
         |SELECT doc_id, $sk,
         |  sha256(concat_ws(',', $fp)) AS fingerprint
         |FROM sk""".stripMargin
    }) { (s, d) =>
      val grams = Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(1), greatest(length(col("text")) - 7, lit(1)))).as("i"))
        .select(col("doc_id"),
          substring(sha2(col("text").substr(col("i"), lit(8)), 256), 1, 15).as("gk"))
      val bottomK = udaf(new graft.functions.BottomKDistinct(8),
        org.apache.spark.sql.Encoders.STRING)
      val sk = grams.groupBy(col("doc_id"))
        .agg(bottomK(col("gk")).as("sketch"))
      val sCols = (0 until 8).map(k => get(col("sketch"), lit(k)).as(s"s$k"))
      sk.select(col("doc_id") +: sCols: _*)
        .withColumn("fingerprint",
          sha2(concat_ws(",", (0 until 8).map(k => col(s"s$k")): _*), 256))
    },

    // ---- bigram LM perplexity proxy (t13's sequential upgrade) -----------
    // Per-doc mean log P(w2 | w1) under an add-0.5-smoothed bigram model
    // trained on the corpus itself — the CCNet/Gopher-style perplexity
    // filter, one Markov order up from t13 (which scores tokens
    // independently and so can't see scrambled word order). Bigrams come
    // from ONE window pass (lead over doc position — same shuffle key as
    // every per-doc stage); the bigram and unigram count tables are
    // CORPUS-DERIVED and meet the token stream in keyed shuffle joins,
    // never broadcast (the d9/t13 posture — at 100 TB the bigram
    // vocabulary is itself TB-scale). The only broadcast is the 1-row
    // vocabulary size. 6-dp rounding absorbs partial-sum order.
    sql("t17_bigram_logprob",
      s"""WITH $bigramLmCtes
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  round(sum(lp) / count(*), 6) AS avg_logprob
         |FROM sc GROUP BY doc_id""".stripMargin) { (s, d) =>
      bigramLogprob(s, d)
    },

    // ---- perplexity buckets: the CCNet head/middle/tail split ------------
    // The standard corpus-quality partition: score every doc with the
    // corpus-trained bigram LM (t17's frame, shared code AND shared
    // oracle CTEs) and split the corpus at the terciles of avg_logprob —
    // `head` (most fluent third) / `middle` / `tail` (candidates for
    // down-sampling or drop). Thresholds are EXACT interpolated
    // percentiles over the 6-dp-rounded scores (both engines interpolate
    // rank q·(n−1) linearly; rounding both the inputs and the boundary
    // pins cross-engine equality — the q38 precedent). Scale shape:
    // t17's keyed shuffles plus ONE exact-percentile aggregation whose
    // buffer is bounded by the distinct rounded scores; at 100 TB swap
    // in approx_percentile (the q64 sketch path) — a 1-scalar change on
    // the same plan. The 2-value threshold row rides a broadcast
    // cross-join (parameter-bounded, never corpus-sized).
    sql("t20_perplexity_buckets",
      s"""WITH $bigramLmCtes, d AS (
         |  SELECT doc_id, round(sum(lp) / count(*), 6) AS avg_logprob
         |  FROM sc GROUP BY doc_id
         |), th AS (
         |  SELECT round(quantile_cont(avg_logprob, 1.0/3.0), 6) AS q33,
         |         round(quantile_cont(avg_logprob, 2.0/3.0), 6) AS q67
         |  FROM d
         |)
         |SELECT d.doc_id, d.avg_logprob,
         |  CASE WHEN d.avg_logprob >= th.q67 THEN 'head'
         |       WHEN d.avg_logprob >= th.q33 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM d, th""".stripMargin) { (s, d) =>
      // the lp frame feeds BOTH the threshold aggregate and the output
      // row set; consumed twice from a live plan it would re-run the
      // corpus-wide bigram pipeline (the dominant cost) once per
      // consumer — spill the doc-level scores once (the d20 pattern;
      // same session spill ledger, released by Verify/Bench per query)
      val lmDir = Dedup.spillRun(s, None, "t20_perplexity_buckets", "lm")
      bigramLogprob(s, d).select(col("doc_id"), col("avg_logprob"))
        .write.mode("overwrite").parquet(lmDir)
      val lp = s.read.parquet(lmDir)
      val th = lp.agg(
        round(percentile(col("avg_logprob"), lit(1.0 / 3)), 6).as("q33"),
        round(percentile(col("avg_logprob"), lit(2.0 / 3)), 6).as("q67"))
      lp.crossJoin(broadcast(th))
        .select(col("doc_id"), col("avg_logprob"),
          when(col("avg_logprob") >= col("q67"), "head")
            .when(col("avg_logprob") >= col("q33"), "middle")
            .otherwise("tail").as("bucket"))
    },

    // ---- n-gram novelty: curriculum signal for corpus ordering -----------
    // Per doc, the fraction of its distinct word 5-grams whose FIRST
    // corpus occurrence (min doc_id) is this doc — near-1 means fresh
    // content, near-0 means the doc restates earlier material (the
    // doc_id-order novelty curve used to sequence training data, and a
    // soft dedup signal between d1's exact and d3's near match). Scale
    // shape: the first-occurrence table is corpus-derived — grams meet
    // it in a KEYED shuffle join on the 8-byte xxhash64 gram key (d9's
    // posture, never broadcast); per-doc fraction is one partial agg.
    // The oracle joins on gram STRINGS — equal results barring 64-bit
    // collisions (the d9/d11 precedent).
    sql("t18_ngram_novelty",
      """WITH g AS (
        |  SELECT doc_id, unnest(list_distinct([array_to_string(ts[i:i+4], ' ')
        |    FOR i IN range(1, greatest(len(ts) - 4, 1) + 1)])) AS gr
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts
        |        FROM documents) t
        |), firsts AS (
        |  SELECT gr, min(doc_id) AS first_doc FROM g GROUP BY gr
        |)
        |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  round(CAST(count(*) FILTER (f.first_doc = g.doc_id) AS DOUBLE)
        |    / count(*), 6) AS novelty
        |FROM g JOIN firsts f ON f.gr = g.gr
        |GROUP BY g.doc_id""".stripMargin) { (s, d) =>
      // gram rows via explode-over-indices off a tokenized COLUMN (the
      // tokenNgramRows shape): the earlier nested-HOF form re-evaluated
      // split(trim(text)) inside the lambda per element — quadratic per
      // doc and interpreted; this runs codegen'd and tokenizes once.
      // distinct on (doc_id, gh) ≡ the oracle's per-doc list_distinct.
      val grams = Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("ts"))
        .select(col("doc_id"),
          explode(sequence(lit(1), greatest(size(col("ts")) - 4, lit(1)))).as("i"),
          col("ts"))
        .select(col("doc_id"),
          xxhash64(array_join(slice(col("ts"), col("i"), lit(5)), " ")).as("gh"))
        .distinct()
      val firsts = grams.groupBy(col("gh")).agg(min(col("doc_id")).as("first_doc"))
      grams.join(firsts, Seq("gh"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          round(sum((col("first_doc") === col("doc_id")).cast("double"))
            / count(lit(1)), 6).as("novelty"))
    },

    // ---- Zipf fit: the corpus-statistics health check --------------------
    // OLS of ln(freq) on ln(rank) over the top-1000 tokens — natural text
    // sits near slope -1; a corpus drifting toward 0 (flat) signals
    // boilerplate/template flooding, steeper signals vocabulary collapse.
    // The regression runs over AT MOST 1000 aggregate rows (orderBy +
    // limit is a distributed TakeOrdered; the rank window then touches
    // only those bounded rows), so nothing here scales with the corpus
    // except the token count — one keyed shuffle. Slope/intercept/r²
    // from the closed-form sums, 6-dp rounded to absorb engine-order ulp.
    sql("t19_zipf_fit",
      """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS t FROM documents
        |), vc AS (
        |  SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY t
        |), ranked AS (
        |  SELECT ln(ROW_NUMBER() OVER (ORDER BY c DESC, t)) AS lr, ln(c) AS lf
        |  FROM vc ORDER BY c DESC, t LIMIT 1000
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_tokens,
        |  round(regr_slope(lf, lr), 6) AS zipf_slope,
        |  round(regr_intercept(lf, lr), 6) AS zipf_intercept,
        |  round(regr_r2(lf, lr), 6) AS r2
        |FROM ranked""".stripMargin) { (s, d) =>
      val vc = Tables.spread(Tables.documents(s, d))
        .select(explode(split(trim(col("text")), "\\s+")).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("c"))
      val top = vc.orderBy(col("c").desc, col("t")).limit(1000)
      // Rank via the two-pass distributed row number (constant group):
      // an unpartitioned Window would be correct on ≤1000 post-limit
      // rows but emits WindowExec's "No Partition Defined" warning on
      // every execution — the r6 log tail was 100% this flood. (A
      // foldable lit() partition key gets constant-folded back to an
      // empty spec; groupedRowNumber partitions by spark_partition_id,
      // which doesn't fold.)
      val ranked = graft.operators.Relational.groupedRowNumber(
          top.withColumn("__g", lit(0)),
          Seq("__g"), Seq(col("c").desc, col("t")), "rk")
        .withColumn("lr", log(col("rk").cast("double")))
        .withColumn("lf", log(col("c").cast("double")))
      ranked.agg(
        count(lit(1)).as("n"),
        sum(col("lr")).as("sx"), sum(col("lf")).as("sy"),
        sum(col("lr") * col("lr")).as("sxx"),
        sum(col("lf") * col("lf")).as("syy"),
        sum(col("lr") * col("lf")).as("sxy"))
        .select(col("n").as("n_tokens"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("zipf_slope"),
          round((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")) / col("n"), 6)
            .as("zipf_intercept"),
          round(pow(col("n") * col("sxy") - col("sx") * col("sy"), 2) /
            ((col("n") * col("sxx") - col("sx") * col("sx")) *
              (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("r2"))
    },

    // ---- token-budget mixture resampling ---------------------------------
    // The step between t12's mixture WEIGHTS and an actual training set:
    // given per-source mixture weights (here 3× for four boosted sources —
    // the "upweight wiki/books, downsample crawl" recipe) and a global
    // budget of HALF the corpus tokens, compute each source's acceptance
    // threshold and take a deterministic hash sample at exactly that
    // rate. Membership is a pure function of doc_id (q61's hash60
    // contract): reruns, retries, and partition layout all select the
    // same docs, and a source whose target exceeds its actual tokens is
    // kept whole (threshold caps at the modulus). All threshold float
    // math happens on |sources| rows in one fixed operation order, so
    // Spark and DuckDB agree bit-for-bit; everything corpus-sized is
    // integer. Scale: one partial-agg shuffle on source for the totals;
    // the |sources|-row rate table meets the doc stream in a KEYED join
    // on source (corpus-derived — no broadcast hint; AQE may still
    // choose one at real scale), then one more partial agg. The two
    // 1-row/`|sources|`-row frames ride broadcast cross-joins.
    sql("t21_token_budget_sample", {
      val h = "CAST(list_sum([CAST(strpos('0123456789abcdef', substr(substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15), j+1, 1)) - 1 AS BIGINT) << (4*(14-j)) FOR j IN range(15)]) AS BIGINT)"
      s"""WITH docs AS (
         |  SELECT doc_id, source,
         |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tok,
         |    $h AS hh
         |  FROM documents
         |), totals AS (
         |  SELECT source, sum(n_tok) AS src_tok,
         |    CAST(CASE WHEN source IN ('src0','src1','src2','src3')
         |         THEN 3 ELSE 1 END AS BIGINT) AS w
         |  FROM docs GROUP BY source
         |), grand AS (
         |  SELECT sum(src_tok) AS tot_tok, sum(w) AS sum_w FROM totals
         |), rates AS (
         |  SELECT t.source, t.src_tok, t.w,
         |    least(CAST(1000000 AS BIGINT),
         |      CAST(floor((500000.0 * g.tot_tok * t.w) / g.sum_w / t.src_tok)
         |        AS BIGINT)) AS thr
         |  FROM totals t CROSS JOIN grand g
         |), kept AS (
         |  SELECT d.source, CAST(count(*) AS BIGINT) AS kept_docs,
         |    CAST(sum(d.n_tok) AS BIGINT) AS kept_tokens
         |  FROM docs d JOIN rates r ON r.source = d.source
         |  WHERE d.hh % 1000000 < r.thr GROUP BY d.source
         |)
         |SELECT r.source, CAST(r.src_tok AS BIGINT) AS tokens_before, r.w,
         |  r.thr, coalesce(k.kept_docs, 0) AS kept_docs,
         |  coalesce(k.kept_tokens, 0) AS kept_tokens
         |FROM rates r LEFT JOIN kept k ON k.source = r.source""".stripMargin
    }) { (s, d) =>
      val docs = Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), col("source"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"),
          Dedup.hash60(col("doc_id").cast("string")).as("hh"))
      val totals = docs.groupBy(col("source")).agg(sum(col("n_tok")).as("src_tok"))
        .withColumn("w",
          when(col("source").isin("src0", "src1", "src2", "src3"), lit(3L))
            .otherwise(lit(1L)))
      val grand = totals.agg(sum(col("src_tok")).as("tot_tok"),
        sum(col("w")).as("sum_w"))
      val rates = totals.crossJoin(broadcast(grand))
        .withColumn("thr", least(lit(1000000L),
          floor(lit(500000.0) * col("tot_tok") * col("w")
            / col("sum_w") / col("src_tok")).cast("long")))
      val kept = docs.join(rates.select(col("source"), col("thr")), Seq("source"))
        .filter(col("hh") % 1000000L < col("thr"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("kept_docs"), sum(col("n_tok")).as("kept_tokens"))
      rates.join(kept, Seq("source"), "left")
        .select(col("source"), col("src_tok").as("tokens_before"), col("w"),
          col("thr"), coalesce(col("kept_docs"), lit(0L)).as("kept_docs"),
          coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
    },

    // ---- certified-exact heavy hitters: sketch + recount -----------------
    // Top-10 corpus tokens WITHOUT a full-vocabulary shuffle: pass 1
    // reduces every partition to a ≤64-counter Misra–Gries sketch
    // (merged associatively — O(m·partitions) map entries cross the
    // wire, vs the open vocabulary t13/t19 must shuffle); pass 2
    // recounts ONLY the sketch's candidate tokens exactly. The MG merge
    // bound (undercount ≤ N/(m+1)) certifies the answer: any token
    // absent from the sketch has true count ≤ N/(m+1), so if the
    // recounted 10th count exceeds that bound the top-10 is provably
    // the global top-10 — checked in-query; a corpus that breaks the
    // certificate raises instead of returning silently-approximate
    // rows. That makes the full exact-SQL oracle legitimate. The two
    // bounded driver round-trips (1-row sketch, ≤10-row result rank)
    // are the sanctioned scalar class; candidates reach pass 2 as ≤64
    // literals, not a corpus-derived broadcast.
    sql("t22_heavy_hitters",
      """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS t
        |  FROM documents
        |), cts AS (
        |  SELECT t, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY t
        |)
        |SELECT t AS token, cnt, CAST(rk AS BIGINT) AS rnk FROM (
        |  SELECT t, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, t) AS rk
        |  FROM cts) x
        |WHERE rk <= 10""".stripMargin) { (s, d) =>
      val m = 64
      val k = 10
      val mgf = udaf(new graft.functions.MisraGries(m),
        org.apache.spark.sql.Encoders.STRING)
      val tok = Tables.spread(Tables.documents(s, d))
        .select(explode(split(trim(col("text")), "\\s+")).as("t"))
      val skRow = tok.agg(mgf(col("t")).as("sk"), count(lit(1)).as("n")).head()
      val cands = skRow.getMap[String, Long](0).keys.toSeq.sorted
      val n = skRow.getLong(1)
      val bound = n.toDouble / (m + 1)
      val top = candidateRecount(tok, cands, k)
      graft.operators.Relational.groupedRowNumber(
          top.withColumn("__g", lit(0)),
          Seq("__g"), Seq(col("cnt").desc, col("t")), "rnk")
        .select(col("t").as("token"),
          when(col("cnt").cast("double") <= lit(bound),
            raise_error(concat(lit(s"MG certificate broken (bound $bound): "),
              col("t"), lit(" cnt="), col("cnt").cast("string"))).cast("long"))
            .otherwise(col("cnt")).as("cnt"),
          col("rnk"))
    },

    // ---- Gopher-style quality rules --------------------------------------
    // The published rule battery (Rae et al., "Scaling Language Models:
    // Gopher", 2021 §A1.1; the MassiveWeb filter): token-count range,
    // mean-word-length range, stopword floor, and a single-token
    // dominance cap (the "repetitive garbage" cut). Every rule compares
    // INTEGERS (counts cross-multiplied against the thresholds — e.g.
    // stopwords·100 ≥ n rather than ratio ≥ 0.01), so no float boundary
    // exists for the engines to disagree on; the one emitted ratio is
    // 6-dp display only. Scale: single scan → two keyed partial aggs
    // ((doc, token) then doc) — the dominance rule rides the same
    // shuffle as the count stats; nothing corpus-derived joins back.
    sql("t23_gopher_rules", {
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
         |  FROM documents
         |), g AS (
         |  SELECT doc_id, t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
         |), f AS (
         |  SELECT doc_id, sum(c) AS n, sum(c * len(t)) AS chars,
         |    sum(CASE WHEN t IN $stopwordsInList THEN c ELSE 0 END) AS stop_c,
         |    max(c) AS mx
         |  FROM g GROUP BY doc_id
         |)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_tok,
         |  round(chars * 1.0 / n, 6) AS mean_wlen,
         |  (n BETWEEN 50 AND 100000) AS ok_ntok,
         |  (chars >= 3 * n AND chars <= 10 * n) AS ok_wlen,
         |  (stop_c * 100 >= n) AS ok_stop,
         |  (mx * 10 <= n) AS ok_dom,
         |  ((n BETWEEN 50 AND 100000) AND (chars >= 3 * n AND chars <= 10 * n)
         |    AND (stop_c * 100 >= n) AND (mx * 10 <= n)) AS keep
         |FROM f""".stripMargin
    }) { (s, d) =>
      gopherRules(Tables.documents(s, d))
    },

    // ---- grouped heavy hitters: per-source certified top-3 ---------------
    // t22's sketch in its most common production shape ("top terms per
    // tenant"): ONE grouped aggregation carries a ≤64-counter
    // Misra–Gries sketch per source — partial per (partition, group)
    // before the shuffle, so the wire cost is O(m·|sources|·partitions)
    // regardless of per-group vocabulary. The candidate table that
    // comes back out is corpus-derived (≤ m rows per source) and meets
    // the token stream in a KEYED shuffle join on (source, token) —
    // never a broadcast, never per-group literals. The per-group
    // certificate is t22's, integer-exact: every reported count must
    // satisfy cnt·(m+1) > N_group or the query raises — which holds
    // with ~2× margin at every SF here, and is what licenses the plain
    // exact-SQL oracle. The rank window rides the POST-aggregation
    // candidate frame (≤ m rows per group, parameter-bounded) — not a
    // per-source window over the raw corpus (the t9/d5/d16 lesson).
    sql("t24_grouped_heavy_hitters",
      """WITH tok AS (
        |  SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS t
        |  FROM documents
        |), cts AS (
        |  SELECT source, t, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1, 2
        |)
        |SELECT source, t AS token, cnt, CAST(rn AS BIGINT) AS rnk FROM (
        |  SELECT source, t, cnt,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY cnt DESC, t) AS rn
        |  FROM cts) x
        |WHERE rn <= 3""".stripMargin) { (s, d) =>
      val m = 64
      val k = 3
      val mgf = udaf(new graft.functions.MisraGries(m),
        org.apache.spark.sql.Encoders.STRING)
      // the token frame feeds BOTH the MG aggregation and the candidate
      // recount — consumed twice from a live plan it would re-scan and
      // re-tokenize the whole corpus once per consumer (r12's slowest
      // cold entry after st12; at 100 TB a second full read). Spill the
      // tokens once (the t20 artifact pattern — dictionary-encoded
      // parquet, released by Verify/Bench per query) so the second
      // consumer reads the compact artifact, not `documents`.
      val tokDir = Dedup.spillRun(s, None, "t24_grouped_heavy_hitters", "tok")
      Tables.spread(Tables.documents(s, d))
        .select(col("source"), explode(split(trim(col("text")), "\\s+")).as("t"))
        .write.mode("overwrite").parquet(tokDir)
      val tok = s.read.parquet(tokDir)
      val cands = tok.groupBy(col("source"))
        .agg(mgf(col("t")).as("sk"), count(lit(1)).as("n"))
        .select(col("source"), col("n"), explode(map_keys(col("sk"))).as("t"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("cnt").desc, col("t"))
      tok.join(cands, Seq("source", "t"))
        .groupBy(col("source"), col("t"), col("n"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= k)
        .select(col("source"), col("t").as("token"),
          when(col("cnt") * (m + 1) <= col("n"),
            raise_error(concat(lit("grouped MG certificate broken: "),
              col("source"), lit("/"), col("t"),
              lit(" cnt="), col("cnt").cast("string"),
              lit(" n="), col("n").cast("string"))).cast("long"))
            .otherwise(col("cnt")).as("cnt"),
          col("rnk"))
    },

    // ---- DSIR: hashed-n-gram importance resampling ----------------------
    // Data Selection via Importance Resampling (Xie et al., NeurIPS
    // 2023): score every raw doc by how target-like its hashed n-gram
    // feature distribution is — per-bucket log-ratio of the add-1
    // smoothed target vs raw feature probabilities, averaged over the
    // doc's feature occurrences — and keep the top quarter. Features are
    // word unigrams + bigrams hashed into a FIXED [[DsirBuckets]]-bucket
    // space with the cross-engine sha256-prefix hash (the t16/q61
    // family); the "target" here is the `lang = 'en'` slice (in
    // production: the curated target corpus). Scale shape: one token
    // pipeline feeds both the bucket-count aggregation and the scoring
    // pass (the t13 double-consume); the bucket table is
    // PARAMETER-bounded (≤ 256 rows whatever the corpus — broadcast is
    // correct, unlike a Heaps-law vocab); the global rank rides
    // [[graft.operators.Relational.globalRowNumber]]'s two-pass
    // range-partitioned form, never a single-partition Window; the doc
    // count is a 1-row broadcast. Both engines rank on the 6-dp ROUNDED
    // score with a doc_id tiebreak, so selection is deterministic.
    sql("t25_dsir_selection", {
      val parse15 = "CAST(list_sum([CAST(strpos('0123456789abcdef', substr(hx, j+1, 1)) - 1 AS BIGINT) << (4*(14-j)) FOR j IN range(15)]) AS BIGINT)"
      val m = DsirBuckets
      s"""WITH toks AS (
         |  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS ts
         |  FROM documents
         |), uni AS (
         |  SELECT doc_id, lang, unnest(ts) AS g FROM toks
         |), bi AS (
         |  SELECT doc_id, lang, unnest([array_to_string(ts[i:i+1], ' ')
         |    FOR i IN range(1, len(ts))]) AS g
         |  FROM toks WHERE len(ts) >= 2
         |), feat AS (
         |  SELECT doc_id, lang, $parse15 % $m AS b
         |  FROM (SELECT doc_id, lang, substr(sha256('$DsirSeed|' || g), 1, 15) AS hx
         |        FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi) u) h
         |), bc AS (
         |  SELECT b, CAST(count(*) AS BIGINT) AS cr,
         |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct
         |  FROM feat GROUP BY b
         |), tot AS (SELECT sum(cr) AS r, sum(ct) AS t FROM bc),
         |lam AS (
         |  SELECT b, ln((ct + 1) * 1.0 / (t + $m)) - ln((cr + 1) * 1.0 / (r + $m)) AS lam
         |  FROM bc, tot
         |), sc AS (
         |  SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_feat,
         |    round(sum(l.lam) / count(*), 6) AS dsir_score
         |  FROM feat f JOIN lam l ON l.b = f.b GROUP BY f.doc_id
         |), n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |r AS (
         |  SELECT doc_id, n_feat, dsir_score,
         |    CAST(ROW_NUMBER() OVER (ORDER BY dsir_score DESC, doc_id) AS BIGINT) AS rank
         |  FROM sc
         |)
         |SELECT doc_id, n_feat, dsir_score, rank, 4 * rank <= n.n AS selected
         |FROM r, n""".stripMargin
    }) { (s, d) =>
      dsirSelect(Tables.spread(Tables.documents(s, d)))
    },

    // ---- lexical diversity: TTR + MATTR ----------------------------------
    // The vocabulary-richness quality signal (Covington & McFall's
    // moving-average type–token ratio — length-invariant where plain
    // TTR is not): mean distinct-type count over every
    // [[MattrWindow]]-token sliding window, whole-doc TTR for shorter
    // docs. Degenerate repetitive docs (the t8/t23 target family) score
    // near the floor; varied prose near 1. All-integer distinct counts
    // folded into ONE exact sum, a single double division, 6-dp round —
    // no float accumulation to diverge. Scale shape: pure scan-side
    // HOF work (O(L·w) per doc), zero shuffles, fully codegen — the
    // whole operator rides the corpus scan.
    sql("t26_lexical_diversity", {
      val w = MattrWindow
      s"""WITH toks AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts
         |  FROM documents
         |), m AS (
         |  SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tok,
         |    CAST(len(list_distinct(ts)) AS BIGINT) AS n_types,
         |    CASE WHEN len(ts) >= $w THEN
         |      CAST(list_sum([len(list_distinct(ts[i:i+${w - 1}]))
         |        FOR i IN range(1, len(ts) - $w + 2)]) AS BIGINT)
         |    ELSE CAST(len(list_distinct(ts)) AS BIGINT) END AS dsum,
         |    CASE WHEN len(ts) >= $w THEN CAST($w * (len(ts) - $w + 1) AS BIGINT)
         |    ELSE CAST(len(ts) AS BIGINT) END AS denom
         |  FROM toks
         |)
         |SELECT doc_id, n_tok, n_types,
         |  round(n_types * 1.0 / n_tok, 6) AS ttr,
         |  round(dsum * 1.0 / denom, 6) AS mattr
         |FROM m""".stripMargin
    }) { (s, d) =>
      lexicalDiversity(Tables.spread(Tables.documents(s, d)))
    },

    // ---- NPMI collocation extraction -------------------------------------
    // The classic collocation miner (normalized pointwise mutual
    // information, Bouma 2009): bigrams whose joint probability beats
    // the independence assumption, normalized to [-1, 1] by −ln p(xy) —
    // the phrase dictionary builders (word2phrase, tokenizer vocab
    // prep) run exactly this. Count floor ≥ 5 kills noise pairs. Both
    // engines: exact integer counts, one double NPMI expression, 6-dp
    // round, rank on the ROUNDED value with (w1, w2) tiebreaks. Scale
    // shape: t17's keyed bigram/unigram aggregations (corpus-derived
    // counts — keyed shuffle joins, no broadcast hints); the two
    // normalizers are 1-row broadcasts; top-50 is a distributed
    // TakeOrdered, ranked post-limit via the constant-group two-pass
    // (t19's WindowExec-warning-free form).
    sql("t27_collocations",
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS t,
        |         generate_subscripts(regexp_split_to_array(trim(text), '\s+'), 1) AS pos
        |  FROM documents
        |), big AS (
        |  SELECT a.doc_id, a.t AS w1, b.t AS w2
        |  FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |), bc AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM big GROUP BY 1, 2
        |), uc AS (
        |  SELECT t AS w, CAST(count(*) AS BIGINT) AS c1 FROM tok GROUP BY 1
        |), nb AS (SELECT sum(c2) AS nb FROM bc), nu AS (SELECT sum(c1) AS nu FROM uc),
        |sc AS (
        |  SELECT bc.w1, bc.w2, bc.c2,
        |    round(ln((bc.c2 * 1.0 / nb.nb) / ((ua.c1 * 1.0 / nu.nu) * (ub.c1 * 1.0 / nu.nu)))
        |      / (-ln(bc.c2 * 1.0 / nb.nb)), 6) AS npmi
        |  FROM bc JOIN uc ua ON ua.w = bc.w1 JOIN uc ub ON ub.w = bc.w2, nb, nu
        |  WHERE bc.c2 >= 5
        |)
        |SELECT w1, w2, c2, npmi,
        |  CAST(ROW_NUMBER() OVER (ORDER BY npmi DESC, w1, w2) AS BIGINT) AS rnk
        |FROM sc QUALIFY rnk <= 50""".stripMargin) { (s, d) =>
      collocations(Tables.spread(Tables.documents(s, d)))
    },

    // ---- BM25 retrieval scoring (selection-by-retrieval) -----------------
    // Okapi BM25 (Robertson/Walker) — the retrieval half of
    // retrieve-from-pretraining-data curation: score every corpus doc
    // against a fixed query set (here the term sets of docs 0–2; in
    // production the target-task prompts) and keep the top 10 per
    // query. Exact integer tf/df/dl statistics; both engines evaluate
    // ONE identical scalar expression per (query, doc, term) and 6-dp
    // round after the per-pair sum; ranks on the ROUNDED score with a
    // doc_id tiebreak. Scale shape: tf/df/dl are corpus-derived keyed
    // aggregations (keyed shuffle joins, no hints); the query term
    // table is parameter-bounded (|Q| query docs) and broadcasts; the
    // per-query rank rides groupedRowNumber's two-pass form — 3 query
    // groups would otherwise be 3 single-task windows over
    // corpus-sized candidate sets (the t9/d5/d16 lesson).
    sql("t28_bm25", {
      val (k1, b) = (Bm25K1, Bm25B)
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
         |  FROM documents
         |), dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY 1),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS s FROM dl),
         |tf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
         |df AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |q AS (SELECT doc_id AS qid, t FROM tf WHERE doc_id < $Bm25Queries),
         |sc AS (
         |  SELECT q.qid, tf.doc_id, CAST(count(*) AS BIGINT) AS n_hit_terms,
         |    round(sum(ln(1 + (n.n - df.df + 0.5) / (df.df + 0.5))
         |      * tf.tf * ${k1 + 1} / (tf.tf + $k1 * (1 - $b + $b * dl.dl * n.n * 1.0 / n.s))), 6)
         |      AS score
         |  FROM q JOIN tf ON tf.t = q.t
         |  JOIN df ON df.t = q.t JOIN dl ON dl.doc_id = tf.doc_id, n
         |  GROUP BY 1, 2
         |)
         |SELECT qid, doc_id, n_hit_terms, score,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
         |FROM sc QUALIFY rnk <= $Bm25TopK""".stripMargin
    }) { (s, d) =>
      bm25(Tables.spread(Tables.documents(s, d)))
    },

    // ---- per-source KL divergence vs the corpus distribution -------------
    // The mixture-design diagnostic t12's proportions don't answer:
    // WHICH source is lexically atypical, and by how much.
    // KL(P_source ‖ Q_corpus) over unigrams is finite by construction
    // (source tokens ⊂ corpus tokens ⇒ q > 0), so no smoothing constant
    // enters; vocab coverage rides along as an exact integer ratio. Both
    // engines compute the identical term arithmetic (p·ln(p/q) on the
    // SAME ratio-of-ratios shape) and round the per-source SUM to 6 dp.
    // Scale shape: one token-count shuffle keyed on (source, t); the
    // per-token corpus totals are corpus-derived and meet it in a KEYED
    // join on t (no-BHJ-asserted — the t6/t13 vocab rule); the only
    // broadcast is the 1-row global-total frame; per-source totals join
    // keyed on source (the t21 |sources|-row rule). The raw-scan shuffle
    // is one exchange, reused by every consumer stage.
    sql("t29_source_kl",
      """WITH tok AS (
        |  SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS t
        |  FROM documents
        |), sc AS (
        |  SELECT source, t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
        |), st AS (SELECT source, sum(c) AS ns, count(*) AS vs FROM sc GROUP BY source),
        |ct AS (SELECT t, sum(c) AS ctot FROM sc GROUP BY t),
        |n AS (SELECT sum(ctot) AS ntot, count(*) AS v FROM ct)
        |SELECT sc.source, CAST(any_value(st.ns) AS BIGINT) AS n_tok,
        |  round(any_value(st.vs) * 1.0 / any_value(n.v), 6) AS vocab_frac,
        |  round(sum((sc.c * 1.0 / st.ns)
        |    * ln((sc.c * 1.0 / st.ns) / (ct.ctot * 1.0 / n.ntot))), 6) AS kl
        |FROM sc JOIN st USING (source) JOIN ct USING (t) CROSS JOIN n
        |GROUP BY sc.source""".stripMargin) { (s, d) =>
      sourceKl(Tables.spread(Tables.documents(s, d)))
    },

    // ---- tokenizer-fit / OOV-rate report ---------------------------------
    // Per-doc out-of-vocabulary fraction against a corpus-derived top-K
    // (K=20) frequency vocab — the "does this tokenizer cover this
    // corpus" diagnostic read before committing a vocab size. Rank ties
    // break lexicographically (deterministic). Scale note: unlike the
    // FULL vocab (Heaps-law, never broadcast — the t6/t13 rule), the
    // top-K vocab is PARAMETER-bounded, so it rides a broadcast join
    // like a codebook; the rank itself is a TakeOrdered (distributed
    // partial top-K, fixed output), not a global sort.
    sql("t30_oov_rate",
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS t
        |  FROM documents WHERE length(trim(text)) > 0
        |), tc AS (
        |  SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY t
        |), vocab AS (
        |  SELECT t FROM (
        |    SELECT t, ROW_NUMBER() OVER (ORDER BY c DESC, t) AS rn FROM tc) v
        |  WHERE rn <= 20
        |), pd AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        |    CAST(sum(CASE WHEN t IN (SELECT t FROM vocab) THEN 0 ELSE 1 END)
        |      AS BIGINT) AS n_oov
        |  FROM tok GROUP BY doc_id
        |)
        |SELECT d.doc_id, CAST(coalesce(pd.n_tok, 0) AS BIGINT) AS n_tok,
        |  CAST(coalesce(pd.n_oov, 0) AS BIGINT) AS n_oov,
        |  CASE WHEN coalesce(pd.n_tok, 0) = 0 THEN 0.0
        |       ELSE round(pd.n_oov * 1.0 / pd.n_tok, 6) END AS oov_rate
        |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val tok = docs.filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      val vocab = tok.groupBy(col("t")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("t")).limit(20)
        .select(col("t"), lit(true).as("__in_vocab"))
      val pd = tok.join(broadcast(vocab), Seq("t"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"),
          sum(when(col("__in_vocab").isNotNull, 0).otherwise(1)).as("n_oov"))
      docs.select(col("doc_id")).join(pd, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_tok"), lit(0L)).as("n_tok"),
          coalesce(col("n_oov"), lit(0L)).as("n_oov"),
          when(coalesce(col("n_tok"), lit(0L)) === 0, lit(0.0))
            .otherwise(round(col("n_oov") * lit(1.0) / col("n_tok"), 6))
            .as("oov_rate"))
    },

    // ---- truncation-loss report: choosing max_seq_len --------------------
    // Per source: how many docs exceed a 64-token context and what token
    // fraction a hard truncation at that length would discard — the
    // table a pipeline reads before fixing max_seq_len (the complement
    // of t9's packing view). Pure scan-side arithmetic + one keyed agg.
    sql("t31_truncation_loss",
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN n > 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated,
        |  CAST(sum(n) AS BIGINT) AS n_tok_total,
        |  CAST(sum(greatest(n - 64, 0)) AS BIGINT) AS n_tok_lost,
        |  CASE WHEN sum(n) = 0 THEN 0.0
        |       ELSE round(sum(greatest(n - 64, 0)) * 1.0 / sum(n), 6)
        |  END AS lost_frac
        |FROM (SELECT source,
        |        CASE WHEN length(trim(text)) = 0 THEN 0
        |             ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n
        |      FROM documents) t
        |GROUP BY source""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("source"), size(tokens(col("text"))).cast("long").as("n"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n") > 64, 1).otherwise(0)).as("n_truncated"),
          sum(col("n")).as("n_tok_total"),
          sum(greatest(col("n") - 64, lit(0L))).as("n_tok_lost"),
          when(sum(col("n")) === 0, lit(0.0))
            .otherwise(round(sum(greatest(col("n") - 64, lit(0L))) * lit(1.0) /
              sum(col("n")), 6)).as("lost_frac"))
    },

    // ---- temperature-scaled source mixture weights (r10) -----------------
    // THE pre-training mixing recipe (Pile/LLaMA posture): sampling a
    // multi-source corpus proportionally to size lets the head source
    // drown the tail, so sources are re-weighted by n_tok^α with a
    // temperature α < 1 — here α = 0.5 (sqrt — chosen over a general
    // pow() so both engines compute the IDENTICAL libm-free primitive).
    // Emits, per source: exact token count, natural fraction, the
    // α-tempered sampling weight, and the implied epoch count (> 1 =
    // the source repeats) at a budget of one corpus-size of tokens.
    // The weight denominator Σ√n folds in LEXICOGRAPHIC source order on
    // both engines (DuckDB list_sum over an ORDER BY source list; Spark
    // a |sources|-row ordered driver fold — the t21 bounded-rows rule),
    // so the double sum is bit-identical regardless of partitioning.
    // ---- packed training shards manifest (r10) ---------------------------
    // The terminal op of the preparation story (clean → dedup → split →
    // pack → SHARD): t9's 2048-token packs routed to shards
    // (pack_id mod 4 within source — packs are already arrival-ordered,
    // so this is round-robin by construction) with the per-(source,
    // shard) reproducibility record a trainer reads: pack/doc/token
    // counts, FILL fraction of the 2048-token budget (padding waste —
    // the number that decides whether the packer earns its keep), and
    // the q78-convention mod-2^63 content checksum so a re-shard is
    // provably the same data. Scale shape: t9's two-pass distributed
    // cumsum feeds ONE keyed aggregation; |sources|·4 output rows.
    sql("t33_packed_shards",
      """WITH t AS (
        |  SELECT doc_id, source, sha256(text) AS h,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tok
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, source, h, n_tok,
        |    SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t
        |), p AS (
        |  SELECT source, doc_id, h, n_tok,
        |    (cum - n_tok) // 2048 AS pack_id,
        |    ((cum - n_tok) // 2048) % 4 AS shard
        |  FROM r
        |)
        |SELECT source, CAST(shard AS BIGINT) AS shard,
        |  CAST(count(DISTINCT pack_id) AS BIGINT) AS n_packs,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tok,
        |  round(CAST(sum(n_tok) AS DOUBLE) / (count(DISTINCT pack_id) * 2048), 6)
        |    AS fill_frac,
        |  CAST(sum(CAST(CAST(concat('0x', substr(h, 1, 8)) AS UBIGINT) AS BIGINT))
        |    % CAST('9223372036854775808' AS HUGEINT) AS BIGINT) AS checksum
        |FROM p GROUP BY source, shard""".stripMargin) { (s, d) =>
      packedShards(Tables.documents(s, d))
    },

    sql("t32_mixture_weights",
      """WITH d AS (
        |  SELECT source,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS nt
        |  FROM documents
        |), s AS (
        |  SELECT source, CAST(sum(nt) AS BIGINT) AS n_tok FROM d GROUP BY source
        |), t AS (
        |  SELECT CAST(sum(n_tok) AS BIGINT) AS tot,
        |    list_sum(list(sqrt(CAST(n_tok AS DOUBLE)) ORDER BY source)) AS wsum
        |  FROM s
        |)
        |SELECT source, n_tok,
        |  round(CAST(n_tok AS DOUBLE) / t.tot, 6) AS nat_frac,
        |  round(sqrt(CAST(n_tok AS DOUBLE)) / t.wsum, 6) AS weight,
        |  round(sqrt(CAST(n_tok AS DOUBLE)) / t.wsum * t.tot / n_tok, 6) AS epochs
        |FROM s, t""".stripMargin) { (s, d) =>
      mixtureWeights(Tables.documents(s, d))
    },

    // ---- deterministic subword tokenization (r14 — the r13 verdict's
    // #4): greedy longest-match over the literal [[SubwordVocab]],
    // single-char fallback. FULL oracle: DuckDB replays the identical
    // greedy walk as a recursive CTE over the distinct words, so a
    // wrong split ANYWHERE (a missed longer match, an off-by-one
    // fallback) mismatches the hash. n_ws rides beside n_bpe because
    // the RATIO is the point — whitespace metering mispriced every
    // downstream budget by exactly this factor.
    sql("t35_subword_tokens",
      s"""WITH RECURSIVE $subwordOracleCtes
         |SELECT w.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_ws,
         |  CAST(sum(t.n_sub) AS BIGINT) AS n_bpe,
         |  round(CAST(sum(t.n_sub) AS DOUBLE) / greatest(count(*), 1), 6)
         |    AS bpe_ratio
         |FROM words w JOIN wtok t USING (w)
         |GROUP BY w.doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_ws"),
          subwordCount(col("text")).as("n_bpe"))
        .select(col("doc_id"), col("n_ws"), col("n_bpe"),
          round(col("n_bpe").cast("double") / greatest(col("n_ws"), lit(1L)), 6)
            .as("bpe_ratio"))
    },

    // ---- t9's sequence packing re-metered in SUBWORD tokens (the
    // budget/packing family's bpe variant the r13 verdict asked for):
    // same two-pass distributed cumsum, same 2048-token bins — but the
    // bin arithmetic now counts what a trainer actually consumes. The
    // oracle replays tokenizer AND packing, so a metering drift would
    // shift a pack_id and mismatch.
    sql("t36_subword_packing",
      s"""WITH RECURSIVE $subwordOracleCtes, doctok AS (
         |  SELECT w.doc_id, w.source, CAST(sum(t.n_sub) AS BIGINT) AS n_tok
         |  FROM words w JOIN wtok t USING (w)
         |  GROUP BY w.doc_id, w.source
         |), r AS (
         |  SELECT doc_id, source, n_tok,
         |    SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM doctok
         |)
         |SELECT doc_id, source, n_tok,
         |  CAST((cum - n_tok) // 2048 AS BIGINT) AS pack_id
         |FROM r""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d).select(
        col("doc_id"), col("source"),
        subwordCount(col("text")).as("n_tok"))
      graft.operators.Relational
        .groupedRunningSum(t, Seq("source"), Seq(col("doc_id")), col("n_tok"), "cum")
        .select(col("doc_id"), col("source"), col("n_tok"),
          floor((col("cum") - col("n_tok")) / lit(2048)).cast("long").as("pack_id"))
    },

    // ---- LEARNED BPE: merge-table training (r14) --------------------------
    // t35's fixture vocab answers "meter in subwords"; this answers
    // "learn the subwords from the corpus" — the textbook BPE trainer
    // with total tie-breaks, so the merge table is a deterministic
    // function of the data and BOTH engines derive it independently
    // (the Lloyd-chain precedent applied to tokenizer training). The
    // oracle re-learns all 32 merges from scratch in SQL; a single
    // wrong count, tie-break, or merge application anywhere in the
    // chain shifts a row and mismatches the hash.
    sql("t37_bpe_train",
      s"""WITH ${bpeTrainCtes(BpeTrainTopV, BpeTrainRounds)}
         |SELECT * FROM (
         |${(1 to BpeTrainRounds).map(k =>
             s"SELECT CAST(${k - 1} AS BIGINT) AS merge_rank, a AS left_sym, " +
               s"b AS right_sym, m AS merged, CAST(cnt AS BIGINT) AS cnt FROM best_$k")
             .mkString("\nUNION ALL\n")}
         |) ORDER BY merge_rank""".stripMargin) { (s, d) =>
      import s.implicits._
      bpeLearnMerges(Tables.documents(s, d))
        .toDF("merge_rank", "left_sym", "right_sym", "merged", "cnt")
        .select(col("merge_rank").cast("long"), col("left_sym"),
          col("right_sym"), col("merged"), col("cnt"))
    },

    // ---- LEARNED BPE: corpus metering through the trained table ----------
    // The t35 shape re-metered with the LEARNED merges: per doc,
    // whitespace count vs trained-BPE count. Train → apply → meter,
    // replayed end to end: the oracle re-learns the table AND re-applies
    // every merge to every distinct word, so the hash covers the whole
    // tokenizer lifecycle, not just one side of it.
    sql("t38_bpe_token_counts",
      s"""WITH ${bpeTrainCtes(BpeTrainTopV, BpeTrainRounds)},
         |${bpeApplyCtes(BpeTrainRounds)}
         |SELECT w0.doc_id, CAST(count(*) AS BIGINT) AS n_ws,
         |  CAST(sum(coalesce(t.n_sub, 0)) AS BIGINT) AS n_bpe,
         |  round(CAST(sum(coalesce(t.n_sub, 0)) AS DOUBLE) / greatest(count(*), 1), 6)
         |    AS bpe_ratio
         |FROM words w0 LEFT JOIN wn t USING (w)
         |GROUP BY w0.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val merges = bpeLearnMerges(docs).map(m => (m._2, m._3))
      docs.select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_ws"),
          graft.functions.Bpe.count(col("text"), merges).as("n_bpe"))
        .select(col("doc_id"), col("n_ws"), col("n_bpe"),
          round(col("n_bpe").cast("double") / greatest(col("n_ws"), lit(1L)), 6)
            .as("bpe_ratio"))
    },

    // ---- t21's token-budget resampling metered in SUBWORD tokens ---------
    // The budget leg of the r13 verdict's #4 (t36 covered packing, this
    // covers budgets): identical recipe to t21 — 3×-boosted sources,
    // half-the-corpus budget, deterministic hash60 acceptance — but the
    // budget, thresholds, and kept-token ledger all count SUBWORD
    // tokens. Because subword counts run ~1.3× whitespace counts, every
    // threshold shifts: this entry is the measured difference between
    // budgeting what you think you have and what the trainer consumes.
    sql("t39_subword_budget", {
      val h = "CAST(list_sum([CAST(strpos('0123456789abcdef', substr(substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15), j+1, 1)) - 1 AS BIGINT) << (4*(14-j)) FOR j IN range(15)]) AS BIGINT)"
      s"""WITH RECURSIVE $subwordOracleCtes, docs AS (
         |  SELECT w.doc_id AS doc_id, w.source AS source,
         |    CAST(sum(t.n_sub) AS BIGINT) AS n_tok, $h AS hh
         |  FROM words w JOIN wtok t USING (w)
         |  GROUP BY w.doc_id, w.source
         |), totals AS (
         |  SELECT source, sum(n_tok) AS src_tok,
         |    CAST(CASE WHEN source IN ('src0','src1','src2','src3')
         |         THEN 3 ELSE 1 END AS BIGINT) AS w
         |  FROM docs GROUP BY source
         |), grand AS (
         |  SELECT sum(src_tok) AS tot_tok, sum(w) AS sum_w FROM totals
         |), rates AS (
         |  SELECT t.source, t.src_tok, t.w,
         |    least(CAST(1000000 AS BIGINT),
         |      CAST(floor((500000.0 * g.tot_tok * t.w) / g.sum_w / t.src_tok)
         |        AS BIGINT)) AS thr
         |  FROM totals t CROSS JOIN grand g
         |), kept AS (
         |  SELECT d.source, CAST(count(*) AS BIGINT) AS kept_docs,
         |    CAST(sum(d.n_tok) AS BIGINT) AS kept_tokens
         |  FROM docs d JOIN rates r ON r.source = d.source
         |  WHERE d.hh % 1000000 < r.thr GROUP BY d.source
         |)
         |SELECT r.source, CAST(r.src_tok AS BIGINT) AS tokens_before, r.w,
         |  r.thr, coalesce(k.kept_docs, 0) AS kept_docs,
         |  coalesce(k.kept_tokens, 0) AS kept_tokens
         |FROM rates r LEFT JOIN kept k ON k.source = r.source""".stripMargin
    }) { (s, d) =>
      val docs = Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), col("source"),
          subwordCount(col("text")).as("n_tok"),
          Dedup.hash60(col("doc_id").cast("string")).as("hh"))
      val totals = docs.groupBy(col("source")).agg(sum(col("n_tok")).as("src_tok"))
        .withColumn("w",
          when(col("source").isin("src0", "src1", "src2", "src3"), lit(3L))
            .otherwise(lit(1L)))
      val grand = totals.agg(sum(col("src_tok")).as("tot_tok"),
        sum(col("w")).as("sum_w"))
      val rates = totals.crossJoin(broadcast(grand))
        .withColumn("thr", least(lit(1000000L),
          floor(lit(500000.0) * col("tot_tok") * col("w")
            / col("sum_w") / col("src_tok")).cast("long")))
      val kept = docs.join(rates.select(col("source"), col("thr")), Seq("source"))
        .filter(col("hh") % 1000000L < col("thr"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("kept_docs"), sum(col("n_tok")).as("kept_tokens"))
      rates.join(kept, Seq("source"), "left")
        .select(col("source"), col("src_tok").as("tokens_before"), col("w"),
          col("thr"), coalesce(col("kept_docs"), lit(0L)).as("kept_docs"),
          coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
    },

    // ---- t31's truncation-loss re-metered in LEARNED-BPE tokens (r15 —
    // the r14 verdict's #1): same 64-token context, same per-source
    // report, but n counts what the trainer consumes. Because learned
    // counts run ~1.3× whitespace counts, MORE docs cross the context
    // bound and the lost fraction rises — this entry is that measured
    // correction. Oracle replays train → apply → truncate end to end.
    sql("t40_truncation_loss_bpe",
      s"""WITH ${bpeTrainCtes(BpeTrainTopV, BpeTrainRounds)},
         |${bpeApplyCtes(BpeTrainRounds)},
         |$bpeDocTokCte
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN n_tok > 64 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_truncated,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tok_total,
         |  CAST(sum(greatest(n_tok - 64, 0)) AS BIGINT) AS n_tok_lost,
         |  CASE WHEN sum(n_tok) = 0 THEN 0.0
         |       ELSE round(sum(greatest(n_tok - 64, 0)) * 1.0 / sum(n_tok), 6)
         |  END AS lost_frac
         |FROM bdoc GROUP BY source""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val merges = bpeLearnMerges(docs).map(m => (m._2, m._3))
      docs
        .select(col("source"), graft.functions.Bpe.count(col("text"), merges).as("n"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n") > 64, 1).otherwise(0)).as("n_truncated"),
          sum(col("n")).as("n_tok_total"),
          sum(greatest(col("n") - 64, lit(0L))).as("n_tok_lost"),
          when(sum(col("n")) === 0, lit(0.0))
            .otherwise(round(sum(greatest(col("n") - 64, lit(0L))) * lit(1.0) /
              sum(col("n")), 6)).as("lost_frac"))
    },

    // ---- t33's shard manifests re-metered in LEARNED-BPE tokens (r15):
    // the reproducibility record a trainer reads now counts the tokens
    // it will actually consume — pack boundaries, fill fractions, and
    // checksums all shift, and the oracle replays tokenizer AND packing
    // so a metering drift anywhere moves a pack_id and mismatches. Same
    // plan as t33: the two-pass distributed cumsum with only the
    // scan-side meter column changed.
    sql("t41_packed_shards_bpe",
      s"""WITH ${bpeTrainCtes(BpeTrainTopV, BpeTrainRounds)},
         |${bpeApplyCtes(BpeTrainRounds)},
         |${bpeTableFpCte(BpeTrainRounds)},
         |$bpeDocTokCte,
         |t AS (
         |  SELECT d.doc_id, b.source, sha256(d.text) AS h, b.n_tok
         |  FROM documents d JOIN bdoc b USING (doc_id)
         |), r AS (
         |  SELECT doc_id, source, h, n_tok,
         |    SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM t
         |), p AS (
         |  SELECT source, doc_id, h, n_tok,
         |    (cum - n_tok) // 2048 AS pack_id,
         |    ((cum - n_tok) // 2048) % 4 AS shard
         |  FROM r
         |)
         |SELECT source, CAST(shard AS BIGINT) AS shard,
         |  CAST(count(DISTINCT pack_id) AS BIGINT) AS n_packs,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tok,
         |  round(CAST(sum(n_tok) AS DOUBLE) / (count(DISTINCT pack_id) * 2048), 6)
         |    AS fill_frac,
         |  CAST(sum(CAST(CAST(concat('0x', substr(h, 1, 8)) AS UBIGINT) AS BIGINT))
         |    % CAST('9223372036854775808' AS HUGEINT) AS BIGINT) AS checksum,
         |  f.table_fp
         |FROM p, tfp f GROUP BY source, shard, f.table_fp""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val learned = bpeLearnMerges(docs)
      val merges = learned.map(m => (m._2, m._3))
      // r16: the manifest carries WHICH MODEL priced it — the 60-bit
      // table fingerprint, hash-matched against DuckDB's independent
      // re-derivation from its own re-learned table (so the provenance
      // column is proven engine-independent, not just recorded)
      packedShards(docs, graft.functions.Bpe.count(col("text"), merges))
        .withColumn("table_fp", lit(bpeTableFingerprint(learned)))
    },

    // ---- t32's mixture weights re-metered in LEARNED-BPE tokens (r15 —
    // THE numbers a data recipe reads, finally priced in what a trainer
    // consumes; t35 measured the whitespace mispricing at ~1.3× mean,
    // and because the ratio varies BY SOURCE the √-tempered weights and
    // epoch counts genuinely move, not just rescale). Same
    // |sources|-row bounded driver fold; the oracle re-learns the merge
    // table and re-prices every source before the tempering math.
    sql("t42_mixture_weights_bpe",
      s"""WITH ${bpeTrainCtes(BpeTrainTopV, BpeTrainRounds)},
         |${bpeApplyCtes(BpeTrainRounds)},
         |$bpeDocTokCte,
         |s AS (
         |  SELECT source, CAST(sum(n_tok) AS BIGINT) AS n_tok
         |  FROM bdoc GROUP BY source
         |), t AS (
         |  SELECT CAST(sum(n_tok) AS BIGINT) AS tot,
         |    list_sum(list(sqrt(CAST(n_tok AS DOUBLE)) ORDER BY source)) AS wsum
         |  FROM s
         |)
         |SELECT source, n_tok,
         |  round(CAST(n_tok AS DOUBLE) / t.tot, 6) AS nat_frac,
         |  round(sqrt(CAST(n_tok AS DOUBLE)) / t.wsum, 6) AS weight,
         |  round(sqrt(CAST(n_tok AS DOUBLE)) / t.wsum * t.tot / n_tok, 6) AS epochs
         |FROM s, t""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val merges = bpeLearnMerges(docs).map(m => (m._2, m._3))
      mixtureWeights(docs, graft.functions.Bpe.count(col("text"), merges))
    },

    // ---- vocab-size ROI: the BPE compression curve (r15) ------------------
    // The number a tokenizer designer reads before fixing vocab size:
    // how much compression (chars per token, tokens per word) each
    // block of merge ranks buys. Because a LEARNED table's rank-k
    // prefix is itself a valid learned table (merges apply in creation
    // order), the curve meters the SAME corpus through prefixes
    // K ∈ {8, 16, 24, 32} of one t37 training run — one scan with four
    // codegen'd BpeCount columns (K ≤ 32, scan-side), one global agg,
    // four output rows. The ORACLE is nearly free: the apply chain
    // already materializes every intermediate round, so aw_8/aw_16/
    // aw_24/aw_32 are read directly — no extra training or apply work.
    // On the fixture the curve is still near-LINEAR at K = 32
    // (chars_per_tok 1.21 → 1.59, marginal gain per 8 ranks ≈ +0.12
    // throughout — the corpus has 89 learnable ranks, so 32 is well
    // before the knee): the curve's verdict here is "keep training",
    // which is exactly the decision the entry exists to inform.
    sql("t44_bpe_compression_curve", {
      val ks = Seq(8, 16, 24, 32)
      s"""WITH ${bpeTrainCtes(BpeTrainTopV, BpeTrainRounds)},
         |${bpeApplyCtes(BpeTrainRounds)},
         |occ AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS c FROM words
         |  WHERE length(w) > 0 GROUP BY w
         |)
         |SELECT * FROM (
         |${ks.map(k =>
             s"""SELECT CAST($k AS BIGINT) AS k_merges,
                |  CAST(sum(o.c * len(a.syms)) AS BIGINT) AS n_tok,
                |  CAST(sum(o.c * length(a.w)) AS BIGINT) AS n_chars,
                |  round(sum(o.c * length(a.w)) * 1.0 / sum(o.c * len(a.syms)), 6)
                |    AS chars_per_tok,
                |  round(sum(o.c * len(a.syms)) * 1.0 / sum(o.c), 6) AS tok_per_word
                |FROM aw_$k a JOIN occ o USING (w)""".stripMargin)
             .mkString("\nUNION ALL\n")}
         |) ORDER BY k_merges""".stripMargin
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      val merges = bpeLearnMerges(docs).map(m => (m._2, m._3))
      val ks = Seq(8, 16, 24, 32)
      val meterCols = ks.map(k =>
        sum(graft.functions.Bpe.count(col("text"), merges.take(k))).as(s"n_$k"))
      val a = docs.agg(
        sum(length(regexp_replace(trim(col("text")), "\\s+", "")).cast("long"))
          .as("chars"),
        (sum(size(filter(split(trim(col("text")), "\\s+"),
          w => length(w) > 0)).cast("long")).as("words") +: meterCols): _*)
      a.select(expr(s"stack(${ks.size}, " +
          ks.map(k => s"CAST($k AS BIGINT), n_$k").mkString(", ") +
          ") AS (k_merges, n_tok)"),
          col("chars"), col("words"))
        .select(col("k_merges"), col("n_tok"), col("chars").as("n_chars"),
          round(col("chars") * lit(1.0) / col("n_tok"), 6).as("chars_per_tok"),
          round(col("n_tok") * lit(1.0) / col("words"), 6).as("tok_per_word"))
    },

    // ---- t11's context chunking re-metered in LEARNED-BPE tokens (r16 —
    // the metering tail's last big consumer: chunk boundaries ARE the
    // max_seq_len decision, and t40 measured the whitespace meter
    // over-admitting ~1.3× per 64-token context). Windows of 32 LEARNED
    // tokens, stride 24, over the doc's flat BPE token sequence; the
    // oracle rebuilds each doc's sequence by replaying train → apply →
    // per-word token lists flattened in word order, then slices with the
    // identical k-law — a drift in training, application, word order, or
    // the window arithmetic shifts a chunk row and mismatches the hash.
    sql("t45_chunking_bpe",
      s"""WITH ${bpeTrainCtes(BpeTrainTopV, BpeTrainRounds)},
         |${bpeApplyCtes(BpeTrainRounds)},
         |wpos AS (
         |  SELECT doc_id, unnest([struct_pack(i := i, w := ws[i])
         |    FOR i IN range(1, len(ws) + 1)]) AS p
         |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
         |        FROM documents) t
         |), dtok AS (
         |  SELECT doc_id, flatten(list(a.syms ORDER BY (p).i)) AS ts
         |  FROM wpos JOIN aw_$BpeTrainRounds a ON a.w = (p).w
         |  GROUP BY doc_id
         |), dts AS (
         |  SELECT d.doc_id, coalesce(t.ts, []) AS ts
         |  FROM (SELECT DISTINCT doc_id FROM documents) d
         |  LEFT JOIN dtok t USING (doc_id)
         |), ch AS (
         |  SELECT doc_id, ts,
         |    unnest(range(0, greatest((len(ts) - 9) // 24, 0) + 1)) AS k
         |  FROM dts
         |)
         |SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
         |  CAST(len(ts[k*24+1:k*24+32]) AS BIGINT) AS n_tokens,
         |  array_to_string(ts[k*24+1:k*24+32], '') AS chunk_text
         |FROM ch""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val merges = bpeLearnMerges(docs).map(m => (m._2, m._3))
      chunkBpe(docs, merges)
    },

    // ---- t12's temperature-scaled mixture re-metered in LEARNED-BPE
    // tokens (r16 — the t42 pattern applied to the τ = 0.7 tempering;
    // t42 covers the √-tempered family, this the GPT-3/LLaMA recipe's
    // exponent, and because the BPE/ws ratio varies BY SOURCE the
    // tempered weights genuinely move, not rescale). Same bounded
    // |sources|-row float work; the oracle re-learns the table and
    // re-prices every source before the tempering math.
    sql("t46_source_mixture_bpe",
      s"""WITH ${bpeTrainCtes(BpeTrainTopV, BpeTrainRounds)},
         |${bpeApplyCtes(BpeTrainRounds)},
         |$bpeDocTokCte,
         |c AS (
         |  SELECT source, CAST(sum(n_tok) AS BIGINT) AS n_tok
         |  FROM bdoc GROUP BY source
         |), t AS (SELECT sum(n_tok) AS tot FROM c),
         |p AS (SELECT source, n_tok, n_tok * 1.0 / tot AS p FROM c, t),
         |z AS (SELECT sum(pow(p, 0.7)) AS z FROM p)
         |SELECT source, n_tok, round(p, 6) AS token_share,
         |  round(pow(p, 0.7) / z, 6) AS mixture_weight
         |FROM p, z""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val merges = bpeLearnMerges(docs).map(m => (m._2, m._3))
      sourceMixture(docs, graft.functions.Bpe.count(col("text"), merges))
    }
  )

  /** See the `t33` registry notes. `docs` needs (doc_id, source, text).
    * t9's two-pass distributed cumsum (never a per-source single-task
    * window) feeds one aggregation keyed (source, shard); the checksum
    * is q78's commutative mod-2^63 sum, so shard manifests merge
    * algebraically like dataset manifests do. `meter` is the token
    * meter (default: the t33 bpe-ish pre-split; t41 passes the LEARNED
    * BpeCount — the plan shape is identical, only the scan-side meter
    * column changes).
    */
  def packedShards(docs: DataFrame,
      meter: Column = bpeishCount(col("text"))): DataFrame = {
    val h32 = conv(substring(sha2(col("text"), 256), 1, 8), 16, 10).cast("long")
    val mod63 = lit(new java.math.BigDecimal("9223372036854775808"))
    val t = docs.select(col("doc_id"), col("source"), h32.as("h32"),
      meter.as("n_tok"))
    val packed = graft.operators.Relational
      .groupedRunningSum(t, Seq("source"), Seq(col("doc_id")), col("n_tok"), "cum")
      .select(col("source"), col("h32"), col("n_tok"),
        floor((col("cum") - col("n_tok")) / lit(2048)).cast("long").as("pack_id"))
    packed
      .withColumn("shard", pmod(col("pack_id"), lit(4)))
      .groupBy(col("source"), col("shard"))
      .agg(countDistinct(col("pack_id")).as("n_packs"),
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tok"),
        round(sum(col("n_tok")).cast("double") /
          (countDistinct(col("pack_id")) * 2048), 6).as("fill_frac"),
        (sum(col("h32").cast("decimal(38,0)")) % mod63).cast("long").as("checksum"))
  }

  /** See the `t32` registry notes. `docs` needs (source, text). Scale
    * shape: one token-count aggregation keyed on source; the per-source
    * frame is |sources| rows (the t21 bounded rule), so the ordered
    * driver fold of the √n denominator and the broadcast of the 2-value
    * totals are both parameter-bounded. α is fixed at 0.5 (√ tempering)
    * so the tempered mass is a libm-free primitive both engines compute
    * bit-identically. `meter` is the per-doc token meter (default:
    * whitespace; t42 passes the LEARNED BpeCount so the mixture prices
    * what a trainer consumes).
    */
  def mixtureWeights(docs: DataFrame,
      meter: Column = size(tokens(col("text"))).cast("long")): DataFrame = {
    val s = docs
      .select(col("source"), meter.as("nt"))
      .groupBy(col("source")).agg(sum(col("nt")).as("n_tok"))
    // |sources| rows: fold Σ√n in lexicographic source order so the
    // double accumulation can't depend on partitioning (the oracle's
    // list_sum(... ORDER BY source) folds identically)
    val perSource = s.orderBy(col("source")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val tot = perSource.map(_._2).sum
    val wsum = perSource.foldLeft(0.0) { case (acc, (_, n)) =>
      acc + math.sqrt(n.toDouble)
    }
    s.select(col("source"), col("n_tok"),
      round(col("n_tok").cast("double") / lit(tot), 6).as("nat_frac"),
      round(sqrt(col("n_tok").cast("double")) / lit(wsum), 6).as("weight"),
      round(sqrt(col("n_tok").cast("double")) / lit(wsum) * lit(tot) /
        col("n_tok"), 6).as("epochs"))
  }

  /** See the `t29` registry notes. `docs` needs (source, text). */
  def sourceKl(docs: DataFrame): DataFrame = {
    val sc = docs
      .select(col("source"), explode(split(trim(col("text")), "\\s+")).as("t"))
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c"))
    val st = sc.groupBy(col("source"))
      .agg(sum(col("c")).as("ns"), count(lit(1)).as("vs"))
    val ct = sc.groupBy(col("t")).agg(sum(col("c")).as("ctot"))
    val n = ct.agg(sum(col("ctot")).as("ntot"), count(lit(1)).as("v"))
    val p = col("c") * lit(1.0) / col("ns")
    val q = col("ctot") * lit(1.0) / col("ntot")
    sc.join(st, Seq("source"))
      .join(ct, Seq("t"))
      .crossJoin(broadcast(n)) // 1 row — bounded by construction
      .groupBy(col("source"))
      .agg(max(col("ns")).as("n_tok"),
        round(max(col("vs")) * lit(1.0) / max(col("v")), 6).as("vocab_frac"),
        round(sum(p * log(p / q)), 6).as("kl"))
      .select(col("source"), col("n_tok"), col("vocab_frac"), col("kl"))
  }

  /** BM25 constants — interpolated into BOTH engines. */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25Queries = 3
  val Bm25TopK = 10

  /** See the `t28` registry notes. `docs` needs (doc_id, text). */
  def bm25(docs: DataFrame): DataFrame = {
    val (k1, b) = (Bm25K1, Bm25B)
    val tok = docs
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("t"))
    // ONE token shuffle: tf is the only aggregation that reads the raw
    // token stream; dl (doc length) and df both fold from tf — dl =
    // Σ tf per doc is the same count, computed over the much smaller
    // (doc, term) frame instead of re-scanning and re-shuffling every
    // token occurrence (r10: shaved a full token-scale exchange + a
    // second tokenize pass off the r9 plan).
    val tf = tok.groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val n = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("s"))
    val df = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val q = tf.filter(col("doc_id") < Bm25Queries)
      .select(col("doc_id").as("qid"), col("t"))
    val sc = broadcast(q).join(tf, Seq("t"))
      .join(df, Seq("t"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(n))
      .select(col("qid"), col("doc_id"),
        (log(lit(1) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
          * col("tf") * lit(k1 + 1)
          / (col("tf") + lit(k1) * (lit(1) - lit(b)
            + lit(b) * col("dl") * col("n") * lit(1.0) / col("s")))).as("w"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).as("n_hit_terms"), round(sum(col("w")), 6).as("score"))
    graft.operators.Relational
      .groupedRowNumber(sc, Seq("qid"),
        Seq(col("score").desc, col("doc_id")), "rnk")
      .filter(col("rnk") <= Bm25TopK)
      .select(col("qid"), col("doc_id"), col("n_hit_terms"), col("score"), col("rnk"))
  }

  /** See the `t27` registry notes. `docs` needs (doc_id, text). */
  def collocations(docs: DataFrame, minCount: Long = 5, topK: Int = 50): DataFrame = {
    val arr = docs.select(split(trim(col("text")), "\\s+").as("ts"))
    // adjacent pairs straight off the token ARRAY (slice-zip) — bigram
    // formation is a per-row projection, zero shuffle. The r9 plan
    // shuffled and sorted EVERY token occurrence by doc_id just to run
    // a lead() window whose answer was already adjacency in the array
    // (r10: removed the plan's largest exchange + sort).
    val big = arr
      .select(explode(arrays_zip(
        slice(col("ts"), lit(1), size(col("ts")) - 1),
        slice(col("ts"), lit(2), size(col("ts")) - 1))).as("p"))
      .select(col("p.0").as("w1"), col("p.1").as("w2"))
    val bc = big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val uc = arr.select(explode(col("ts")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val nb = bc.agg(sum(col("c2")).as("nb"))
    val nu = uc.agg(sum(col("c1")).as("nu"))
    val sc = bc.filter(col("c2") >= minCount)
      .join(uc.select(col("w").as("w1"), col("c1").as("ca")), Seq("w1"))
      .join(uc.select(col("w").as("w2"), col("c1").as("cb")), Seq("w2"))
      .crossJoin(broadcast(nb)).crossJoin(broadcast(nu))
      .select(col("w1"), col("w2"), col("c2"),
        round(log((col("c2") * lit(1.0) / col("nb")) /
            ((col("ca") * lit(1.0) / col("nu")) * (col("cb") * lit(1.0) / col("nu"))))
          / (-log(col("c2") * lit(1.0) / col("nb"))), 6).as("npmi"))
    val top = sc.orderBy(col("npmi").desc, col("w1"), col("w2")).limit(topK)
    graft.operators.Relational.groupedRowNumber(
        top.withColumn("__g", lit(0)),
        Seq("__g"), Seq(col("npmi").desc, col("w1"), col("w2")), "rnk")
      .select(col("w1"), col("w2"), col("c2"), col("npmi"), col("rnk"))
  }

  /** MATTR sliding-window width — interpolated into BOTH engines. */
  val MattrWindow = 25

  /** See the `t26` registry notes. `docs` needs (doc_id, text). */
  def lexicalDiversity(docs: DataFrame): DataFrame = {
    val w = MattrWindow
    docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("ts"))
      .select(col("doc_id"),
        size(col("ts")).cast("long").as("n_tok"),
        size(array_distinct(col("ts"))).cast("long").as("n_types"),
        when(size(col("ts")) >= w,
          expr(s"aggregate(transform(sequence(1, size(ts) - ${w - 1}), " +
            s"i -> size(array_distinct(slice(ts, i, $w)))), 0L, (a, x) -> a + x)"))
          .otherwise(size(array_distinct(col("ts"))).cast("long")).as("dsum"),
        when(size(col("ts")) >= w, (lit(w) * (size(col("ts")) - (w - 1))).cast("long"))
          .otherwise(size(col("ts")).cast("long")).as("denom"))
      .select(col("doc_id"), col("n_tok"), col("n_types"),
        round(col("n_types") * lit(1.0) / col("n_tok"), 6).as("ttr"),
        round(col("dsum") * lit(1.0) / col("denom"), 6).as("mattr"))
  }

  /** DSIR hashed-feature space size — interpolated into BOTH the Spark
    * side and the oracle CTEs (the d18/kmeansCtes lesson).
    */
  val DsirBuckets = 256

  /** Seed prefix for the DSIR feature hash. */
  val DsirSeed = "ds42"

  /** See the `t25` registry notes. `docs` needs (doc_id, lang, text);
    * target slice = `lang = 'en'`.
    */
  def dsirSelect(docs: DataFrame): DataFrame = {
    val m = DsirBuckets
    val toks = docs.select(col("doc_id"), col("lang"),
      split(trim(col("text")), "\\s+").as("ts"))
    val uni = toks.select(col("doc_id"), col("lang"), explode(col("ts")).as("g"))
    val bi = toks.filter(size(col("ts")) >= 2)
      .select(col("doc_id"), col("lang"),
        explode(expr("transform(sequence(1, size(ts) - 1), " +
          "i -> concat(element_at(ts, i), ' ', element_at(ts, i + 1)))")).as("g"))
    val feat = uni.unionByName(bi)
      .select(col("doc_id"), col("lang"),
        (Dedup.hash60(concat(lit(s"$DsirSeed|"), col("g"))) % m).as("b"))
    val bc = feat.groupBy(col("b")).agg(
      count(lit(1)).as("cr"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))
    val tot = bc.agg(sum(col("cr")).as("r"), sum(col("ct")).as("t"))
    val lam = bc.crossJoin(broadcast(tot))
      .select(col("b"),
        (log((col("ct") + 1) * lit(1.0) / (col("t") + m))
          - log((col("cr") + 1) * lit(1.0) / (col("r") + m))).as("lam"))
    val sc = feat.join(broadcast(lam), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feat"),
        round(sum(col("lam")) / count(lit(1)), 6).as("dsir_score"))
    val n = docs.agg(count(lit(1)).as("n"))
    graft.operators.Relational
      .globalRowNumber(sc, Seq(col("dsir_score").desc, col("doc_id")), "rank")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("n_feat"), col("dsir_score"), col("rank"),
        (col("rank") * 4 <= col("n")).as("selected"))
  }

  /** See the `t23` registry notes. `docs` needs (doc_id, text). */
  def gopherRules(docs: DataFrame): DataFrame = {
    val g = docs
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
    val f = g.groupBy(col("doc_id")).agg(
      sum(col("c")).as("n"),
      sum(col("c") * length(col("t"))).as("chars"),
      sum(when(col("t").isin(enStopwords: _*), col("c")).otherwise(0L)).as("stop_c"),
      max(col("c")).as("mx"))
    val okNtok = col("n").between(50, 100000)
    val okWlen = col("chars") >= lit(3) * col("n") && col("chars") <= lit(10) * col("n")
    val okStop = col("stop_c") * 100 >= col("n")
    val okDom = col("mx") * 10 <= col("n")
    f.select(col("doc_id"), col("n").as("n_tok"),
      round(col("chars") * lit(1.0) / col("n"), 6).as("mean_wlen"),
      okNtok.as("ok_ntok"), okWlen.as("ok_wlen"),
      okStop.as("ok_stop"), okDom.as("ok_dom"),
      (okNtok && okWlen && okStop && okDom).as("keep"))
  }

  /** `t23`'s stopword list as a SQL IN-list — interpolated from the same
    * [[enStopwords]] the Spark side filters on, so the two engines
    * cannot diverge on the rule set (the d18/kmeansCtes lesson).
    */
  def stopwordsInList: String =
    enStopwords.map(w => s"'$w'").mkString("(", ", ", ")")

  /** `t22`'s exact-recount stage: count ONLY the sketch's candidate
    * tokens (a ≤m literal IN filter — scan-side, never a join against a
    * corpus-derived frame) and take the top k as a distributed
    * TakeOrdered. Factored out so the plan-shape spec can pin the
    * map-side combine and the literal filter on the production path.
    */
  def candidateRecount(tok: DataFrame, cands: Seq[String], k: Int): DataFrame =
    tok.filter(col("t").isin(cands: _*))
      .groupBy(col("t")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("t")).limit(k)
}
