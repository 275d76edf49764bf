package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

import graft.functions.{ArrayDot, BpeCount, BpeTable, BpeTokens, CosineSimF32}

/** Engine integration via `SparkSessionExtensions` — enables
  * `--conf spark.sql.extensions=graft.GraftExtensions` (or
  * `GraftSession.builder`) to load the native functions and optimizer
  * rules into ANY session, no imports needed.
  *
  * Injected:
  *  - SQL functions `cosine_f32`, `array_dot` (native codegen'd
  *    expressions, SURVEY.md §2.10);
  *  - SQL functions `graft_bpe_count`, `graft_bpe_tokens` (r16): the
  *    SERVED tokenizer for pure-SQL pipelines — the merge table loads
  *    from the [[graft.llm.BpeArtifact]] root named by
  *    `spark.graft.bpe.modelRoot` at ANALYSIS time, so every query
  *    plans against the version the atomic pointer names right then
  *    (always fresh across retrains/purges; no stale JVM cache), and
  *    the table rides the plan as a reference object exactly like the
  *    DataFrame API's codegen'd [[BpeCount]];
  *  - SQL functions `graft_quality_route(text)` and
  *    `graft_budget_route(text[, min_tok, max_tok])` (r19): the st8
  *    quality battery and the st13 token-budget gate as STRUCT(route,
  *    reason) scalars — the front-door ingestion gates for pure-SQL
  *    deployments, built from the same shared column definitions as
  *    the DataFrame routes (the budget gate meters through the SERVED
  *    model, same freshness contract as `graft_bpe_count`);
  *  - SQL TABLE function `graft_ann_topk(query_vec, k[, nprobe])`
  *    (r17): the SERVED vector index for pure-SQL pipelines — resolves
  *    `spark.graft.index.root` (plain IVF/IVF-PQ root, or an
  *    [[graft.streaming.IndexLifecycle]] root's CURRENT generation) at
  *    ANALYSIS time, same freshness contract as the BPE functions;
  *  - SQL TABLE function `graft_ann_topk_batch(queries, k[, nprobe])`
  *    (r18): BATCH serving from pure SQL — `queries` names a
  *    table/view of (vec_id, embedding) rows;
  *  - LATERAL-correlated serving (r19):
  *    `FROM q, LATERAL graft_ann_topk(q.vec, k)` is HOSTED — the
  *    injected-TVF surface still cannot carry correlation (the r18
  *    finding stands), so the builder returns a
  *    [[graft.plans.AnnTopKHole]] placeholder and the injected
  *    [[graft.plans.ResolveLateralAnnTopK]] resolution rule rewrites
  *    the lateral join into the `graft_ann_topk_batch` serving plan;
  *    unhostable shapes fail analysis loudly via
  *    [[graft.plans.CheckAnnTopKHole]];
  *  - [[SelfSimilarityFold]], a constant-folding rule for degenerate
  *    similarity calls.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("cosine_f32"),
      new ExpressionInfo(classOf[CosineSimF32].getName, "cosine_f32"),
      (args: Seq[Expression]) => {
        GraftExtensions.requireArity("cosine_f32(x, y)", 2, args)
        CosineSimF32(args(0), args(1))
      }))
    e.injectFunction((
      FunctionIdentifier("array_dot"),
      new ExpressionInfo(classOf[ArrayDot].getName, "array_dot"),
      (args: Seq[Expression]) => {
        GraftExtensions.requireArity("array_dot(x, y)", 2, args)
        ArrayDot(args(0), args(1))
      }))
    e.injectTableFunction((
      FunctionIdentifier("graft_ann_topk"),
      new ExpressionInfo(classOf[graft.llm.Similarity.type].getName,
        "graft_ann_topk"),
      GraftExtensions.annTopKBuilder))
    e.injectTableFunction((
      FunctionIdentifier("graft_ann_topk_batch"),
      new ExpressionInfo(classOf[graft.llm.Similarity.type].getName,
        "graft_ann_topk_batch"),
      GraftExtensions.annTopKBatchBuilder))
    e.injectFunction((
      FunctionIdentifier("graft_bpe_count"),
      new ExpressionInfo(classOf[BpeCount].getName, "graft_bpe_count"),
      GraftExtensions.bpeCountBuilder))
    e.injectFunction((
      FunctionIdentifier("graft_bpe_tokens"),
      new ExpressionInfo(classOf[BpeTokens].getName, "graft_bpe_tokens"),
      GraftExtensions.bpeTokensBuilder))
    e.injectFunction((
      FunctionIdentifier("graft_quality_route"),
      new ExpressionInfo(classOf[graft.streaming.Streams.type].getName,
        "graft_quality_route"),
      GraftExtensions.qualityRouteBuilder))
    e.injectFunction((
      FunctionIdentifier("graft_budget_route"),
      new ExpressionInfo(classOf[graft.streaming.Streams.type].getName,
        "graft_budget_route"),
      GraftExtensions.budgetRouteBuilder))
    e.injectOptimizerRule(_ => SelfSimilarityFold)
    // r19 (the r18 verdict's #1): LATERAL-correlated ANN serving. The
    // injected-TVF surface still cannot host correlation (its builder
    // sees only argument expressions), but a RESOLUTION rule sees the
    // whole plan: a correlated graft_ann_topk call resolves to an
    // AnnTopKHole placeholder, and ResolveLateralAnnTopK rewrites the
    // enclosing lateral join into the graft_ann_topk_batch serving
    // plan. Unhostable shapes fail analysis loudly via the check rule.
    e.injectResolutionRule(session => graft.plans.ResolveLateralAnnTopK(session))
    e.injectCheckRule(_ => graft.plans.CheckAnnTopKHole)
  }
}

object GraftExtensions {

  /** Builders receive whatever argument list the query wrote — a bare
    * `args.head`/`args(1)` would surface a wrong-arity call as a naked
    * NoSuchElementException (and silently IGNORE extra arguments, the
    * worse failure: `graft_bpe_count(text, 7)` metering as if the 7
    * meant something). Fail analysis with the expected signature
    * instead (r16 ADVICE).
    */
  private[graft] def requireArity(signature: String, n: Int,
      args: Seq[Expression]): Unit =
    if (args.length != n) throw new IllegalArgumentException(
      s"$signature takes exactly $n argument${if (n == 1) "" else "s"}, " +
        s"got ${args.length}")

  /** ONE index-serving entry for every SQL surface (point TVF, batch
    * TVF, hosted LATERAL): resolve a lifecycle root to its CURRENT
    * generation, then serve whatever store shape
    * [[graft.llm.Similarity.IvfIndex.open]] detects there (Flat, PQ
    * generation or standalone PQ build, SQ8).
    */
  private[graft] def servePersistedIndex(
      spark: org.apache.spark.sql.SparkSession, root: String,
      q: org.apache.spark.sql.DataFrame, k: Int,
      nprobe: Option[Int]): org.apache.spark.sql.DataFrame =
    graft.llm.Similarity.IvfIndex.open(spark,
      graft.streaming.IndexLifecycle.currentRoot(spark, root).getOrElse(root))
      .serve(q, k, nprobe)

  /** The serving merge table, loaded at analysis time from the active
    * session's `spark.graft.bpe.modelRoot`. Fails loudly (not with a
    * confusing resolution error) when the knob is unset.
    */
  private def servedBpeTable(): BpeTable = {
    val spark = org.apache.spark.sql.SparkSession.active
    val root = spark.conf.getOption(GraftConfig.BpeModelRootKey).getOrElse(
      throw new IllegalStateException(
        "graft_bpe_count/graft_bpe_tokens meter with the SERVED model: " +
          s"set ${GraftConfig.BpeModelRootKey} to a BpeArtifact root " +
          "(or use graft.functions.Bpe with an explicit table)"))
    new BpeTable(graft.llm.BpeArtifact.loadPairs(spark, root).toArray)
  }

  /** `graft_ann_topk(query_vec, k[, nprobe])` — the SERVED vector index
    * for pure-SQL pipelines (r17, the `graft_bpe_count` parity move):
    * a table function returning the top-k `(vid, sim)` neighbors of a
    * literal query vector from the index root named by
    * `spark.graft.index.root`. The root is resolved at ANALYSIS time —
    * an [[graft.streaming.IndexLifecycle]] root serves its CURRENT
    * committed generation, a plain index root serves itself, PQ-shaped
    * stores take the ADC + exact-re-rank path — so every query plans
    * against whatever the atomic pointer/manifest names right then:
    * always fresh across appends, compactions, retrain cutovers, and
    * purges, no stale JVM cache, exactly the freshness contract of the
    * BPE SQL functions. Arguments must be foldable (a query vector is
    * a constant of the query, not a column — for a column of queries
    * use [[annTopKBatchBuilder]]'s `graft_ann_topk_batch` from SQL, or
    * the DataFrame API's `IvfIndex.serve`).
    */
  private[graft] def annTopKBuilder(
      args: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.types._
    if (args.length < 2 || args.length > 3)
      throw new IllegalArgumentException(
        s"graft_ann_topk(query_vec, k[, nprobe]) takes 2 or 3 arguments, " +
          s"got ${args.length}")
    def fold(e: Expression, what: String): Any = {
      if (!e.foldable) throw new IllegalArgumentException(
        s"graft_ann_topk: $what must be a foldable literal expression")
      e.eval()
    }
    def foldInt(e: Expression, what: String): Int = fold(e, what) match {
      case i: Int => i
      case l: Long => l.toInt
      case s: Short => s.toInt
      case other => throw new IllegalArgumentException(
        s"graft_ann_topk: $what must be an integer literal, got $other")
    }
    if (!args(0).foldable) {
      // a CORRELATED call (r19): the vector references the lateral's
      // left side, which this builder cannot see — k/nprobe must still
      // be literals (fail loudly here: a correlated k is unhostable),
      // and the vector's shape is validated by the resolution rule once
      // it can resolve the reference. The returned hole is rewritten by
      // ResolveLateralAnnTopK or fails analysis via CheckAnnTopKHole.
      val kc = foldInt(args(1), "k")
      if (kc < 1) throw new IllegalArgumentException(
        s"graft_ann_topk: k must be >= 1, got $kc")
      val npc = if (args.length == 3) Some(foldInt(args(2), "nprobe")) else None
      return graft.plans.AnnTopKHole(args(0), kc, npc)
    }
    val vec: Seq[Float] = (fold(args(0), "query_vec"), args(0).dataType) match {
      case (a: org.apache.spark.sql.catalyst.util.ArrayData,
          ArrayType(et: NumericType, _)) =>
        (0 until a.numElements()).map { i =>
          et match {
            case FloatType => a.getFloat(i)
            case DoubleType => a.getDouble(i).toFloat
            case IntegerType => a.getInt(i).toFloat
            case LongType => a.getLong(i).toFloat
            case ShortType => a.getShort(i).toFloat
            case ByteType => a.getByte(i).toFloat
            case dt: DecimalType =>
              a.get(i, dt).asInstanceOf[org.apache.spark.sql.types.Decimal]
                .toFloat
          }
        }
      case (null, _) => throw new IllegalArgumentException(
        "graft_ann_topk: query_vec must not be null")
      case (_, dt) => throw new IllegalArgumentException(
        s"graft_ann_topk: query_vec must be a numeric array literal, " +
          s"got ${dt.simpleString}")
    }
    val k = foldInt(args(1), "k")
    if (k < 1) throw new IllegalArgumentException(
      s"graft_ann_topk: k must be >= 1, got $k")
    val nprobe = if (args.length == 3) Some(foldInt(args(2), "nprobe")) else None
    val spark = org.apache.spark.sql.SparkSession.active
    val root = spark.conf.getOption(GraftConfig.IndexRootKey).getOrElse(
      throw new IllegalStateException(
        "graft_ann_topk serves the PERSISTED vector index: set " +
          s"${GraftConfig.IndexRootKey} to an IVF index or IndexLifecycle " +
          "root (or serve a DataFrame directly: " +
          "graft.llm.Similarity.IvfIndex.open(spark, root).serve(queries, k))"))
    import spark.implicits._
    // qid −1: the serving paths exclude vid == qid (self-match), and a
    // SQL literal query is not a corpus member — no corpus vid may be
    // masked (stream batch ids are non-negative, so −1 cannot collide)
    val q = Seq((-1L, vec)).toDF("vec_id", "embedding")
    val served = servePersistedIndex(spark, root, q, k, nprobe)
    served.select(served("vid"), served("sim")).queryExecution.analyzed
  }

  /** `graft_ann_topk_batch(queries, k[, nprobe])` — SQL BATCH serving
    * (r18, the r17 verdict's #6): `queries` is a foldable STRING naming
    * a table/view with (vec_id, embedding) rows; returns one
    * (qid, vid, sim) row per query × top-k neighbor, same index-root
    * resolution and freshness contract as [[annTopKBuilder]].
    *
    * Relation to `LATERAL graft_ann_topk(q.vec, k)`: an injected table
    * function's builder receives only the call's argument EXPRESSIONS
    * and must return a self-contained plan at resolution time — Spark's
    * `injectTableFunction` surface carries no outer-plan correlation
    * (the r18 finding, still true). Since r19 the lateral form IS
    * hosted, one level up: the builder returns a
    * [[graft.plans.AnnTopKHole]] and the injected
    * [[graft.plans.ResolveLateralAnnTopK]] resolution rule — which
    * sees the whole plan — rewrites the lateral join into exactly this
    * function's batch-join plan (per-row correlation executed as ONE
    * batch join, which is how the engine runs it anyway). This named-
    * relation form remains the identity-carrying surface: it excludes
    * `vid == vec_id` self-matches, which the identity-less lateral
    * form cannot (GraftExtensionsSpec pins both semantics).
    */
  private[graft] def annTopKBatchBuilder(
      args: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.types.StringType
    if (args.length < 2 || args.length > 3)
      throw new IllegalArgumentException(
        "graft_ann_topk_batch(queries, k[, nprobe]) takes 2 or 3 " +
          s"arguments, got ${args.length}")
    val table = (args.head.foldable, args.head.dataType) match {
      case (true, StringType) =>
        val v = args.head.eval()
        if (v == null) throw new IllegalArgumentException(
          "graft_ann_topk_batch: queries must not be null")
        v.toString
      case _ => throw new IllegalArgumentException(
        "graft_ann_topk_batch: queries must be a string literal naming " +
          "a table/view with (vec_id, embedding) rows")
    }
    def foldInt(e: Expression, what: String): Int = {
      if (!e.foldable) throw new IllegalArgumentException(
        s"graft_ann_topk_batch: $what must be a foldable integer literal")
      e.eval() match {
        case i: Int => i
        case l: Long => l.toInt
        case s: Short => s.toInt
        case other => throw new IllegalArgumentException(
          s"graft_ann_topk_batch: $what must be an integer literal, got $other")
      }
    }
    val k = foldInt(args(1), "k")
    if (k < 1) throw new IllegalArgumentException(
      s"graft_ann_topk_batch: k must be >= 1, got $k")
    val nprobe = if (args.length == 3) Some(foldInt(args(2), "nprobe")) else None
    val spark = org.apache.spark.sql.SparkSession.active
    val root = spark.conf.getOption(GraftConfig.IndexRootKey).getOrElse(
      throw new IllegalStateException(
        "graft_ann_topk_batch serves the PERSISTED vector index: set " +
          s"${GraftConfig.IndexRootKey} to an IVF index or IndexLifecycle " +
          "root (or serve a DataFrame directly: " +
          "graft.llm.Similarity.IvfIndex.open(spark, root).serve(queries, k))"))
    val q = spark.table(table)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
    val served = servePersistedIndex(spark, root, q, k, nprobe)
    served.select(served("qid"), served("vid"), served("sim"))
      .queryExecution.analyzed
  }

  /** `graft_quality_route(text)` → STRUCT(route, reason) — the st8
    * ingestion battery for pure-SQL pipelines (r19, the r18 verdict's
    * #6): built from the SAME column definitions the DataFrame route
    * and the composed front door use
    * ([[graft.streaming.Streams.qualityCols]]), so the SQL verdict can
    * never drift from st8's. `route` is 'pass'/'fail'; `reason` the
    * first failing battery rule (null on pass).
    */
  private[graft] def qualityRouteBuilder(args: Seq[Expression]): Expression = {
    requireArity("graft_quality_route(text)", 1, args)
    import org.apache.spark.sql.functions.{struct, when}
    val Shim = org.apache.spark.sql.graftshim.Shim
    val (_, reason) = graft.streaming.Streams.qualityCols(
      Shim.column(args.head))
    Shim.expressionEager(struct(
      when(reason.isNull, "pass").otherwise("fail").as("route"),
      reason.as("reason")))
  }

  /** `graft_budget_route(text[, min_tok, max_tok])` → STRUCT(route,
    * reason) — the st13 token-budget gate metered through the SERVED
    * tokenizer (r19): the merge table loads from
    * `spark.graft.bpe.modelRoot` at ANALYSIS time (the
    * `graft_bpe_count` freshness contract) and the verdict is
    * [[graft.streaming.Streams.budgetReason]] verbatim. The 1-arg form
    * uses the composed front door's bounds (64, 4096); bounds must be
    * integer literals with min ≤ max — fail-loud, never defaulted.
    */
  private[graft] def budgetRouteBuilder(args: Seq[Expression]): Expression = {
    if (args.length != 1 && args.length != 3)
      throw new IllegalArgumentException(
        "graft_budget_route(text[, min_tok, max_tok]) takes 1 or 3 " +
          s"arguments, got ${args.length}")
    def foldLong(e: Expression, what: String): Long = {
      if (!e.foldable) throw new IllegalArgumentException(
        s"graft_budget_route: $what must be a foldable integer literal")
      e.eval() match {
        case i: Int => i.toLong
        case l: Long => l
        case s: Short => s.toLong
        case other => throw new IllegalArgumentException(
          s"graft_budget_route: $what must be an integer literal, got $other")
      }
    }
    val (minTok, maxTok) =
      if (args.length == 3) (foldLong(args(1), "min_tok"),
        foldLong(args(2), "max_tok"))
      else (64L, 4096L)
    if (minTok < 0 || maxTok < minTok) throw new IllegalArgumentException(
      s"graft_budget_route: bounds must satisfy 0 <= min_tok <= max_tok, " +
        s"got ($minTok, $maxTok)")
    import org.apache.spark.sql.functions.{size, split, struct, trim, when}
    val Shim = org.apache.spark.sql.graftshim.Shim
    val text = Shim.column(args.head)
    // n_ws via size(split(...)) — the st13 whitespace convention the
    // oracle replays (whitespace-only doc counts 1), see bpeBudgetRoute
    val nWs = size(split(trim(text), "\\s+")).cast("long")
    val nBpe = Shim.column(BpeCount(args.head, servedBpeTable()))
    val reason = graft.streaming.Streams.budgetReason(nBpe, nWs,
      minTok, maxTok)
    Shim.expressionEager(struct(
      when(reason.isNull, "pass").otherwise("fail").as("route"),
      reason.as("reason")))
  }

  private[graft] def bpeCountBuilder(args: Seq[Expression]): Expression = {
    requireArity("graft_bpe_count(text)", 1, args)
    BpeCount(args.head, servedBpeTable())
  }

  private[graft] def bpeTokensBuilder(args: Seq[Expression]): Expression = {
    requireArity("graft_bpe_tokens(text)", 1, args)
    BpeTokens(args.head, servedBpeTable())
  }
}

/** `cosine_f32(x, x)` normalizes to the mathematically exact 1.0 for any
  * non-null, finite, non-zero x (the general-path value can be 1 ulp off
  * via `dot/(√dot·√dot)`). The rewrite keeps exact edge semantics: null
  * in → null out; zero vector → NaN (0/0); NaN components → NaN (NaN
  * dot); overflow-to-+Inf dot → NaN (Inf/Inf) — all detected from one
  * `array_dot` pass (dot = Σx² is finite-positive iff the general path
  * yields exactly 1.0) instead of cosine's three accumulators + sqrts +
  * division. Fires only on semantically-equal attribute references.
  */
object SelfSimilarityFold extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, GreaterThan, If, IsNull, LessThan}
  import org.apache.spark.sql.types.DoubleType

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case CosineSimF32(a: AttributeReference, b: AttributeReference)
        if a.semanticEquals(b) =>
      val dot = ArrayDot(a, a)
      // 0 < dot < +Inf → 1.0; dot = 0 (zero vector), NaN (NaN component;
      // comparisons are false for NaN) or +Inf (overflow) → NaN
      If(IsNull(a), Literal(null, DoubleType),
        If(And(GreaterThan(dot, Literal(0.0, DoubleType)),
            LessThan(dot, Literal(Double.PositiveInfinity, DoubleType))),
          Literal(1.0, DoubleType), Literal(Double.NaN, DoubleType)))
  }
}
