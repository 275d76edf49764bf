package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, OuterReference, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{LateralJoin, LeafNode, LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, NumericType}

import graft.GraftConfig

/** Placeholder a CORRELATED `graft_ann_topk(vec_expr, k[, nprobe])` call
  * resolves to (r19, the r18 verdict's #1): Spark's `injectTableFunction`
  * surface hands the builder only the call's argument expressions, with
  * no outer-plan correlation — so the builder cannot host
  * `FROM q, LATERAL graft_ann_topk(q.vec, 5)` itself (the r18 finding,
  * still true). Instead of failing there, the builder now returns this
  * UNRESOLVED leaf carrying the raw arguments, and
  * [[ResolveLateralAnnTopK]] — an `injectResolutionRule` rule, which
  * sees the WHOLE plan — rewrites the enclosing lateral join into the
  * same batch-join serving plan `graft_ann_topk_batch` returns (the
  * engine executes correlation as one batch join anyway). A hole that
  * survives resolution (a genuinely unhostable shape) fails analysis
  * loudly via [[CheckAnnTopKHole]].
  *
  * Semantics note, spec-pinned: the correlated form carries only the
  * VECTOR, so — exactly like the literal point form, which serves under
  * qid −1 — it has no corpus identity and never excludes a "self"
  * match. `graft_ann_topk_batch` excludes `vid == vec_id`; the two are
  * row-for-row equal precisely when the query relation's ids are not
  * corpus members (the production serving case).
  */
case class AnnTopKHole(vec: Expression, k: Int, nprobe: Option[Int])
    extends LeafNode {
  val vidAttr: AttributeReference =
    AttributeReference("vid", LongType, nullable = false)()
  val simAttr: AttributeReference =
    AttributeReference("sim", DoubleType, nullable = true)()
  override def output: Seq[Attribute] = Seq(vidAttr, simAttr)
  override lazy val resolved: Boolean = false
  override def simpleString(maxFields: Int): String =
    s"AnnTopKHole(correlated graft_ann_topk, k=$k${
      nprobe.fold("")(n => s", nprobe=$n")}) — hostable only as " +
      "FROM <rel>, LATERAL graft_ann_topk(<vec over rel>, k[, nprobe])"
}

/** Rewrite `LateralJoin(left, LATERAL graft_ann_topk(vec_expr, k))` into
  * the batch-join serving plan (r19). Shape:
  *
  *  1. distinct, non-null query vectors projected off `left`
  *     (duplicate rows are served once — per-row work is the lateral
  *     ILLUSION; one batch join is the execution);
  *  2. deterministic NEGATIVE vec_ids assigned by the bounded two-pass
  *     [[graft.operators.Relational.globalRowNumber]] over the vector
  *     total order — content-derived, so re-executions of either join
  *     branch agree (a `monotonically_increasing_id` would not survive
  *     the self-join), collision-free (unlike a 64-bit hash), and
  *     negative so the serving path's `vid =!= qid` self-exclusion can
  *     never mask a corpus vid (the point TVF's −1 contract, batched);
  *  3. the SAME index dispatch as `graft_ann_topk_batch` — lifecycle
  *     CURRENT generation, PQ-shaped roots on the ADC + re-rank path —
  *     resolved at ANALYSIS time (always fresh across retrains/
  *     cutovers/purges, no stale JVM cache);
  *  4. results joined back to `left` on vector equality (ArrayType
  *     equi-join; the rewrite's one extra small join) and the lateral
  *     alias re-applied so `t.vid`/`t.sim` resolve upstream.
  *
  * Scale: the query side of an ANN serve is the parameter-bounded side
  * (it broadcasts inside `IvfIndex.serve` already); the
  * corpus side streams through the directory-pruned index exactly as in
  * the batch TVF. Hosted shapes: INNER/CROSS lateral with no ON
  * condition and the call as the direct lateral relation (optionally
  * aliased). Anything else leaves the hole in place and
  * [[CheckAnnTopKHole]] fails analysis with guidance.
  */
case class ResolveLateralAnnTopK(spark: SparkSession)
    extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case lj @ LateralJoin(left, sub, joinType, cond)
          if left.resolved && cond.isEmpty &&
            (joinType == Inner || joinType == Cross) =>
        unwrap(sub.plan, None) match {
          case Some((alias, hole)) =>
            rewrite(left, alias, hole).getOrElse(lj)
          case None => lj
        }
    }

  /** Peel the (at most two, parser-emitted) SubqueryAlias layers over
    * the hole, keeping the INNERMOST user-facing alias for re-wrap.
    */
  private def unwrap(p: LogicalPlan,
      alias: Option[String]): Option[(Option[String], AnnTopKHole)] =
    p match {
      case sa: SubqueryAlias =>
        unwrap(sa.child, alias.orElse(Some(sa.alias)))
      case h: AnnTopKHole => Some((alias, h))
      case _ => None
    }

  private def rewrite(left: LogicalPlan, alias: Option[String],
      hole: AnnTopKHole): Option[LogicalPlan] = {
    val resolver = spark.sessionState.conf.resolver
    var unresolvable = false
    val vecRes = hole.vec.transformUp {
      case OuterReference(e) => e
      case u: UnresolvedAttribute =>
        left.resolve(u.nameParts, resolver).getOrElse {
          unresolvable = true; u
        }
    }
    if (unresolvable || !vecRes.resolved) return None
    vecRes.dataType match {
      case ArrayType(_: NumericType, _) => ()
      case dt => throw Shim.analysisException(
        "graft_ann_topk: the correlated query_vec must be a numeric " +
          s"array column/expression over the lateral's left side, got " +
          dt.simpleString)
    }
    val root = spark.conf.getOption(GraftConfig.IndexRootKey).getOrElse(
      throw Shim.analysisException(
        "graft_ann_topk serves the PERSISTED vector index: set " +
          s"${GraftConfig.IndexRootKey} to an IVF index or IndexLifecycle " +
          "root (or serve a DataFrame directly: " +
          "graft.llm.Similarity.IvfIndex.open(spark, root).serve(queries, k))"))
    val leftDF = Shim.ofRows(spark, left)
    val vecCol = Shim.column(vecRes)
    val qvecs = leftDF.select(vecCol.as("embedding"))
      .filter(col("embedding").isNotNull).distinct()
    val qIds = graft.operators.Relational
      .globalRowNumber(qvecs, Seq(col("embedding")), "__graft_rn")
      .select((-col("__graft_rn")).as("vec_id"), col("embedding"))
    val served = graft.GraftExtensions.servePersistedIndex(spark, root,
      qIds, hole.k, hole.nprobe)
    // alias-qualified join-back: `served` is BUILT from qIds, so
    // dataset-tagged column refs would trip the ambiguous-self-join
    // check; string-qualified names bind each side explicitly
    val servedEmb = served.as("__graft_s").join(qIds.as("__graft_q"),
        col("__graft_s.qid") === col("__graft_q.vec_id"))
      .select(col("__graft_q.embedding").as("__graft_emb"),
        col("__graft_s.vid").as("vid"), col("__graft_s.sim").as("sim"))
    val tSide = servedEmb.as(alias.getOrElse("graft_ann_topk"))
    val joined = leftDF.join(tSide, vecCol === tSide("__graft_emb"))
    val leftCols = left.output.map(Shim.column)
    val out = joined.select(
      (leftCols :+ tSide("vid") :+ tSide("sim")): _*)
    Some(out.queryExecution.analyzed)
  }
}

/** Analysis check: a [[AnnTopKHole]] that no rule could host must fail
  * LOUDLY with guidance, never surface as a bare "unresolved operator"
  * (and never, under any shape, as a silent wrong answer).
  */
object CheckAnnTopKHole extends (LogicalPlan => Unit) {
  override def apply(plan: LogicalPlan): Unit = check(plan)

  private def check(plan: LogicalPlan): Unit = plan.foreach { node =>
    node match {
      case _: AnnTopKHole => throw Shim.analysisException(
        "graft_ann_topk: a correlated call is hostable only as the " +
          "DIRECT lateral relation of an inner/cross lateral join — " +
          "FROM <rel>, LATERAL graft_ann_topk(<vec expr over rel>, " +
          "k[, nprobe]) [AS t] — with a numeric-array vector expression " +
          "resolvable against <rel>. This query's shape could not be " +
          "rewritten (outer lateral, ON condition, nested subquery " +
          "around the call, or an unresolvable vector reference). For " +
          "a column of queries use graft_ann_topk_batch('<view>', k).")
      case _ => ()
    }
    node.expressions.foreach(_.foreach {
      case s: SubqueryExpression => check(s.plan)
      case _ => ()
    })
  }
}
