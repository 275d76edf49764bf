package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{DataType, LongType, MetadataBuilder, StructType}

/** Exactly-once-style merge for `foreachBatch` sinks (SURVEY.md §2.9):
  * the reference double-applies on retries (no idempotency key); here each
  * micro-batch's effect is guarded by its batchId, so replays of an
  * already-applied batch are no-ops.
  *
  * State contract: the ledger carries a single `__max_applied_batch`
  * high-watermark column (LONG, same value on every row). Batch ids are
  * assigned monotonically per streaming query, so "batchId ≤ watermark"
  * is exactly "already applied" — O(1) bookkeeping per ledger row instead
  * of the O(rows × batches) growth of an applied-id array.
  *
  * Deciding "already applied" takes, in order:
  *  1. the watermark recorded as metadata ([[WatermarkKey]]) on the
  *     state's `__max_applied_batch` field — [[ParquetLedger.get]] attaches
  *     the one its commit record holds, so a durable ledger's replay check
  *     runs no Spark action;
  *  2. no `__max_applied_batch` column at all: nothing was ever applied;
  *  3. otherwise (an in-memory state, a ledger written before commit
  *     records) one `filter(col >= batchId).limit(1)` probe job.
  * The recorded watermark is trusted as the state's own: a state derived
  * from a ledger read must not gain rows stamped above it (a single
  * writer per ledger, as Spark serializes one query's foreachBatch).
  *
  * The batch id enters the plan as a [[BatchStamp]], never a literal, so
  * the probe and the stamped write compile once for every batch id.
  */
object IdempotentMerge {

  val BatchCol = "__max_applied_batch"

  /** Field-metadata key holding a state's known applied watermark
    * (`Long.MinValue` when no batch has been applied). */
  val WatermarkKey = "graft.applied_watermark"

  /** Wrap a merge function so it only applies when `batchId` is above the
    * ledger's applied-batch high-watermark.
    */
  def apply(state: DataFrame, batchId: Long)(merge: DataFrame => DataFrame): DataFrame = {
    val stamp = Shim.column(BatchStamp(batchId))
    val tracked = state.columns.contains(BatchCol)
    val already = recordedWatermark(state) match {
      case Some(wm) => wm >= batchId
      case None => tracked && !state.filter(col(BatchCol) >= stamp).isEmpty
    }
    if (already) state
    else merge(if (tracked) state else state.withColumn(BatchCol, lit(null).cast("long")))
      .withColumn(BatchCol, stamp)
  }

  /** The applied watermark recorded on `state`'s schema, if any. */
  def recordedWatermark(state: DataFrame): Option[Long] =
    state.schema.find(_.name == BatchCol).map(_.metadata)
      .filter(_.contains(WatermarkKey)).map(_.getLong(WatermarkKey))

  /** `schema` with `watermark` recorded on its batch column (unchanged
    * when it has none). */
  def withWatermark(schema: StructType, watermark: Option[Long]): StructType =
    StructType(schema.map { f =>
      if (f.name != BatchCol) f
      else f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
        .putLong(WatermarkKey, watermark.getOrElse(Long.MinValue)).build())
    })

  /** `df` without a recorded watermark, so it never reaches a file footer
    * (a footer's schema is what a reader without a commit record infers). */
  def stripWatermark(df: DataFrame): DataFrame =
    df.schema.find(_.name == BatchCol) match {
      case Some(f) if f.metadata.contains(WatermarkKey) =>
        df.withMetadata(BatchCol, new MetadataBuilder().withMetadata(f.metadata)
          .remove(WatermarkKey).build())
      case _ => df
    }
}

/** A batch id as a deterministic, non-foldable leaf. Generated code reads
  * it from the `references` array instead of inlining a literal, so a
  * stage that stamps or compares batch ids is the same Java source for
  * every batch and compiles once (codegen cache hit on later batches).
  */
private[streaming] case class BatchStamp(value: Long) extends LeafExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def prettyName: String = "batch_id"
  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("batchId", java.lang.Long.valueOf(value), "java.lang.Long")
    ev.copy(code = code"final long ${ev.value} = $ref.longValue();", isNull = FalseLiteral)
  }
}
