package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Envelope
import graft.core.Envelope.v

/** EP2 — manufacturing station movement (reference: routes/makeRouter.js:137-211).
  *
  * A bag's `Status` change decrements the counter column of the previous
  * station and increments the new one; `Complete` increments
  * `qty_completed` instead of a station column (`statusMap['Complete'] =
  * null`, makeRouter.js:175).
  *
  * Because the event carries `Previous_Status` (the transition is
  * self-describing — the reference's one genuinely good design idea,
  * SURVEY.md §2.9), each event reduces to a constant per-station delta
  * vector; deltas are commutative, so a batch `groupBy(inventory_id).sum`
  * is exactly equivalent to the reference's sequential read-modify-write —
  * and fixes its TOCTOU race by construction.
  *
  * Reference quirk reproduced faithfully: when both statuses map to the
  * SAME column (e.g. `Need Sewer Assigned` → `With Sewer`, both
  * `qty_sewer`), the reference's second `update[col] = cur + 1` overwrites
  * the first `update[col] = cur - 1` — net effect +1, not 0
  * (makeRouter.js:178-189). [[deltaSums]] encodes that overwrite.
  */
object ProcessMovement {

  /** Status → counter column (makeRouter.js:165-176). `Complete` maps to
    * no station column; unmapped statuses contribute nothing.
    */
  val statusMap: Map[String, String] = Map(
    "Office" -> "qty_office",
    "Warehouse" -> "qty_warehouse",
    "Art" -> "qty_art",
    "Cutting" -> "qty_embroidery",
    "Need Sewer Assigned" -> "qty_sewer",
    "Sewer Assigned" -> "qty_sewer",
    "Sewer Pickup" -> "qty_sewer",
    "With Sewer" -> "qty_sewer",
    "Embroidery" -> "qty_embroidery")

  final case class Result(
      inventory: DataFrame,   // counters with movement deltas applied
      deadLetter: DataFrame)  // events with a missing inventory key (P8 error path)

  private val statusToCol: Column = typedLit(statusMap)

  /** Unwrap process webhooks (parsed with Envelope.processWebhookSchema)
    * to flat transition rows.
    */
  def transitions(events: DataFrame): DataFrame =
    events.select(
      col("event_id"),
      v(col("record.inventory_id")).as("inventory_id"),
      v(col("record.bag_model")).as("bag_model"),
      v(col("record.Status")).as("status"),
      v(col("record.Previous_Status")).as("previous_status"))

  /** Per-counter delta sums of a transition stream, one aggregate column
    * per name in `counters`, for an arbitrary status→column dictionary:
    * J3 lookup ×2 + A2/A3 counter updates, with the same-column-overwrite
    * quirk — the CASE form the `ep2_process_movement` oracle SQL uses.
    * Parameterized so the same counter state machine runs over any keyed
    * transition stream (the Analog ep2 entry); put it in one
    * `groupBy(key).agg`.
    *
    * @param dict           status → counter column (typedLit map)
    * @param terminalStatus the status that increments `terminalCol`
    *                       instead of a station column ('Complete' in the
    *                       reference)
    */
  def deltaSums(dict: Column, prev: Column, curr: Column,
      terminalStatus: String, terminalCol: String, counters: Seq[String]): Seq[Column] = {
    val prevCol = element_at(dict, prev)
    val currCol = element_at(dict, curr)
    // prev decrement — suppressed when curr targets the same column (the
    // reference's update-object overwrite, makeRouter.js:180-189)
    val dec = prevCol.isNotNull && (currCol.isNull || prevCol =!= currCol)
    def one(p: Column): Column = when(p, 1L).otherwise(0L)
    counters.map { c =>
      val terminal = if (c == terminalCol) one(curr === terminalStatus) else lit(0L)
      sum(one(currCol === c) - one(dec && prevCol === c) + terminal)
    }
  }

  /** Apply a batch of movement events to a flat inventory snapshot. */
  def apply(events: DataFrame, inventory: DataFrame): Result = {
    val t = transitions(events)

    // P6: no-op transitions are silently skipped (makeRouter.js:149-152)
    val moving = t.filter(
      col("previous_status").isNotNull && col("previous_status") =!= col("status"))

    // P8: missing inventory key is an ERROR row, unlike P5's silent skip
    // (makeRouter.js:154-157)
    val deadLetter = moving.filter(col("inventory_id").isNull || col("inventory_id") === "")
    val valid = moving.filter(col("inventory_id").isNotNull && col("inventory_id") =!= "")

    // A2/A3: each event's per-station delta vector, summed per key in one
    // aggregate — map-side partial aggregation collapses the +1/-1 stream
    // before the shuffle, so 100 TB of events reduce to |keys| rows.
    val counters = Envelope.counterCols
    val sums = deltaSums(statusToCol, col("previous_status"), col("status"), "Complete",
      "qty_completed", counters).zip(counters).map { case (d, c) => d.as(s"__d_$c") }
    val deltas = valid.groupBy(col("inventory_id")).agg(sums.head, sums.tail: _*)

    // Merge into the ledger: counter += delta for every station column.
    // deltas is one row per touched inventory key — batch-derived, so no
    // broadcast hint (AQE converts while small; see OrderApproval).
    val joined = inventory.join(deltas, Seq("inventory_id"), "left")
    val merged = joined.select(joined.columns.filterNot(_.startsWith("__d_")).toIndexedSeq.map {
      c => if (counters.contains(c)) (col(c) + coalesce(col(s"__d_$c"), lit(0L))).as(c) else col(c)
    }: _*)

    Result(merged, deadLetter)
  }
}
