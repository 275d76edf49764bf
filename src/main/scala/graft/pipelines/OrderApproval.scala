package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Envelope.{intOrZero, v}

/** EP1 — order-approval stock transfer (reference: routes/makeRouter.js:78-134).
  *
  * Reference dataflow, re-expressed set-oriented (SURVEY.md §3 EP1):
  * status gate → subtable explode → required-field skip → first-wins dedup
  * per inventory key → inventory lookup join → stock constraint → move
  * `general_stock_qty → qty_office`.
  *
  * Structural divergences from the reference, both deliberate (SURVEY §7
  * risk 2):
  *  - the reference's per-row GET/PUT loop (the N+1 anti-pattern) becomes
  *    one keyed join + one merged write;
  *  - the reference aborts mid-loop on a stock violation, leaving earlier
  *    PUTs applied (non-atomic). We validate first and split violations to
  *    a dead-letter output — no partial application.
  *
  * Scale: a webhook's dedup runs on its own row (array functions over the
  * subtable), so order events shuffle only for the per-key delta sum; the
  * merge is one keyed outer join with NO broadcast hints — every join side here is
  * batch-derived, and AQE broadcast-converts while a side is actually
  * small instead of the hint forcing driver materialization at any
  * cardinality.
  */
object OrderApproval {

  final case class Result(
      inventory: DataFrame,   // inventory with transfers applied
      violations: DataFrame,  // line items rejected by the stock constraint
      missing: DataFrame)     // line items whose inventory_id has no record (Kintone 404 path)

  /** P4 gate + P5 required-field skip (makeRouter.js:81-96), inside each
    * approved webhook's subtable array: `(line_no, inventory_id,
    * bag_model, qty)` structs for the rows that pass, where `line_no` is
    * the row's position in the original subtable.
    */
  private def validItems(events: DataFrame): DataFrame =
    events
      // P4: silent status gate (makeRouter.js:81)
      .filter(v(col("record.Status")) === "Approved")
      .select(col("event_id"), filter(
        transform(v(col("record.order_details_table_website")), (item, i) => struct(
          i.as("line_no"),
          v(item("value")("inventory_id")).as("inventory_id"),
          v(item("value")("bag_model_website")).as("bag_model"),
          intOrZero(v(item("value")("qty_website"))).as("qty"))),
        // P5: skip rows missing key fields or with falsy qty (0 dropped, as
        // the reference's `!qty` does — makeRouter.js:94-96)
        it => it("inventory_id").isNotNull && it("inventory_id") =!= "" &&
          it("bag_model").isNotNull && it("bag_model") =!= "" && it("qty") =!= 0)
        .as("items"))

  /** One row per array element: F1 subtable explode. */
  private def flat(items: DataFrame): DataFrame =
    items.select(col("event_id"), inline(col("items")))

  /** D1: first-wins dedup by inventory_id within each webhook, in subtable
    * order (makeRouter.js:86,99-101,127). Faithful to the reference bug:
    * later duplicate rows are dropped entirely, NOT accumulated. A
    * webhook is one row, so the dedup is an array filter on that row —
    * an item survives when its key's first occurrence among the valid
    * items is its own position — and needs no shuffle.
    */
  def lineItems(events: DataFrame): DataFrame =
    flat(validItems(events).select(col("event_id"), filter(col("items"), (it, i) =>
      array_position(col("items.inventory_id"), it("inventory_id")) === i + 1).as("items")))

  /** Corrected-variant dedup (SURVEY §2.5 D1 note): accumulate duplicate
    * SKU rows instead of dropping them — the "fixed" semantics shipped
    * alongside the faithful one.
    */
  def lineItemsAccumulating(events: DataFrame): DataFrame =
    flat(validItems(events))
      .groupBy(col("event_id"), col("inventory_id"))
      .agg(min(col("line_no")).as("line_no"),
        // min_by, not first: first() in an unordered groupBy is
        // partition-order nondeterministic
        min_by(col("bag_model"), col("line_no")).as("bag_model"),
        sum(col("qty")).cast("int").as("qty"))

  /** Apply approved transfers against a flat inventory snapshot
    * (columns: inventory_id, general_stock_qty, qty_office, ...).
    */
  def apply(events: DataFrame, inventory: DataFrame): Result = {
    val items = lineItems(events)

    // J1: keyed lookup join. Aggregate deltas per key first so the join is
    // one row per inventory key (map-side combine before the shuffle).
    val deltas = items.groupBy(col("inventory_id"))
      .agg(sum(col("qty")).cast("int").as("delta"))

    // Missing inventory key = the reference's GET-404 error path → dead letter.
    val missing = items.join(inventory.select("inventory_id"), Seq("inventory_id"), "left_anti")

    // deltas is one row per touched inventory key — BATCH-DERIVED, so no
    // broadcast hint: a hint would force driver materialization at any
    // key cardinality, while the plain keyed join lets AQE
    // broadcast-convert only while the side is actually small (the
    // Analog pattern).
    val joined = inventory.join(deltas, Seq("inventory_id"), "left")

    // P7: stock constraint — validated atomically BEFORE any update. The
    // join is one row per inventory key, so the check is a per-row
    // predicate (a null stock never violates, as a filter drops null).
    val violates = col("delta").isNotNull && col("general_stock_qty") < col("delta")
    val violating = joined.filter(violates)
      .select(col("inventory_id"), col("general_stock_qty"), col("delta"))

    // A1: the transfer — general_stock_qty -= qty; qty_office += qty.
    val transfer = col("delta").isNotNull && !coalesce(violates, lit(false))
    val applied = joined.select(joined.columns.filter(_ != "delta").toIndexedSeq.map {
      case "general_stock_qty" => when(transfer, col("general_stock_qty") - col("delta"))
        .otherwise(col("general_stock_qty")).as("general_stock_qty")
      case "qty_office" => when(transfer, col("qty_office") + col("delta"))
        .otherwise(col("qty_office")).as("qty_office")
      case c => col(c)
    }: _*)

    Result(applied, violating, missing)
  }
}
