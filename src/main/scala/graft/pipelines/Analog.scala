package graft.pipelines

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.{OpQuery, Tables}
import graft.OpQuery.sql

/** The EP1/EP2/EP3 pipelines instantiated over the driver's star schema /
  * literal fixtures so the duckdb-oracle gate can hash-check their full
  * semantics (SURVEY.md §3). The envelope-shaped forms of the same
  * pipelines are exercised by the ScalaTest golden specs.
  */
object Analog {

  def registry: Seq[OpQuery] = Seq(

    // ---- EP1: order approval as a set-oriented plan ----------------------
    // Analogy: approved orders = o_orderstatus 'F'; subtable line items =
    // lineitem; inventory key = l_partkey; stock = p_size. Exercises the
    // full chain: status gate (P4) → explode (F1) → qty>0 skip (P5) →
    // first-wins dedup (D1, total order) → delta agg (A1) → broadcast
    // lookup join (J1) → stock constraint split (P7).
    sql("ep1_order_approval",
      """WITH items AS (
        |  SELECT l.l_partkey, l.l_quantity,
        |    ROW_NUMBER() OVER (PARTITION BY l.l_orderkey, l.l_partkey
        |      ORDER BY l.l_linenumber, l.l_suppkey, l.l_quantity, l.l_extendedprice) AS rn
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  WHERE o.o_orderstatus = 'F' AND l.l_quantity > 0
        |), deltas AS (
        |  SELECT l_partkey, CAST(sum(l_quantity) AS BIGINT) AS delta
        |  FROM items WHERE rn = 1 GROUP BY l_partkey
        |)
        |SELECT p.p_partkey, CAST(p.p_size AS BIGINT) AS stock_before, d.delta,
        |  CAST(CASE WHEN p.p_size >= d.delta THEN p.p_size - d.delta
        |            ELSE p.p_size END AS BIGINT) AS stock_after,
        |  (p.p_size < d.delta) AS violated
        |FROM part p JOIN deltas d ON d.l_partkey = p.p_partkey""".stripMargin) { (s, d) =>
      val approved = Tables.orders(s, d)
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey").as("l_orderkey"))
      val w = Window.partitionBy(col("l_orderkey"), col("l_partkey"))
        .orderBy(col("l_linenumber"), col("l_suppkey"), col("l_quantity"), col("l_extendedprice"))
      val deltas = Tables.lineitem(s, d)
        .filter(col("l_quantity") > 0)
        .join(approved, Seq("l_orderkey"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy(col("l_partkey"))
        .agg(sum(col("l_quantity")).cast("long").as("delta"))
      // deltas has one row per purchased part — SF-scaling, and already
      // hash-partitioned by l_partkey from its aggregation: plain keyed
      // join (AQE broadcast-converts while small)
      Tables.part(s, d)
        .join(deltas, col("l_partkey") === col("p_partkey"))
        .select(col("p_partkey"),
          col("p_size").cast("long").as("stock_before"),
          col("delta"),
          when(col("p_size") >= col("delta"), col("p_size") - col("delta"))
            .otherwise(col("p_size")).cast("long").as("stock_after"),
          (col("p_size") < col("delta")).as("violated"))
    },

    // ---- EP2: station movement as commutative counter deltas -------------
    // Analogy over the events stream: per-user event_type transitions
    // (prev = lag(event_type)) drive a status→counter dictionary with the
    // reference's alias quirk (click AND view both map to cnt_engage, like
    // the four sewer statuses → qty_sewer) and terminal status ('error' ≈
    // 'Complete' → cnt_error_total, no station column). Exercises P6 no-op
    // filter, J3 dict lookup ×2, A2 summed CASE deltas, A3 terminal counter, and
    // the same-column-overwrite quirk.
    sql("ep2_process_movement",
      """WITH seq AS (
        |  SELECT user_id, event_type AS curr,
        |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events
        |), moves AS (
        |  SELECT * FROM seq WHERE prev IS NOT NULL AND prev <> curr
        |), mapped AS (
        |  SELECT user_id, curr,
        |    CASE prev WHEN 'click' THEN 'cnt_engage' WHEN 'view' THEN 'cnt_engage'
        |              WHEN 'purchase' THEN 'cnt_buy' WHEN 'signup' THEN 'cnt_signup' END AS pcol,
        |    CASE curr WHEN 'click' THEN 'cnt_engage' WHEN 'view' THEN 'cnt_engage'
        |              WHEN 'purchase' THEN 'cnt_buy' WHEN 'signup' THEN 'cnt_signup' END AS ccol
        |  FROM moves
        |)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN pcol = 'cnt_engage' AND (ccol IS NULL OR ccol <> pcol) THEN -1 ELSE 0 END
        |         + CASE WHEN ccol = 'cnt_engage' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_engage,
        |  CAST(sum(CASE WHEN pcol = 'cnt_buy' AND (ccol IS NULL OR ccol <> pcol) THEN -1 ELSE 0 END
        |         + CASE WHEN ccol = 'cnt_buy' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_buy,
        |  CAST(sum(CASE WHEN pcol = 'cnt_signup' AND (ccol IS NULL OR ccol <> pcol) THEN -1 ELSE 0 END
        |         + CASE WHEN ccol = 'cnt_signup' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_signup,
        |  CAST(sum(CASE WHEN curr = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_error_total
        |FROM mapped GROUP BY user_id""".stripMargin) { (s, d) =>
      val dict = typedLit(Map(
        "click" -> "cnt_engage", "view" -> "cnt_engage",
        "purchase" -> "cnt_buy", "signup" -> "cnt_signup"))
      val cols = Seq("cnt_engage", "cnt_buy", "cnt_signup", "cnt_error_total")
      val sums = ProcessMovement.deltaSums(dict, col("prev"), col("curr"), "error",
        "cnt_error_total", cols).zip(cols).map { case (d, c) => d.as(c) }
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_type").as("curr"),
          lag(col("event_type"), 1).over(w).as("prev"))
        .filter(col("prev").isNotNull && col("prev") =!= col("curr"))
        .groupBy(col("user_id"))
        .agg(sums.head, sums.tail: _*)
    },

    // ---- EP3: transformToSimpleRecords over the canonical fixture --------
    // Pure projection (no I/O in the reference either) — the oracle is the
    // hand-computed golden for the FIXTURES.md A4 shape, covering: rename,
    // computed lookup concat, num→string cast, `|| ""` defaults, group
    // detection by truthy Position, the "No" sentinel drop, and block
    // joining/trimming.
    sql("ep3_simple_records",
      """SELECT * FROM (VALUES
        |  ('BAG-001', 'BAG-001 - Red', 'Tour Bag X', 'Red', '2', '120.00', '240.00',
        |   'Rigid', '14-way', 'Standard', 'Yes',
        |   e'Front Panel:\n  Position: Center\n  Text: WB\n  Thread Color: Gold\n\nBack Panel:\n  Position: Low',
        |   'rush order'),
        |  ('BAG-002', 'BAG-002 - ', 'Cart Bag', '', '1', '80.00', '80.00',
        |   '', '', 'None', '', '', '')
        |) AS t(product_id, bag_lookup_website, bag_model_website, bag_color_website,
        |       qty_website, rate_website, total_website, rigid_lightened_website,
        |       divider_website, wheel_option_website, logo_website,
        |       order_details_website, notes_website)""".stripMargin) { (s, _) =>
      import s.implicits._
      SimpleRecords(Seq(Fixtures.websiteOrderJson).toDF("body"))
    }
  )

  /** EP1/EP2 envelope-form pipelines over canonical fixtures, oracle-gated
    * with hand-computed goldens (the same ones the specs assert). This
    * makes the FAITHFUL envelope path — not just the star-schema analog —
    * part of the hash-matched surface.
    */
  def envelopeRegistry: Seq[OpQuery] = Seq(

    sql("ep4_order_approval_envelope",
      """SELECT * FROM (VALUES
        |  ('101', 8, 2), ('102', 3, 1), ('103', 4, 3)
        |) AS t(inventory_id, general_stock_qty, qty_office)""".stripMargin) { (s, _) =>
      import s.implicits._
      import org.apache.spark.sql.functions.{col, from_json, lit}
      val events = Seq(Fixtures.orderWebhookApproved, Fixtures.orderWebhookPending)
        .zipWithIndex.toDF("body", "event_id")
        .withColumn("record",
          from_json(col("body"), graft.core.Envelope.orderWebhookSchema).getField("record"))
      val inventory = Seq(("101", 10, 0), ("102", 3, 1), ("103", 5, 2))
        .toDF("inventory_id", "general_stock_qty", "qty_office")
      OrderApproval(events, inventory)
        .inventory.select("inventory_id", "general_stock_qty", "qty_office")
    },

    sql("ep5_process_movement_envelope",
      """SELECT * FROM (VALUES
        |  ('101', CAST(4 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |   CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
        |  ('102', CAST(0 AS BIGINT), CAST(3 AS BIGINT), CAST(0 AS BIGINT),
        |   CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(1 AS BIGINT))
        |) AS t(inventory_id, qty_office, qty_warehouse, qty_art,
        |       qty_embroidery, qty_sewer, qty_completed)""".stripMargin) { (s, _) =>
      import s.implicits._
      import org.apache.spark.sql.functions.{col, from_json}
      val events = Fixtures.processWebhooks.zipWithIndex.toDF("body", "event_id")
        .withColumn("record",
          from_json(col("body"), graft.core.Envelope.processWebhookSchema).getField("record"))
      val inventory = Seq(
        ("101", 10, 5, 0, 0, 0, 0, 0), ("102", 10, 0, 3, 0, 0, 2, 0)
      ).toDF("inventory_id", "general_stock_qty", "qty_office", "qty_warehouse",
        "qty_art", "qty_embroidery", "qty_sewer", "qty_completed")
      ProcessMovement(events, inventory)
        .inventory.select(("inventory_id" +: graft.core.Envelope.counterCols).map(col): _*)
    }
  )

  /** Canonical EP3 fixture (FIXTURES.md A4 with quirk rows). */
  object Fixtures {

    /** EP1: Approved webhook with all quirk rows — dup inventory_id
      * (first-wins), qty 0 (skipped), missing fields (skipped).
      */
    val orderWebhookApproved: String = {
      def item(id: Int, inv: String, model: String, qty: String) =
        s"""{"id":"$id","value":{"inventory_id":{"value":$inv},"bag_model_website":{"value":$model},"qty_website":{"value":"$qty"},"bag_color_website":{"value":"Red"},"rate_website":{"value":"10.00"},"total_website":{"value":"10.00"}}}"""
      val items = Seq(
        item(0, "\"101\"", "\"Tour\"", "2"),   // wins
        item(1, "\"101\"", "\"Tour\"", "9"),   // dup: dropped (D1 first-wins)
        item(2, "\"102\"", "\"Cart\"", "0"),   // qty 0: skipped (P5)
        item(3, "null", "\"Cart\"", "1"),      // missing inventory_id: skipped
        item(4, "\"103\"", "null", "1"),       // missing model: skipped
        item(5, "\"103\"", "\"Stand\"", "1")   // applies
      ).mkString(",")
      s"""{"record":{"Status":{"value":"Approved"},"order_details_table_website":{"value":[$items]}}}"""
    }

    /** EP1: non-Approved webhook — entirely filtered (P4). */
    val orderWebhookPending: String =
      """{"record":{"Status":{"value":"Pending"},"order_details_table_website":{"value":[{"id":"0","value":{"inventory_id":{"value":"101"},"bag_model_website":{"value":"Tour"},"qty_website":{"value":"5"},"bag_color_website":{"value":"Red"},"rate_website":{"value":"10.00"},"total_website":{"value":"10.00"}}}]}}}"""

    /** EP2: transition fixtures covering the Cutting alias, Complete
      * terminal, no-op skips.
      */
    val processWebhooks: Seq[String] = {
      def wh(inv: String, status: String, prev: Option[String]) = {
        val p = prev.map(x => s""","Previous_Status":{"value":"$x"}""").getOrElse("")
        s"""{"record":{"Status":{"value":"$status"},"bag_model":{"value":"Tour"},"inventory_id":{"value":"$inv"}$p}}"""
      }
      Seq(
        wh("101", "Warehouse", Some("Office")),     // office-1, warehouse+1
        wh("101", "Cutting", Some("Warehouse")),    // warehouse-1, embroidery+1 (alias)
        wh("102", "Complete", Some("Sewer Pickup")),// sewer-1, completed+1
        wh("101", "Office", None),                  // P6: no prev → skip
        wh("102", "Warehouse", Some("Warehouse")))  // P6: no-op → skip
    }
    val websiteOrderJson: String =
      """{"order":[
        |{"productId":"BAG-001","Name":"Tour Bag X","Quantity":2,"Subtotal":"120.00","Total":"240.00",
        | "MetaData":{"Color Selection":"Red","Rigid or Lightened Selection":"Rigid",
        |   "Divider Option Selection":"14-way","Wheel Type":"Standard","Company Logo":"Yes",
        |   "Additional Notes":"rush order",
        |   "Front Panel":{"Position":"Center","Text":"WB","Thread Color":"Gold","Include Logo":"No"},
        |   "Side Panel":{"Position":"","Text":"X"},
        |   "Back Panel":{"Position":"Low","Include Logo":"No","Monogram":"No"}}},
        |{"productId":"BAG-002","Name":"Cart Bag","Quantity":1,"Subtotal":"80.00","Total":"80.00",
        | "MetaData":{"Wheel Type":"None"}}
        |]}""".stripMargin
  }
}
