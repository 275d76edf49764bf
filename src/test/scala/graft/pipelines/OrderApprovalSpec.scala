package graft.pipelines

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.Envelope

class OrderApprovalSpec extends SparkSpec {
  import spark.implicits._

  private def webhook(status: String, items: (String, String, String)*): String = {
    val rows = items.zipWithIndex.map { case ((inv, model, qty), i) =>
      s"""{"id":"$i","value":{
         |  "inventory_id":{"value":${if (inv == null) "null" else s""""$inv""""}},
         |  "bag_model_website":{"value":${if (model == null) "null" else s""""$model""""}},
         |  "qty_website":{"value":"$qty"},
         |  "bag_color_website":{"value":"Red"},
         |  "rate_website":{"value":"10.00"},
         |  "total_website":{"value":"10.00"}}}""".stripMargin
    }.mkString(",")
    s"""{"record":{"Status":{"value":"$status"},
       |"order_details_table_website":{"value":[$rows]}}}""".stripMargin
  }

  private def parse(bodies: Seq[String]) =
    bodies.zipWithIndex.toDF("body", "event_id")
      .withColumn("record", from_json(col("body"), Envelope.orderWebhookSchema).getField("record"))

  private val inventory = Seq(
    ("101", 10, 0), ("102", 3, 1), ("103", 5, 2)
  ).toDF("inventory_id", "general_stock_qty", "qty_office")
    .withColumn("qty_warehouse", lit(0)).withColumn("qty_art", lit(0))
    .withColumn("qty_embroidery", lit(0)).withColumn("qty_sewer", lit(0))
    .withColumn("qty_completed", lit(0))

  test("EP1 golden: gate, skip rules, first-wins dedup, stock transfer") {
    val events = parse(Seq(
      // dup inventory_id 101: first (qty 2) wins, later qty 9 dropped (D1);
      // qty 0 row skipped (P5); missing model skipped (P5)
      webhook("Approved", ("101", "Tour", "2"), ("101", "Tour", "9"),
        ("102", "Cart", "0"), (null, "Cart", "1"), ("103", null, "1"),
        ("103", "Stand", "1")),
      // non-Approved webhook entirely filtered (P4)
      webhook("Pending", ("101", "Tour", "5"))))
    val r = OrderApproval(events, inventory)
    val inv = r.inventory.orderBy("inventory_id").collect()
      .map(x => (x.getString(0), x.getInt(1), x.getInt(2))).toSeq
    assert(inv === Seq(("101", 8, 2), ("102", 3, 1), ("103", 4, 3)))
    assert(r.violations.count() === 0)
    assert(r.missing.count() === 0)
  }

  test("EP1: stock violation splits atomically; unknown key dead-letters") {
    val events = parse(Seq(
      webhook("Approved", ("102", "Cart", "4"),   // stock 3 < 4 → violation
        ("999", "Ghost", "1"),                     // no inventory record → missing
        ("101", "Tour", "1"))))
    val r = OrderApproval(events, inventory)
    val inv = r.inventory.orderBy("inventory_id").collect()
      .map(x => (x.getString(0), x.getInt(1), x.getInt(2))).toSeq
    // 102 untouched (violation); 101 applied; no partial application anywhere
    assert(inv === Seq(("101", 9, 1), ("102", 3, 1), ("103", 5, 2)))
    assert(r.violations.collect().map(_.getAs[String]("inventory_id")).toSeq === Seq("102"))
    assert(r.missing.collect().map(_.getAs[String]("inventory_id")).toSeq === Seq("999"))
  }

  private def invRows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("inventory_id").collect().map(x => (x.getString(0),
      Option(x.get(1)).map(_.toString.toInt), x.get(2).toString.toInt)).toSeq

  test("EP1 edge: the first VALID row of a SKU wins, not a P5-skipped earlier one") {
    val events = parse(Seq(
      // 101: qty-0 row skipped (P5), so the 3 wins and the 5 is a dup;
      // 103: a model-less row skipped (P5), so the 2 wins over the 4
      webhook("Approved", ("101", "Tour", "0"), ("101", "Tour", "3"),
        ("103", null, "1"), ("101", "Tour", "5"), ("103", "Stand", "2"),
        ("103", "Stand", "4"))))
    val r = OrderApproval(events, inventory)
    assert(invRows(r.inventory.select("inventory_id", "general_stock_qty", "qty_office")) ===
      Seq(("101", Some(7), 3), ("102", Some(3), 1), ("103", Some(3), 4)))
    assert(OrderApproval.lineItems(events).orderBy("line_no")
      .select("line_no", "inventory_id", "qty").as[(Int, String, Int)].collect().toSeq ===
      Seq((1, "101", 3), (4, "103", 2)))
  }

  test("EP1 edge: a null general_stock_qty is not a violation and stays null") {
    val inv = Seq(("101", Some(10), 0), ("104", None, 1))
      .toDF("inventory_id", "general_stock_qty", "qty_office")
    val r = OrderApproval(parse(Seq(webhook("Approved", ("104", "Tour", "2")))), inv)
    assert(invRows(r.inventory) === Seq(("101", Some(10), 0), ("104", None, 3)))
    assert(r.violations.count() === 0)
    assert(r.missing.count() === 0)
  }

  test("EP1 edge: a violating key beside applying keys leaves only itself untouched") {
    val events = parse(Seq(
      webhook("Approved", ("102", "Cart", "4"), ("101", "Tour", "2"), ("103", "Stand", "5")),
      // a second event for 101: dedup is per event, deltas sum across events
      webhook("Approved", ("101", "Tour", "1"))))
    val r = OrderApproval(events, inventory)
    assert(invRows(r.inventory.select("inventory_id", "general_stock_qty", "qty_office")) ===
      Seq(("101", Some(7), 3), ("102", Some(3), 1), ("103", Some(0), 7)))
    assert(r.violations.as[(String, Int, Int)].collect().toSeq === Seq(("102", 3, 4)))
  }

  test("EP1 edge: missing.line_no is the original subtable position") {
    val events = parse(Seq(
      webhook("Approved", ("101", "Tour", "0"), (null, "Cart", "1"), ("999", "Ghost", "1"),
        ("101", "Tour", "1"), ("999", "Ghost", "7"), ("998", "Ghost", "2")),
      webhook("Approved", ("998", "Ghost", "3"))))
    val m = OrderApproval(events, inventory).missing
      .select("event_id", "line_no", "inventory_id", "qty").as[(Int, Int, String, Int)]
      .collect().sorted.toSeq
    assert(m === Seq((0, 2, "999", 1), (0, 5, "998", 2), (1, 0, "998", 3)))
  }

  test("EP1: accumulating variant sums duplicate SKU rows (the 'fixed' semantics)") {
    val events = parse(Seq(webhook("Approved", ("101", "Tour", "2"), ("101", "Tour", "3"))))
    val items = OrderApproval.lineItemsAccumulating(events)
    assert(items.select("qty").as[Int].collect().toSeq === Seq(5))
  }
}
