package graft.streaming

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftSparkInternals
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Envelope
import graft.pipelines.{OrderApproval, ProcessMovement}

/** Fixed cost of a warm ledger tick — one EP1 and one EP2 commit through
  * `ParquetLedger.get` → `IdempotentMerge` → `ParquetLedger.set`, the
  * benchmark's `ledger_ticks` op. The commit record answers the read's
  * schema and the replay guard, so neither runs a job, and the batch id
  * reaches generated code as a reference, so a later tick compiles
  * nothing.
  */
class LedgerTickSpec extends SparkSpec {
  import spark.implicits._

  private val jobs = new AtomicInteger
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
  }

  /** Jobs started by `body` (the listener bus drained on both sides). */
  private def jobsOf[A](body: => A): (A, Int) = {
    GraftSparkInternals.waitListenerBusEmpty(spark.sparkContext, 10000)
    val before = jobs.get
    val a = body
    GraftSparkInternals.waitListenerBusEmpty(spark.sparkContext, 10000)
    (a, jobs.get - before)
  }

  private def orderWebhook(items: (String, Int)*): String = {
    val rows = items.zipWithIndex.map { case ((inv, qty), i) =>
      s"""{"id":"$i","value":{"inventory_id":{"value":"$inv"},"bag_model_website":{"value":"Tote"},"qty_website":{"value":"$qty"}}}"""
    }.mkString(",")
    s"""{"record":{"Status":{"value":"Approved"},"order_details_table_website":{"value":[$rows]}}}"""
  }

  private def processWebhook(inv: String, status: String, prev: String): String =
    s"""{"record":{"Status":{"value":"$status"},"Previous_Status":{"value":"$prev"},"bag_model":{"value":"Tote"},"inventory_id":{"value":"$inv"}}}"""

  private def events(bodies: Seq[String], schema: org.apache.spark.sql.types.StructType) =
    bodies.zipWithIndex.map { case (b, i) => (i.toLong, b) }.toDF("event_id", "body")
      .select(col("event_id"), from_json(col("body"), schema).getField("record").as("record"))

  test("warm ticks: get and guard run no job, a set at most three, a later tick compiles nothing") {
    spark.sparkContext.addSparkListener(listener)
    try warmTicks() finally spark.sparkContext.removeSparkListener(listener)
  }

  private def warmTicks(): Unit = {
    val ldir = Files.createTempDirectory("ledger-tick").toString
    val inventory = (1 to 20).map(i => (f"K$i%03d", 1000, 5, 5, 5, 5, 5, 0))
      .toDF("inventory_id" +: "general_stock_qty" +: Envelope.counterCols: _*)
    val ledger = new ParquetLedger(spark, ldir, inventory)
    val ep1 = events(Seq(orderWebhook("K001" -> 2, "K002" -> 1, "K001" -> 4),
      orderWebhook("K003" -> 3, "K999" -> 1)), Envelope.orderWebhookSchema)
    val ep2 = events(Seq(processWebhook("K001", "Warehouse", "Office"),
      processWebhook("K004", "Complete", "With Sewer")), Envelope.processWebhookSchema)

    /** One commit: (jobs of get, jobs of guard, jobs of set, compiles). */
    def commit(batchId: Long)(apply: DataFrame => DataFrame): Seq[Long] = {
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val (state, getJobs) = jobsOf(ledger.get())
      val (merged, guardJobs) = jobsOf(IdempotentMerge(state, batchId)(apply))
      val (_, setJobs) = jobsOf(ledger.set(merged))
      Seq(getJobs, guardJobs, setJobs, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0)
    }
    def tick(b: Long): Seq[Seq[Long]] = Seq(
      commit(2 * b)(st => OrderApproval(ep1, st).inventory),
      commit(2 * b + 1)(st => ProcessMovement(ep2, st).inventory))

    (0L to 1L).foreach(tick) // warm-up: first plans and compiles
    val warm = Seq(tick(2L), tick(3L))
    warm.flatten.foreach { case Seq(get, guard, set, _) =>
      assert(get === 0L, s"ledger get ran jobs: $warm")
      assert(guard === 0L, s"the replay guard ran jobs: $warm")
      assert(set <= 3L, s"a ledger set ran more than three jobs: $warm")
    }
    assert(warm(1).map(_(3)).sum === 0L,
      s"the second warm tick compiled generated code (a batch id inlined?): $warm")

    // the ticks applied: 2 per EP1 tick on K001 and 1 per EP2 tick off qty_office
    val k1 = ledger.get().filter(col("inventory_id") === "K001").collect().head
    assert(k1.getAs[Int]("general_stock_qty") === 1000 - 4 * 2)
    assert(k1.getAs[Long]("qty_office") === 5L + 4 * 2 - 4)
    assert(IdempotentMerge.recordedWatermark(ledger.get()) === Some(7L))
  }
}
