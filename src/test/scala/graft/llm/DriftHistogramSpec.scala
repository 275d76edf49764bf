package graft.llm

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

import graft.SparkSpec
import graft.llm.Similarity.DriftHistogram

/** The drift decision counts both sides into [[DriftHistogram]]s and takes
  * the PSI on the driver. It must be bit-identical to the Column form it
  * replaced, kept here as the oracle: the union of both sides through
  * [[Similarity.embeddingDrift]], its max PSI crossJoined with the side
  * row counts, and the χ² correction.
  */
class DriftHistogramSpec extends SparkSpec {

  private val schema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  private def frame(rows: Seq[(Long, Seq[java.lang.Float])], partitions: Int = 2): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, e) => Row(id, e) }, partitions), schema)

  /** The corrected max PSI as computed before the stored histogram. */
  private def columnPsi(oldCorpus: DataFrame, newBatch: DataFrame): Double = {
    val combined = oldCorpus.select(col("vec_id"), col("embedding"))
      .withColumn("__base", lit(true))
      .unionByName(newBatch.select(col("vec_id"), col("embedding"))
        .withColumn("__base", lit(false)))
    val r = Similarity.embeddingDrift(combined, col("__base"))
      .agg(max(col("psi")).as("mp"))
      .crossJoin(combined.agg(
        count(when(col("__base"), 1)).as("nb"),
        count(when(!col("__base"), 1)).as("nd")))
      .head()
    val (maxPsi, nb, nd) = (r.getDouble(0), r.getLong(1), r.getLong(2))
    val correction = (Similarity.DriftBuckets - 1) * (1.0 / math.max(nb, 1L) +
      1.0 / math.max(nd, 1L))
    maxPsi - correction
  }

  private def assertSame(oldCorpus: DataFrame, newBatch: DataFrame, clue: String): Unit = {
    val want = java.lang.Double.doubleToLongBits(columnPsi(oldCorpus, newBatch))
    val Seq(ref, batch) = DriftHistogram.of(Seq(oldCorpus, newBatch))
    assert(java.lang.Double.doubleToLongBits(Similarity.correctedMaxPsi(ref, batch)) === want, clue)
    assert(java.lang.Double.doubleToLongBits(
      Similarity.correctedMaxPsi(oldCorpus, newBatch)) === want, clue)
  }

  private def randomRows(rng: Random, n: Int, dims: Int, shift: Double,
      scale: Double, from: Long): Seq[(Long, Seq[java.lang.Float])] =
    (0 until n).map { i =>
      (from + i, Seq.fill(dims)(java.lang.Float.valueOf(
        (shift + scale * rng.nextGaussian()).toFloat)))
    }

  test("random batches: histogram PSI is bit-identical to the Column form") {
    val rng = new Random(20201)
    Seq((400, 60, 0.0, 0.4), (300, 25, 0.3, 0.5), (250, 90, -0.6, 0.2),
        (120, 7, 0.0, 1.5), (500, 200, 0.05, 0.45)).zipWithIndex.foreach {
      case ((nRef, nBatch, shift, scale), t) =>
        val dims = 4 + rng.nextInt(6)
        val ref = frame(randomRows(rng, nRef, dims, 0.0, 0.4, 0L))
        val batch = frame(randomRows(rng, nBatch, dims, shift, scale, 100000L), 3)
        assertSame(ref, batch, s"trial $t")
    }
  }

  test("nulls, ragged rows, NaN, infinities and bucket edges as the Column form") {
    val f = (x: Float) => java.lang.Float.valueOf(x)
    val edges = Seq(-1f, -0.5f, 0f, 0.5f, 1f, -0f).map(f)
    val odd: Seq[(Long, Seq[java.lang.Float])] = Seq(
      (1L, null),
      (2L, Seq(f(0.1f), null, f(0.3f))),
      (3L, Seq(f(Float.NaN), f(Float.PositiveInfinity), f(Float.NegativeInfinity))),
      (4L, edges),
      (5L, Seq(f(0.2f))),
      (6L, Seq.empty),
      (7L, Seq(f(Float.MaxValue), f(-Float.MaxValue), f(1e-30f), f(-0.9999999f),
        f(0.49999997f), f(-0.50000006f), f(0.99999994f))),
      (8L, Seq(null, null)))
    val rng = new Random(7)
    val ref = frame(randomRows(rng, 200, 5, 0.0, 0.5, 1000L) ++ odd.take(4))
    val batch = frame(odd ++ randomRows(rng, 30, 3, 0.2, 0.5, 5000L))
    assertSame(ref, batch, "odd rows in both sides")
    assertSame(frame(odd), frame(randomRows(rng, 40, 8, 0.0, 0.5, 9000L)), "odd reference")
    assertSame(ref, frame(Seq.empty), "empty batch")
    assertSame(ref, frame(Seq((1L, null), (2L, Seq.empty))), "batch without elements")
  }

  test("a histogram is the same at 1, 2 and 8 input partitions") {
    val rows = randomRows(new Random(3), 333, 6, 0.1, 0.6, 0L) ++
      Seq((9000L, null), (9001L, Seq(java.lang.Float.valueOf(Float.NaN), null)))
    val hs = Seq(1, 2, 8).map(p => DriftHistogram.of(Seq(frame(rows, p))).head)
    assert(hs.distinct.size === 1)
    assert(hs.head.rows === 335L && hs.head.dims === 6)
    assert((0 until 6).map(hs.head.elements) ===
      Seq(334L, 334L, 333L, 333L, 333L, 333L))
  }

  test("no element on either side fails naming the empty inputs") {
    val none = frame(Seq((1L, null), (2L, Seq.empty)))
    // the Column form reads the max over zero groups, a null, as a double
    val bare = intercept[RuntimeException](columnPsi(none, frame(Seq.empty)))
    assert(bare.asInstanceOf[org.apache.spark.SparkThrowable].getCondition ===
      "ROW_VALUE_IS_NULL", bare.getMessage)
    val e = intercept[IllegalArgumentException](
      Similarity.correctedMaxPsi(none, frame(Seq.empty)))
    assert(e.getMessage.contains("empty inputs") &&
      e.getMessage.contains("reference (2 rows)") && e.getMessage.contains("batch (0 rows)"),
      e.getMessage)
  }
}
