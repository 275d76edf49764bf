package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.core.Envelope
import graft.pipelines.ProcessMovement

/** Property-based invariants (SURVEY.md §5.4): counter-delta commutativity,
  * parseInt-model conformance, dedup idempotence. Driver-side generators,
  * Spark-side evaluation over small literal frames.
  */
class PropertySpec extends SparkSpec {

  /** Seeded sampler: raw ScalaCheck generators without the scalatestplus
    * bridge (not on the offline classpath). Deterministic across runs.
    */
  private def forSamples[T](gen: Gen[T], n: Int = 15)(f: T => Unit): Unit =
    (0 until n).foreach { i =>
      f(gen.pureApply(Gen.Parameters.default, Seed(42L + i)))
    }
  import spark.implicits._

  private val statuses = ProcessMovement.statusMap.keys.toSeq :+ "Complete" :+ "Unmapped"

  test("property: station deltas are permutation-invariant (A2 commutativity)") {
    val transitionGen = for {
      inv <- Gen.oneOf("101", "102", "103")
      curr <- Gen.oneOf(statuses)
      prev <- Gen.oneOf(statuses)
    } yield (inv, curr, prev)
    forSamples(Gen.zip(Gen.listOfN(12, transitionGen), Gen.long), 8) { case (ts, seed) =>
      {
        val shuffled = new scala.util.Random(seed).shuffle(ts)
        val sums = ProcessMovement.deltaSums(typedLit(ProcessMovement.statusMap),
          col("previous_status"), col("status"), "Complete", "qty_completed",
          Envelope.counterCols)
        def deltas(events: Seq[(String, String, String)]) =
          events.toDF("inventory_id", "status", "previous_status")
            .filter(col("previous_status") =!= col("status"))
            .groupBy(col("inventory_id"))
            .agg(sums.head, sums.tail: _*)
            .collect().map(r => r.getString(0) -> sums.indices.map(i => r.getLong(i + 1))).toMap
        assert(deltas(ts) === deltas(shuffled))
      }
    }
  }

  test("property: intOrZero conforms to the parseInt(x || 0) model") {
    // model: leading-int prefix (after whitespace) or 0
    def model(s: String): Int = {
      val m = "^\\s*(-?[0-9]+)".r.findFirstMatchIn(s)
      m.map(_.group(1).toInt).getOrElse(0)
    }
    val strGen = Gen.oneOf(
      Gen.numStr.map(_.take(8)),
      Gen.alphaNumStr.map(_.take(8)),
      Gen.const(""),
      Gen.chooseNum(-9999, 9999).map(_.toString),
      Gen.chooseNum(0, 999).map(n => s"  $n abc"),
      Gen.const("12abc"))
    forSamples(Gen.listOfN(20, strGen), 8) { ss =>
      {
        val got = ss.toDF("s").select(Envelope.intOrZero(col("s")).as("v"))
          .as[Int].collect().toSeq
        assert(got === ss.map(model))
      }
    }
  }

  test("property: exact dedup is idempotent and order-insensitive") {
    val docGen = Gen.oneOf("aaa", "bbb", "ccc", "ddd")
    forSamples(Gen.zip(Gen.listOfN(15, docGen), Gen.long), 6) { case (texts, seed) =>
      {
        def survivors(ts: Seq[String]) = {
          val df = ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
          df.select(col("text"), graft.llm.Dedup.contentHash(col("text")).as("h"))
            .groupBy("h").agg(min(col("text")).as("t"))
            .select("t").as[String].collect().toSet
        }
        val once = survivors(texts)
        assert(once === texts.toSet)                    // survivors = distinct contents
        assert(survivors(once.toSeq) === once)          // idempotent
      }
    }
  }

  test("property: manifest merge is partition-invariant (the q81 law)") {
    // mergeManifests over ANY partition of the corpus into part-manifests
    // must equal the single-pass manifest — the algebra q81's oracle
    // pins for one split, generalized to random k-way splits
    val docs = Tables.documents(spark, sf)
    val full = graft.operators.Functions.partManifest(docs)
      .collect().map(_.toSeq).toSet
    forSamples(Gen.chooseNum(2, 5), n = 4) { k =>
      val parts = (0 until k).map(i =>
        graft.operators.Functions.partManifest(
          docs.filter(pmod(col("doc_id"), lit(k)) === i)))
      val merged = graft.operators.Functions.mergeManifests(
        parts.reduce(_.unionByName(_))).collect().map(_.toSeq).toSet
      assert(merged === full, s"$k-way split manifest merge diverged")
    }
  }
}
