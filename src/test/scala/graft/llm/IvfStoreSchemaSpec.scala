package graft.llm

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{SparkSpec, Tables}
import graft.llm.Similarity.{Codec, IvfIndex, Quantizer}
import graft.streaming.IndexLifecycle

/** Every IVF store is read with the schema constant defined beside its
  * writer instead of a Parquet schema-inference job; each constant must
  * stay what Parquet itself infers from what the writer wrote, or a
  * writer change would silently break the typed reads.
  */
class IvfStoreSchemaSpec extends SparkSpec {

  private def inferred(dir: String): StructType = spark.read.parquet(dir).schema

  test("each IVF store's schema constant equals the schema Parquet infers") {
    val emb = Similarity.clusteredEmbeddings(Tables.embeddings(spark, sf))
    val base = emb.filter(col("vec_id") % 5 =!= 1)
    val flat = IvfIndex.build(base, Quantizer.sampled(base))
    flat.append(emb.filter(col("vec_id") % 5 === 1), 1L)
    val pq = IvfIndex.build(base, Quantizer.sampled(base), codec = Codec.Pq)
    pq.append(emb.filter(col("vec_id") % 5 === 1), 1L)
    val sq8 = IvfIndex.build(base, Quantizer.replayable(base),
      Some(Files.createTempDirectory("schema-sq8").toString + "/ix"), Codec.Sq8).root
    val lcRoot = Files.createTempDirectory("schema-lc").toString + "/lc"
    IndexLifecycle.init(spark, lcRoot, base)
    val gen = IndexLifecycle.currentRoot(spark, lcRoot).get

    val stores = Seq(
      s"${flat.root}/centroids" -> Quantizer.CentroidSchema,
      s"${flat.root}/assignments" -> IvfIndex.VectorSchema,
      s"${flat.root}/deltas/batch=1" -> IvfIndex.VectorSchema,
      s"${pq.root}/vectors" -> IvfIndex.VectorSchema,
      s"${pq.root}/deltas/batch=1" -> IvfIndex.VectorSchema,
      s"${pq.root}/codes" -> IvfIndex.CodeSchema,
      s"${pq.root}/codes_deltas/batch=1" -> IvfIndex.CodeSchema,
      s"${pq.root}/pqcodebook" -> IvfIndex.CodebookSchema,
      s"$sq8/centroids" -> Quantizer.CentroidSchema,
      s"$sq8/sq8" -> IvfIndex.Sq8Schema,
      s"$gen/codes" -> IvfIndex.CodeSchema)
    stores.foreach { case (dir, schema) =>
      assert(inferred(dir) === schema, s"$dir")
    }
    // the drift reference is a histogram file, not a Parquet store: what
    // the reader parses is what the build counted over its sample
    assert(IndexLifecycle.driftReference(spark, gen) ===
      Similarity.DriftHistogram.of(Seq(IndexLifecycle.driftSample(base, base.count()))).head,
      s"$gen/drifthist")
  }

  test("a committed generation without a drift reference fails the tick, naming it") {
    val emb = Similarity.clusteredEmbeddings(Tables.embeddings(spark, sf))
    val lcRoot = Files.createTempDirectory("schema-nohist").toString + "/lc"
    IndexLifecycle.init(spark, lcRoot, emb.filter(col("vec_id") % 5 =!= 1))
    val gen = IndexLifecycle.currentRoot(spark, lcRoot).get
    val hist = new org.apache.hadoop.fs.Path(gen, "drifthist")
    val fs = hist.getFileSystem(spark.sessionState.newHadoopConf())
    def tick() = intercept[IllegalStateException](
      IndexLifecycle.tick(spark, lcRoot, emb.filter(col("vec_id") % 5 === 1), 1L))
    val out = fs.create(hist, true)
    try out.write("12\n1 2 3\n".getBytes("UTF-8")) finally out.close()
    val malformed = tick()
    assert(malformed.getMessage.contains(gen) && malformed.getMessage.contains("malformed"),
      malformed.getMessage)
    fs.delete(hist, false)
    val missing = tick()
    assert(missing.getMessage.contains(gen) && missing.getMessage.contains("missing"),
      missing.getMessage)
  }

  test("a centroid store of another schema fails the driver read, naming the store") {
    import spark.implicits._
    val root = Files.createTempDirectory("schema-bad").toString + "/ix"
    Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("cell", "centroid")
      .write.parquet(s"$root/centroids")
    val e = intercept[IllegalStateException](IvfIndex.open(spark, root).quantizer)
    assert(e.getMessage.contains(s"$root/centroids"), e.getMessage)
  }
}
