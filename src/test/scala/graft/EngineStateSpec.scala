package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.llm.Dedup

/** What the engine caches lives as long as its SparkContext
  * ([[EngineState]]): sessions created and stopped in a row retain
  * nothing, and spills are released per context, never across contexts.
  * The test stops the shared session; TestSpark rebuilds it on next use.
  */
class EngineStateSpec extends SparkSpec {

  private def runDirs(base: String): Seq[File] =
    Option(new File(base).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("tok-") || f.getName.startsWith("cc-"))

  test("3 sessions created and stopped in a row: nothing retained, spills released per context, foreachBatch spills by the outer session") {
    var deadDirs = Seq.empty[File]
    (1 to 3).foreach { round =>
      val s = TestSpark.spark
      import s.implicits._
      val docs = (1L to 30L).map(i => (i, s"plain document ${i % 7} with words $i"))
        .toDF("doc_id", "text")
      val base = Files.createTempDirectory("engine-state").toString
      // the previous context's spill paths, recreated: not this context's
      deadDirs.foreach(_.mkdirs())
      assert(Tables.region(s, sf).count() > 0)
      assert(EngineState.of(s).relations.containsKey((s, sf, "region")))

      // spills made in a micro-batch, on the stream's cloned session
      val src = Files.createTempDirectory("engine-state-src").toString
      docs.write.mode("overwrite").parquet(src)
      val batchSessions = new java.util.concurrent.ConcurrentLinkedQueue[SparkSession]()
      val q = s.readStream.schema(docs.schema).parquet(src).writeStream
        .option("checkpointLocation", Files.createTempDirectory("engine-state-ck").toString)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batchSessions.add(batch.sparkSession)
          Dedup.corpusCleanFull(batch, Some(base)).count(); ()
        }.start()
      try q.processAllAvailable() finally q.stop()
      assert(!batchSessions.isEmpty && batchSessions.stream().allMatch(_ ne s))
      assert(runDirs(base).nonEmpty, "the micro-batch left no spill")
      assert(EngineState.liveContexts === 1)
      // the outer session releases them, and only this context's spills
      assert(Dedup.releaseSpills(s) >= 1)
      assert(runDirs(base).isEmpty, s"micro-batch spills survived: ${runDirs(base)}")
      assert(deadDirs.forall(_.exists()), s"round $round released a stopped context's dirs")
      deadDirs.foreach(d => assert(d.delete()))

      // spills left unreleased are deleted when the context stops
      assert(Dedup.corpusCleanFull(docs, Some(base)).count() === 30L)
      deadDirs = runDirs(base)
      assert(deadDirs.nonEmpty)
      s.stop()
      assert(EngineState.liveContexts === 0, s"round $round: state retained after stop")
      assert(deadDirs.forall(!_.exists()), s"round $round: unreleased spills survived: $deadDirs")
    }
  }
}
