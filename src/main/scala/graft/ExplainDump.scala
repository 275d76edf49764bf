package graft

/** Builder tooling: dump `.explain("formatted")` for named registry
  * queries to files — the plans/rNN before/after evidence the
  * optimization rounds commit. Usage:
  * `sbt "runMain graft.ExplainDump <outDir> <name> [<name> ...]"`
  * (`all` = every registry entry). Lifecycle entries execute their
  * eager store actions while the final frame is constructed; the dump
  * is the returned (served) plan — the part `explain` can see.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val names = args.drop(1).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(32)
    new java.io.File(outDir).mkdirs()
    val selected =
      if (names == Seq("all")) SparkEntry.registry
      else SparkEntry.registry.filter(q => names.contains(q.name))
    selected.foreach { q =>
      try {
        val df = q.run(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${q.name}.txt"), plan)
        println(s"[explain] wrote $outDir/${q.name}.txt")
      } catch { case e: Throwable =>
        System.err.println(s"[explain] ${q.name} failed: ${e.getMessage}")
      }
      graft.llm.Dedup.releaseSpills(spark)
    }
    spark.stop()
  }
}
