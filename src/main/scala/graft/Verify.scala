package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // builder tooling (the driver never sets it): SPARK_GRAFT_CONF extras
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, GraftSession.envConf)
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter (builder tooling; the driver never sets it):
    // SPARK_GRAFT_ONLY=q65_sessionize,t17_bigram_logprob dumps just those.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) =>
        // a misspelled name silently filtering to nothing would produce a
        // green-looking empty run — fail it instead
        val unknown = names -- SparkEntry.queries.keySet
        require(unknown.isEmpty,
          s"SPARK_GRAFT_ONLY names not in the registry: ${unknown.toSeq.sorted.mkString(", ")}")
        SparkEntry.queries.view.filterKeys(names).toMap
      case None => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // the parquet write above consumed any spill-backed plan (t15/d8/
      // d20) — reclaim its run dirs before the next query
      graft.llm.Dedup.releaseSpills(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
