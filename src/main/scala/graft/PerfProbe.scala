package graft

/** Builder-side micro-harness: time a handful of named registry queries
  * at sf0.1 with warm reps, Bench-style (pre-touched inputs, noop-write
  * materialization, spill release per run) but without the full
  * registry pass — the iterate-on-one-operator loop. Usage:
  * `sbt "runMain graft.PerfProbe t28_bm25 d5_ngram_jaccard"`. The
  * driver never runs this; Bench stays the artifact of record.
  *
  * r20: runs on the measured Bench session shape (s29 needs the
  * resolution rule) and, when SPARK_GRAFT_JOBS=1,
  * prints a per-JOB breakdown of the final warm rep (job id, duration,
  * description) — the local-mode substitute for the Spark UI's job
  * table, which is what guide §1.1's empirical loop needs here.
  */
object PerfProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val jobBreakdown = sys.env.get("SPARK_GRAFT_JOBS").contains("1")
    // builder tooling: SPARK_GRAFT_CONF="k=v;k=v" A/Bs session confs on
    // named entries without a full bench take (same syntax as Verify)
    val spark = GraftSession.local(32, GraftSession.envConf)

    // per-job timing listener: collects (jobId, submitted→completed ms,
    // description) so a slow entry's time can be attributed to its
    // sequential driver-synchronous actions
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Int, Double, String)]())
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val desc = Option(js.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))
            .orElse(Option(p.getProperty("callSite.short")))).getOrElse("")
        jobs.put(js.jobId, (js.time, desc)); ()
      }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        Option(jobs.remove(je.jobId)).foreach { case (t0, desc) =>
          done.add((je.jobId, (je.time - t0) / 1e3, desc)); ()
        }
      }
    })
    // per-ACTION attribution: every eager Dataset action (write, head,
    // count, collect, isEmpty …) lands here with its logical plan — the
    // breakdown that tells which orchestration step of a lifecycle
    // entry owns the wall clock (job descriptions are empty for SQL
    // actions, so the job listener alone cannot attribute)
    val actions = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Double, String)]())
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        val plan = qe.logical.toString.replaceAll("\\s+", " ").take(150)
        actions.add((durationNs / 1e9, s"$funcName: $plan")); ()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ex: Exception): Unit = ()
    })

    Tables.all.foreach(t => try Tables.load(spark, sfDir, t).write.format("noop").mode("overwrite").save() catch { case _: Throwable => })
    for (name <- args) {
      val q = SparkEntry.registry.find(_.name == name).get
      val times = (1 to 6).map { i =>
        if (jobBreakdown && i == 6) {
          org.apache.spark.GraftSparkInternals
            .waitListenerBusEmpty(spark.sparkContext, 10000)
          done.clear(); actions.clear()
        }
        val t0 = System.nanoTime()
        q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
        graft.llm.Dedup.releaseSpills(spark)
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[probe] $name cold=${times.head}%.3f warm=${times.tail.map(t => f"$t%.3f").mkString(",")}")
      if (jobBreakdown) {
        org.apache.spark.GraftSparkInternals
          .waitListenerBusEmpty(spark.sparkContext, 10000)
        import scala.jdk.CollectionConverters._
        val js = done.asScala.toSeq.sortBy(_._1)
        println(f"[jobs] $name: ${js.size} jobs, ${js.map(_._2).sum}%.2f s total in-job")
        js.foreach { case (id, secs, desc) =>
          println(f"[job]  #$id%-4d ${secs}%7.3f s  ${desc.take(110)}")
        }
        val as = actions.asScala.toSeq
        println(f"[acts] $name: ${as.size} actions, ${as.map(_._1).sum}%.2f s total in-action")
        as.foreach { case (secs, desc) =>
          println(f"[act]  ${secs}%7.3f s  $desc")
        }
      }
    }
    spark.stop()
  }
}
