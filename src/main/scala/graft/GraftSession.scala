package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session factory: every session the engine's mains
  * and tests run on is built here, and its confs are set nowhere else.
  * Engine lifecycle knobs (spill-dir retention, streaming-ledger
  * compaction cadence) are ordinary `spark.graft.*` conf keys — see
  * [[GraftConfig]] for the documented surface; set them on this builder
  * like any other Spark setting.
  */
object GraftSession {

  /** Builder with the settings every graft job wants:
    *  - AQE on (runtime re-plan: skew-join splitting, partition coalescing,
    *    broadcast promotion) — the main lever that makes a static plan
    *    survive real data distributions at 100 TB;
    *  - shuffle partitions sized to the environment, not the 200 default;
    *  - 128 MB scan partitions (`files.maxPartitionBytes`) so map tasks
    *    neither starve (tiny tasks) nor spill (huge ones);
    *  - UTC session timezone (oracle parity and sanity).
    */
  def builder(appName: String = "graft",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet has shipped as both TIMESTAMP(NANOS) and (MICROS);
      // the flag is a no-op for micros but lets a nanos file load as a raw
      // long that Tables.events converts (session-level flag lives HERE,
      // not in a loader)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // r20 (guide §6): serial driver listing beats a distributed
      // listing job up to hundreds of partition dirs; the 32-path
      // default sat just under the engine's √N cell-partitioned index
      // stores. Object-store deployments with thousands of partitions
      // can lower it — it is an ordinary overridable conf.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "512")
      // r21: the generated-class cache defaults to 100 entries — smaller
      // than this engine's operator surface, so a long-lived session
      // re-pays Janino compilation on every plan revisit. Sized to the
      // registry, not the host (ordinary static conf, overridable).
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.extensions", "graft.GraftExtensions")

  /** The local session of the engine's mains and tests: [[builder]] on
    * `local[cores]` with the UI off and `extra` applied LAST (so a gate
    * run can override a default), logging at WARN.
    */
  def local(cores: Int, extra: Seq[(String, String)] = Nil): SparkSession = {
    val b = builder(shufflePartitions = cores).master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
    val spark = extra.foldLeft(b) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Extra session confs from `SPARK_GRAFT_CONF="key=value;key=value"`
    * (Verify and PerfProbe) — e.g. `spark.sql.codegen.fallback=false`
    * re-gates the whole registry with interpreted fallback disabled,
    * proving every custom codegen'd expression actually compiles.
    */
  def envConf: Seq[(String, String)] = sys.env.get("SPARK_GRAFT_CONF")
    .toSeq.flatMap(_.split(';')).map(_.trim).filter(_.nonEmpty)
    .map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"SPARK_GRAFT_CONF entry '$kv' is not key=value")
      (kv.take(i), kv.drop(i + 1))
    }
}
