package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Everything the engine caches, scoped to one `SparkContext`: it is
  * created on first use and evicted when the context stops
  * (`spark.stop()`), so nothing the engine remembers outlives the
  * sessions it served. Scoped to the context rather than the session
  * because a `foreachBatch` DataFrame's `sparkSession` is the stream's
  * clone: a spill made in a micro-batch must still be released by the
  * caller's `Dedup.releaseSpills(spark)`.
  */
final class EngineState private (hadoopConf: Configuration) {

  /** [[Tables.table]]'s resolved relations, keyed by (session, dir,
    * table): a DataFrame belongs to the session that analyzed it. */
  private[graft] val relations =
    new ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  /** Corpus row counts by a caller's snapshot key (Similarity's nlist
    * derivation). */
  private[graft] val corpusCounts =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  /** Spill run dirs whose returned plans may still be live. */
  private[graft] val spills = new ConcurrentLinkedQueue[String]()

  /** Propagation rounds the last [[graft.llm.Dedup.dedupClusters]] took
    * to converge: single digits at any SF, as pointer jumping needs
    * O(log diameter); DedupSpec pins the bound. */
  private[graft] val lastClosureRounds = new AtomicInteger(-1)

  /** Which closure path the last [[graft.llm.Dedup.mergeClosureLabels]]
    * fold took ("unionfind" | "distributed" | "" before any fold). */
  private[graft] val lastMergePath = new AtomicReference[String]("")

  /** Size of the last [[graft.operators.Relational.groupedRunningSum]]
    * pass-1 collect; PartitioningSpec bounds it. */
  private[graft] val lastPartialCount = new AtomicInteger(-1)

  /** Delete every tracked spill dir; see [[graft.llm.Dedup.releaseSpills]].
    * Never throws; returns the number of directories removed. */
  private[graft] def releaseSpills(): Int = {
    var n = 0
    var dir = spills.poll()
    while (dir != null) {
      try {
        val p = new Path(dir)
        val fs = p.getFileSystem(hadoopConf)
        if (fs.exists(p) && fs.delete(p, true)) n += 1
      } catch { case scala.util.control.NonFatal(_) => () }
      dir = spills.poll()
    }
    n
  }
}

object EngineState {
  private val live = new ConcurrentHashMap[SparkContext, EngineState]()

  /** The session's context's state, created (with its eviction listener)
    * on first use. A stopped context gets a fresh, unregistered state: its
    * own was evicted at stop and nothing may be added to it again. */
  def of(spark: SparkSession): EngineState = {
    val sc = spark.sparkContext
    if (sc.isStopped) new EngineState(sc.hadoopConfiguration)
    else live.computeIfAbsent(sc, { _ =>
      sc.addSparkListener(new SparkListener {
        // the plans that read unreleased spills died with the context,
        // and the TTL pruner skips this JVM's own dirs: delete them here
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
          Option(live.remove(sc)).foreach(_.releaseSpills())
      })
      new EngineState(sc.hadoopConfiguration)
    })
  }

  /** Contexts holding state right now. */
  private[graft] def liveContexts: Int = live.size
}
