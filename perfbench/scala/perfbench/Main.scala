package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{GraftSession, Tables}
import graft.llm.{Dedup, Similarity, TextStats}
import graft.operators.{Functions, Relational}
import graft.pipelines.{OrderApproval, ProcessMovement}
import graft.streaming.{IdempotentMerge, IndexLifecycle, ParquetLedger, Streams}

/** One benchmark run inside one JVM, driven by `perfbench/run.py`:
  *
  *   set-up (repeated `setupReps` times, each on a fresh session) →
  *   untimed warm-up ops → ops until `--seconds` have passed → untimed
  *   output dump for the checks.
  *
  * Every op's wall time is recorded; `run.py` turns the samples into
  * metrics and runs the output checks. With `--trace 1` the calls into
  * each layer are wrapped in [[Tracer]] spans (half the op cycles, so the
  * untraced ops of the same run price the tracing overhead).
  */
object Main {
  /** Seconds after the JVM's first set-up begins at which the timed region
    * ends, however few samples it has: JVM start, input generation, the
    * output dump and the checks share the rest of a run's 180 s. */
  val MaxTimedEndS = 115
  final case class Args(workload: String, inputs: String, work: String,
      seconds: Double, trace: Boolean)

  /** A piece of work the harness drives: set-up, ops, output dump. */
  trait Part {
    /** Build per-session state; runs once per set-up repetition. */
    def setup(spark: SparkSession): Unit = ()
    /** Run op number `i`; returns the op's kind (a sample series name). */
    def op(spark: SparkSession, i: Int): String
    /** After the timed region: write outputs for the checks, return facts. */
    def finish(spark: SparkSession, out: String): Map[String, Any]
  }

  /** What a workload does; the harness owns timing and failure counting. */
  trait Workload extends Part {
    /** Untimed ops that run before the clock starts (JIT and plan warm-up). */
    def warmup: Int
    /** The sample series `op_p50_s` is taken from. */
    def primary: String
    /** Ops per cycle of the op mix. */
    def cycle: Int = 1
    /** Set-ups per run; `setup_s` is their median. The first runs in a cold
      * JVM and is the slowest, so the median is that of the others. */
    def setupReps: Int = 3
    /** True when the generated inputs hold no op number `i`: the timed
      * region ends there, however much of `--seconds` is left. */
    def exhausted(i: Int): Boolean = false
  }

  var tr: Tracer = new Tracer(false)
  private def span[A](spark: SparkSession, name: String)(body: => A): A =
    tr.span(spark, name)(body)

  /** Latencies of the workload's inner step (ledger commit, index append)
    * in the timed ops that succeeded: the `step_p50_s` samples. `opSteps`
    * holds those of the op in flight. */
  val stepS = ArrayBuffer.empty[Double]
  private val opSteps = ArrayBuffer.empty[Double]
  private var timedOp = false
  private def step[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally if (timedOp) opSteps += (System.nanoTime() - t0) / 1e9
  }

  def buildSession(a: Args): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val b = GraftSession.builder("perfbench", cores).master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
    val s = (if (a.trace) b.config("spark.hadoop.fs.file.impl",
      classOf[CountingLocalFileSystem].getName) else b).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def rmrf(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }

  def move(spark: SparkSession, from: String, to: String): Unit = {
    val fs = new Path(from).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(to).getParent)
    if (!fs.rename(new Path(from), new Path(to))) sys.error(s"cannot move $from to $to")
  }

  def du(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(p).getLength
  }

  /** Full-column scan of an input table, as `graft.Bench` pre-touches. */
  def pretouch(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  // ---- ledger_ticks --------------------------------------------------------

  /** The paper's webhook traffic: per tick, one batch of order-approval
    * webhooks (EP1) and one of process-movement webhooks (EP2), each
    * merged into the durable inventory ledger under the batch-id guard
    * and committed. Replayed batches must be no-ops.
    */
  final class Ledger(a: Args) extends Workload {
    // op 0 is the cold tick (first plans, Janino compiles and JIT); ticks
    // keep getting faster over the next several while the JIT compiles the
    // driver paths, and a median over a drifting series moves with how
    // many ticks a run fits
    val warmup = 5
    // a set-up takes half a second: more of them steady its median cheaply
    override val setupReps = 5
    val primary = "tick"
    private def lines(f: String): Map[Int, IndexedSeq[String]] =
      scala.io.Source.fromFile(s"${a.inputs}/$f", "UTF-8").getLines()
        .map { l => val i = l.indexOf('\t'); (l.take(i).toInt, l.drop(i + 1)) }
        .toIndexedSeq.groupMap(_._1)(_._2)
    private val orders = lines("orders.tsv")
    private val process = lines("process.tsv")
    private val ticks: IndexedSeq[(Int, Boolean)] =
      scala.io.Source.fromFile(s"${a.inputs}/ticks.tsv").getLines()
        .map { l => val Array(b, r) = l.split('\t'); (b.toInt, r == "1") }.toIndexedSeq
    override def exhausted(i: Int): Boolean = i >= ticks.size
    private var ledger: ParquetLedger = _
    private val root = s"${a.work}/ledger"
    var done = 0
    var noopTicks = 0
    var noopOnFresh = 0

    private def frame(spark: SparkSession, bodies: IndexedSeq[String], base: Long,
        schema: StructType): DataFrame = {
      val rows = bodies.zipWithIndex.map { case (b, i) => Row(base + i, b) }
      spark.createDataFrame(rows.asJava, StructType(Seq(
          StructField("event_id", LongType), StructField("body", StringType))))
        .select(col("event_id"), from_json(col("body"), schema).getField("record").as("record"))
    }

    override def setup(spark: SparkSession): Unit = {
      rmrf(spark, root)
      val initial = span(spark, "tables.load") { Tables.table(spark, a.inputs, "inventory") }
      span(spark, "tables.pretouch") { pretouch(initial) }
      ledger = new ParquetLedger(spark, root, initial)
    }

    /** get → guarded merge → set, once per pipeline; true when a no-op. */
    private def commit(spark: SparkSession, batchId: Long)(
        apply: DataFrame => DataFrame): Boolean = {
      val state = span(spark, "streaming.ledger_get") { ledger.get() }
      var applied = false
      val merged = span(spark, "streaming.guard") {
        IdempotentMerge(state, batchId) { st =>
          applied = true
          span(spark, "pipelines.apply") { apply(st) }
        }
      }
      step { span(spark, "streaming.ledger_set") { ledger.set(merged) } }
      !applied
    }

    def op(spark: SparkSession, i: Int): String = {
      val (b, replay) = ticks(i)
      val ev = frame(spark, orders(b), b * 1000000L, graft.core.Envelope.orderWebhookSchema)
      val pr = frame(spark, process(b), b * 1000000L + 500000L,
        graft.core.Envelope.processWebhookSchema)
      val n1 = commit(spark, 2L * b) { st => OrderApproval(ev, st).inventory }
      val n2 = commit(spark, 2L * b + 1) { st => ProcessMovement(pr, st).inventory }
      done = i + 1
      if (n1 && n2) noopTicks += 1
      if ((n1 || n2) && !replay) noopOnFresh += 1
      "tick"
    }

    def finish(spark: SparkSession, out: String): Map[String, Any] = {
      ledger.get().drop(IdempotentMerge.BatchCol).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/ledger_final")
      Map("ticks_done" -> done, "replay_noops" -> noopTicks,
        "noop_on_fresh" -> noopOnFresh, "ledger_mb" -> du(spark, root) / 1e6)
    }
  }

  // ---- index_batch: index serve and append ---------------------------------

  /** Top-10 reads served from the streaming index lifecycle while batches
    * are appended beside them; drifted batches cut over to a retrained
    * generation. Each cycle of two ops serves, then appends. Appends vary
    * more from run to run than serves; with two serves per append, three
    * appends a run spread 0.235 across ten seeds.
    */
  final class Ann(a: Args) extends Part {
    def exhausted(i: Int): Boolean = i / 2 >= appends.size
    private var appends: Map[Long, Seq[Row]] = _
    private var queries: Map[Long, Seq[Row]] = _
    private var shifts: Map[Long, (Boolean, Array[Float])] = _
    private var lcRoot: String = _
    private var rep = 0
    private var nextBatch = 0L
    private var nextServe = 0L
    private var liveDeltas = 0
    val applied = ArrayBuffer.empty[Long]
    val appendS = ArrayBuffer.empty[Double]
    val cutoverS = ArrayBuffer.empty[Double]
    var cutovers = 0
    var driftedApplied = 0
    var wrongCutover = 0
    var badServes = 0
    val deltasAtServe = ArrayBuffer.empty[Int]
    private val embSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))

    private def frame(spark: SparkSession, rows: Seq[Row]): DataFrame =
      Similarity.clusteredEmbeddings(spark.createDataFrame(rows.asJava, embSchema))

    private def batchFrame(spark: SparkSession, b: Long): DataFrame = {
      val (drifted, shift) = shifts(b)
      val f = frame(spark, appends(b))
      if (!drifted) f
      else f.select(col("vec_id"), zip_with(col("embedding"), typedLit(shift.toSeq),
        (x, s) => (x + s).cast("float")).as("embedding"))
    }

    override def setup(spark: SparkSession): Unit = {
      def load(f: String, key: String) =
        spark.read.parquet(s"${a.inputs}/$f").collect().toSeq
          .groupMap(r => r.getAs[Long](key))(r => Row(r.getAs[Long]("vec_id"),
            r.getAs[scala.collection.Seq[Float]]("embedding").toSeq))
      if (appends == null) {
        appends = load("appends.parquet", "batch")
        queries = load("queries.parquet", "serve")
        shifts = spark.read.parquet(s"${a.inputs}/shifts.parquet").collect()
          .map(r => r.getAs[Long]("vec_id") -> (r.getAs[Boolean]("drifted"),
            r.getAs[scala.collection.Seq[Float]]("embedding").toArray)).toMap
      }
      rep += 1
      lcRoot = s"${a.work}/ann/lc$rep"
      val base = span(spark, "tables.load") {
        Similarity.clusteredEmbeddings(Tables.embeddings(spark, a.inputs))
      }
      span(spark, "tables.pretouch") { pretouch(base) }
      span(spark, "index.init") { IndexLifecycle.init(spark, lcRoot, base) }
    }

    def op(spark: SparkSession, i: Int): String =
      if (i % 2 == 1) {
        val b = nextBatch
        nextBatch += 1
        val drifted = shifts(b)._1
        val t0 = System.nanoTime()
        val cut = span(spark, if (drifted) "index.cutover" else "index.append") {
          IndexLifecycle.tick(spark, lcRoot, batchFrame(spark, b), b)
        }
        val s = (System.nanoTime() - t0) / 1e9
        if (timedOp && !cut) opSteps += s
        (if (cut) cutoverS else appendS) += s
        applied += b
        if (cut) { cutovers += 1; liveDeltas = 0 } else liveDeltas += 1
        if (drifted) driftedApplied += 1
        if (cut != drifted) wrongCutover += 1
        if (cut) "cutover" else "append"
      } else {
        val q = frame(spark, queries(nextServe % (queries.size - 1)))
        nextServe += 1
        val df = span(spark, "index.serve_plan") { IndexLifecycle.serve(spark, lcRoot, q, 10) }
        val rows = span(spark, "index.serve_exec") { df.collect() }
        if (timedOp) deltasAtServe += liveDeltas
        if (rows.length != 10 * queries(0L).size) {
          badServes += 1
          throw new IllegalStateException(s"serve returned ${rows.length} rows")
        }
        "serve"
      }

    def finish(spark: SparkSession, out: String): Map[String, Any] = {
      val q = frame(spark, queries(-1L))
      val corpus = applied.foldLeft(
        Similarity.clusteredEmbeddings(Tables.embeddings(spark, a.inputs))
          .select("vec_id", "embedding")) { (acc, b) => acc.unionByName(batchFrame(spark, b)) }
      val approx = IndexLifecycle.serve(spark, lcRoot, q, 10).select("qid", "vid")
      val exact = Similarity.bruteTopK(q, corpus, 10).select("qid", "vid")
      val hit = approx.join(exact, Seq("qid", "vid")).count()
      val nExact = exact.count()
      val nLive = corpus.count()
      Map("recall_at_10" -> hit.toDouble / nExact, "cutovers" -> cutovers,
        "drifted_applied" -> driftedApplied, "wrong_cutovers" -> wrongCutover,
        "appends" -> applied.size, "bad_serves" -> badServes,
        "live_deltas" -> deltasAtServe.toSeq, "append_s" -> appendS.toSeq,
        "cutover_s" -> cutoverS.toSeq,
        "space_amp" -> du(spark, lcRoot).toDouble / (nLive * 64L * 4L))
    }
  }

  // ---- index_batch: corpus clean ------------------------------------------

  /** The LLM-corpus batch job: load the documents → quality route → dedup
    * clean of the routed documents → token metering of the survivors, each
    * stage written out.
    */
  final class Corpus(a: Args) extends Part {
    private val dir = s"${a.work}/clean"
    private var docs: DataFrame = _
    private var spills = 0

    private def passing(route: String): DataFrame =
      docs.join(docs.sparkSession.read.parquet(route).filter(col("route") === "pass")
        .select("doc_id"), Seq("doc_id"), "left_semi")

    def op(spark: SparkSession, i: Int): String = {
      docs = span(spark, "tables.load") { Tables.documents(spark, a.inputs) }
      span(spark, "textstats.route") {
        Streams.qualityRoute(docs).write.mode("overwrite").parquet(s"$dir/route")
      }
      span(spark, "dedup.clean") {
        Dedup.corpusCleanFull(passing(s"$dir/route"))
          .write.mode("overwrite").parquet(s"$dir/verdict")
      }
      val survivors = spark.read.parquet(s"$dir/verdict").filter(col("kept"))
        .select("doc_id")
      span(spark, "textstats.meter") {
        docs.join(survivors, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("source"),
            TextStats.subwordCount(col("text")).as("subword"),
            TextStats.bpeishCount(col("text")).as("pretok"))
          .write.mode("overwrite").parquet(s"$dir/tokens")
      }
      spills = span(spark, "dedup.release") { Dedup.releaseSpills(spark) }
      "clean"
    }

    def finish(spark: SparkSession, out: String): Map[String, Any] = {
      val diag = if (!a.trace) Map.empty[String, Any] else {
        val r = Dedup.lshDiagnostics(passing(s"$dir/route"))
          .agg(count(lit(1)), sum(when(!col("is_fp"), 1).otherwise(0))).head()
        Dedup.releaseSpills(spark)
        Map("lsh_candidates" -> r.getLong(0), "lsh_verified" -> r.getLong(1))
      }
      move(spark, dir, out)
      Map("spill_dirs" -> spills) ++ diag
    }
  }

  // ---- index_batch: registry pass --------------------------------------------

  /** A pass over a fixed set of `Relational` and `Functions` registry
    * entries, in the seeded order of `entries.txt`, each entry's result
    * written out. The entries load the tables they read.
    */
  final class Olap(a: Args) extends Part {
    private val dir = s"${a.work}/olap"
    private val registry = (Relational.registry ++ Functions.registry).map(q => q.name -> q).toMap
    private val order = scala.io.Source.fromFile(s"${a.inputs}/entries.txt").getLines()
      .filter(_.nonEmpty).map(registry).toIndexedSeq

    def op(spark: SparkSession, i: Int): String = {
      order.foreach { q =>
        span(spark, "operators.entry") {
          q.run(spark, a.inputs).write.mode("overwrite").parquet(s"$dir/${q.name}")
        }
      }
      "pass"
    }

    def finish(spark: SparkSession, out: String): Map[String, Any] = {
      move(spark, dir, out)
      Map("entries" -> order.map(_.name),
        "oracle" -> order.flatMap(q => q.oracle.map(q.name -> _)).toMap)
    }
  }

  // ---- index_batch -----------------------------------------------------------

  /** The LLM-data side of the engine on one session. Right after set-up a
    * corpus clean (op 0) and a registry pass (op 1) run once each, as the
    * batch jobs they are: the first run of a job in its process, reading
    * its own inputs. Set-up builds the session and the index. The
    * index then serves top-10 reads beside appends for the rest of the run
    * (ops 2 on are [[Ann]] op `i - 2`); the first serve-append cycle
    * is warm-up, and its append is the drifted batch that cuts over.
    * Each part reads and writes its own subdirectory.
    */
  final class IndexBatch(a: Args) extends Workload {
    private def sub(p: String) = a.copy(inputs = s"${a.inputs}/$p")
    private val corpus = new Corpus(sub("corpus"))
    private val olap = new Olap(sub("olap"))
    private val ann = new Ann(sub("ann"))
    val warmup = 4
    val primary = "serve"
    override val cycle = 2
    override def exhausted(i: Int): Boolean = i >= 2 && ann.exhausted(i - 2)

    override def setup(spark: SparkSession): Unit = ann.setup(spark)

    def op(spark: SparkSession, i: Int): String = i match {
      case 0 => corpus.op(spark, 0)
      case 1 => olap.op(spark, 0)
      case _ => ann.op(spark, i - 2)
    }

    def finish(spark: SparkSession, out: String): Map[String, Any] =
      corpus.finish(spark, s"$out/corpus") ++ olap.finish(spark, s"$out/olap") ++
        ann.finish(spark, s"$out/ann")
  }

  // ---- driver ----------------------------------------------------------------

  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(m("workload"), m("inputs"), m("work"), m("seconds").toDouble,
      m("trace") == "1")
    tr = new Tracer(a.trace)
    val wl: Workload = a.workload match {
      case "ledger_ticks" => new Ledger(a)
      case "index_batch"  => new IndexBatch(a)
    }
    val setupS = ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    var spark: SparkSession = null
    for (_ <- 1 to wl.setupReps) {
      if (spark != null) stopSession(spark)
      val t0 = System.nanoTime()
      spark = tr.span(null, "session.build") { buildSession(a) }
      wl.setup(spark)
      setupS += (System.nanoTime() - t0) / 1e9
    }

    val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    var firstOpS = -1.0
    val warmupS = ArrayBuffer.empty[Double]
    var attempted = 0
    var failed = 0
    val errors = ArrayBuffer.empty[String]
    /** Wall time of each traced op, timed apart from its spans. */
    val tracedWall = ArrayBuffer.empty[(Int, Double)]
    def runOp(i: Int, timed: Boolean): Unit = {
      tr.beginOp(i)
      timedOp = timed
      // in a traced run half the timed op cycles run untraced, to price the
      // tracing: timed cycles 0 and 3 of every four are traced, 1 and 2 are
      // not, so both halves see the same mean position on the ANN live-delta
      // sawtooth. Untraced ops run without the listener and the filesystem
      // counts.
      tr.listen(spark, a.trace && (!timed || Set(0, 3)(((i - wl.warmup) / wl.cycle) % 4)))
      val t0 = System.nanoTime()
      val at = tr.spans.size
      try {
        val kind = tr.span(spark, "op") { wl.op(spark, i) }
        if (tr.active) tr.spans(at).name = s"op:$kind"
        val s = (System.nanoTime() - t0) / 1e9
        if (i == 0) firstOpS = s
        if (!timed) warmupS += s
        if (tr.active) tracedWall += i -> s
        if (timed) {
          stepS ++= opSteps
          samples.getOrElseUpdate(kind, ArrayBuffer.empty) += s
          samples.getOrElseUpdate((if (tr.active) "traced:" else "untraced:") + kind,
            ArrayBuffer.empty) += s
        }
      } catch {
        case e: Exception =>
          failed += 1
          errors += s"op $i: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
      }
      if (timed) attempted += 1
      opSteps.clear()
    }
    val t1 = System.nanoTime()
    (0 until wl.warmup).foreach(i => runOp(i, timed = false))
    val t2 = System.nanoTime()
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var i = wl.warmup
    // a run always yields a few samples of each series, however slow the
    // host, and a traced run two traced and two untraced ops of the series,
    // unless the run reaches MaxTimedEndS first
    def has(series: String, n: Int) = samples.get(series).exists(_.size >= n)
    def enough = has(wl.primary, 3) && stepS.size >= 5 &&
      (!a.trace || has("traced:" + wl.primary, 2) && has("untraced:" + wl.primary, 2))
    val hardStop = start + (MaxTimedEndS * 1e9).toLong
    while ((System.nanoTime() < deadline || (!enough && i < wl.warmup + 40)) &&
        System.nanoTime() < hardStop && !wl.exhausted(i)) {
      runOp(i, timed = true); i += 1
    }
    timedOp = false
    tr.listen(spark, false)

    val out = s"${a.work}/out"
    val t3 = System.nanoTime()
    val facts = wl.finish(spark, out)
    val t4 = System.nanoTime()
    val rssMb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "setup_s" -> setupS.toSeq, "first_op_s" -> firstOpS,
      "warmup_s" -> warmupS.toSeq,
      "step_s" -> stepS.toSeq, "warmup" -> wl.warmup, "traced_wall" -> tracedWall.toMap,
      "primary" -> wl.primary,
      "samples" -> samples.map { case (k, v) => k -> v.toSeq }.toMap,
      "attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq,
      "peak_rss_mb" -> rssMb, "facts" -> facts,
      "phase_s" -> Seq(t1 - start, t2 - t1, t3 - t2, t4 - t3).map(_ / 1e9))
    if (a.trace) result("trace") = traceDump
    Files.writeString(Paths.get(s"${a.work}/result.json"), Json(result.toMap))
    stopSession(spark)
  }

  private def traceDump: Map[String, Any] = Map(
    "spans" -> tr.spans.toSeq.map(s => Seq[Any](s.id, s.parent, s.name, s.op,
      s.startNs, s.endNs, s.startMs, s.endMs, s.c0.toSeq, s.c1.toSeq)),
    "jobs" -> tr.jobs.values.asScala.toSeq.sortBy(_.id).map(j => Seq[Any](j.id, j.span,
      j.startMs, j.endMs, j.tasks, j.shuffleBytes, j.spillBytes, j.execId)),
    "execs" -> tr.execs.values.asScala.toSeq.sortBy(_.id).map(e =>
      Seq[Any](e.id, tr.spanOfExec(e.id), e.startMs, e.planMs)))
}

/** Minimal JSON writer for the result file (maps, sequences, scalars). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o => apply(o.toString)
  }
}
