package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.spark.{GraftSparkInternals, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Hadoop FileSystem calls made through the local filesystem, counted
  * process-wide while `on`. Installed as `fs.file.impl` in traced runs
  * only, and counting only during traced ops.
  */
object FsCounters {
  @volatile var on = false
  val reads = new AtomicLong
  val writes = new AtomicLong
  val lists = new AtomicLong
  /** Bytes written through the local filesystem, from Hadoop's own
    * per-scheme statistics. */
  def bytesWritten: Long = {
    import scala.jdk.CollectionConverters._
    @annotation.nowarn("cat=deprecation")
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    all.filter(_.getScheme == "file").map(_.getBytesWritten).sum
  }
  def snapshot: Array[Long] = Array(reads.get, writes.get, lists.get, bytesWritten)
}

class CountingLocalFileSystem extends LocalFileSystem {
  import FsCounters._
  private def count(c: AtomicLong): Unit = if (on) { c.incrementAndGet(); () }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    count(reads); super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path): FileStatus = {
    count(reads); super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    count(lists); super.listStatus(f)
  }
  override def create(f: Path, permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): FSDataOutputStream = {
    count(writes)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    count(writes); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    count(writes); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: org.apache.hadoop.fs.permission.FsPermission): Boolean = {
    count(writes); super.mkdirs(f, permission)
  }
}

/** One timed call into a layer. `op` is the id of the benchmark operation
  * the span belongs to (-1 during set-up). Counter arrays hold the
  * process-wide counters at span start and end: codegen compile ns,
  * codegen compile count, then the four [[FsCounters]].
  */
final case class Span(id: Int, parent: Int, var name: String, op: Int,
    startNs: Long, var endNs: Long, startMs: Long, var endMs: Long,
    c0: Array[Long], var c1: Array[Long])

/** In-memory span recorder plus the Spark listener that attaches jobs and
  * query executions to spans. While inactive every call is a plain
  * pass-through and the listener is not registered, so untraced runs and
  * the untraced ops of a traced run pay nothing but one branch.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var currentOp = -1
  /** Switched off for the untraced half of a traced run (overhead probe). */
  var active: Boolean = enabled
  private var listening: SparkContext = null

  // filled by listener threads
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  /** Root SQL executions (one per Dataset action) by execution id. */
  val execs = new java.util.concurrent.ConcurrentHashMap[Long, Exec]()
  private val execSpan = new java.util.concurrent.ConcurrentHashMap[Long, Int]()

  private def counters: Array[Long] = {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    import org.apache.spark.metrics.source.CodegenMetrics
    Array(CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount) ++
      FsCounters.snapshot
  }

  def beginOp(op: Int): Unit = currentOp = op

  def span[A](spark: SparkSession, name: String)(body: => A): A =
    if (!active) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      val s = Span(spans.size, parent, name, currentOp, System.nanoTime(), 0L,
        System.currentTimeMillis(), 0L, counters, null)
      spans += s
      stack = s :: stack
      // null while the session itself is being built
      val sc = Option(spark).map(_.sparkContext)
      val prev = sc.map(_.getLocalProperty(SpanProp)).orNull
      sc.foreach(_.setLocalProperty(SpanProp, s.id.toString))
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        s.c1 = counters
        stack = stack.tail
        sc.foreach(_.setLocalProperty(SpanProp, prev))
      }
    }

  /** Turn tracing on or off for the ops that follow on `spark`: the
    * listener is registered while on, and removed, once the events of the
    * traced ops are delivered, when turned off. */
  def listen(spark: SparkSession, on: Boolean): Unit = {
    active = enabled && on
    FsCounters.on = active
    val sc = spark.sparkContext
    if (active && listening != sc) {
      sc.addSparkListener(listener)
      listening = sc
    } else if (!active && listening != null) {
      GraftSparkInternals.waitListenerBusEmpty(listening, 10000)
      listening.removeSparkListener(listener)
      listening = null
    }
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val span = p.flatMap(x => Option(x.getProperty(SpanProp))).map(_.toInt).getOrElse(-1)
      val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobs.put(e.jobId, Job(e.jobId, span, e.time, -1L, 0, 0L, 0L, exec))
      e.stageIds.foreach(st => stageJob.put(st, e.jobId))
      if (exec >= 0 && span >= 0) execSpan.putIfAbsent(exec, span)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if s.rootExecutionId.forall(_ == s.executionId) =>
        execs.put(s.executionId, Exec(s.executionId, s.time, 0.0)); ()
      case s: SparkListenerSQLExecutionEnd =>
        Option(execs.get(s.executionId)).foreach(_.planMs =
          org.apache.spark.sql.perfbench.ExecutionEnd.planMs(s))
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        j.synchronized {
          j.tasks += 1
          val m = e.taskMetrics
          if (m != null) {
            j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            j.spillBytes += m.diskBytesSpilled
          }
        }
      }
  }

  /** Span an execution belongs to: the span its jobs carried, else none. */
  def spanOfExec(id: Long): Int = Option(execSpan.get(id)).map(_.intValue).getOrElse(-1)
}

object Tracer {
  val SpanProp = "perfbench.span"
  final case class Job(id: Int, span: Int, startMs: Long, var endMs: Long,
      var tasks: Int, var shuffleBytes: Long, var spillBytes: Long, execId: Long)
  final case class Exec(id: Long, startMs: Long, var planMs: Double)
}
