package graft.streaming

import java.io.IOException
import java.nio.charset.StandardCharsets.UTF_8

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, max}
import org.apache.spark.sql.types.{DataType, StructType}

/** Durable keyed-state ledger backed by versioned parquet — the
  * production shape of the `getState`/`setState` contract the streaming
  * entry points take (tests also use an in-memory swap). Each `set`
  * writes a fresh `v<N>` directory and then flips a tiny CURRENT pointer
  * file, so a reader never observes a half-written snapshot and a crash
  * mid-write leaves the previous version intact. Combined with a
  * checkpointed source and the [[IdempotentMerge]] watermark column —
  * which this ledger PERSISTS — merged state survives JVM restarts
  * exactly-once, and a re-delivered batch after a lost checkpoint is
  * still a no-op because the watermark rides in the parquet itself.
  *
  * The pointer flip is delete-then-rename (not atomic on every FS): a
  * crash in the window between the two leaves no CURRENT file. Each
  * version therefore also carries a `_GRAFT_COMMITTED` marker written
  * after its parquet job completes and before the pointer flip, and a
  * reader that finds no (valid) pointer recovers the highest marked
  * version instead of silently falling back to `initial` — so the crash
  * window can only ever surface the snapshot being committed or its
  * predecessor, never lose committed state. A rename that reports
  * failure fails the commit loudly: the marked version is recovered by
  * the next reader, and a retried batch is a guard no-op.
  *
  * The marker is also the version's commit record, the way Delta Lake's
  * log carries a table's schema and each writer's `txn` watermark
  * (Armbrust et al., VLDB 2020) — one line of JSON:
  * {{{ {"watermark":<max __max_applied_batch, or null>,"schema":<schema JSON>} }}}
  * The watermark is observed on the parquet write itself (`df.observe`),
  * so the record costs no job. `get` reads with the recorded schema (no
  * schema-inference job) and attaches the watermark to the batch column
  * as [[IdempotentMerge.WatermarkKey]] metadata, which lets
  * [[IdempotentMerge]] decide a replay with no Spark action. A version
  * whose marker is empty (written before records existed) or unreadable
  * is read with schema inference, and the guard falls back to its probe
  * job — the same answers for an inference job and a probe job.
  *
  * At cluster scale a transactional table format (Delta/Iceberg) owns
  * this commit protocol; this is the same idea with a pointer file, and
  * the delete+rename pointer flip assumes a single writer (true for a
  * streaming query's foreachBatch, which Spark serializes per query).
  */
class ParquetLedger(spark: SparkSession, dir: String, initial: DataFrame) {

  private val root = new Path(dir)
  private def fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def pointer = new Path(root, "CURRENT")
  private def versionDir(v: Int) = new Path(root, s"v$v")
  private def marker(v: Int) = new Path(versionDir(v), "_GRAFT_COMMITTED")

  /** Highest fully-committed version: the pointer when it exists and
    * names a version whose directory is present (marker NOT required on
    * this path — ledgers written before the marker existed stay
    * readable); otherwise a recovery scan over `v<N>` dirs for the
    * highest commit marker (covers a crash between the pointer delete
    * and rename, and a torn/corrupt pointer write).
    *
    * Two pointer-failure modes are distinguished: a pointer that
    * VANISHES between `exists` and `open` is a reader racing the
    * writer's delete→rename flip — the marker scan is the designed
    * recovery path. A pointer that is PRESENT but unreadable (torn
    * write / dangling version) on a ledger with version dirs but no
    * markers is a pre-marker ledger whose committed version can no
    * longer be determined — that reader fails loudly rather than
    * silently resetting committed state to `initial`.
    */
  private def currentVersion: Option[Int] = {
    var sawPointer = false
    val fromPointer =
      try {
        if (!fs.exists(pointer)) None
        else {
          sawPointer = true
          val in = fs.open(pointer)
          val txt = try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
          Some(txt.toInt).filter(v => fs.exists(versionDir(v)))
        }
      } catch {
        case _: java.io.FileNotFoundException =>
          // vanished between exists and open: the writer's pointer flip
          // in flight — recover from the markers like a missing pointer
          sawPointer = false; None
        case _: NumberFormatException => None // torn/corrupt pointer write
      }
    fromPointer.orElse(recoverVersion).orElse {
      val existing = listVersions
      if (sawPointer && existing.nonEmpty)
        throw new IllegalStateException(
          s"ParquetLedger at $dir: CURRENT exists but is unreadable or names a missing " +
            s"version, no version carries a _GRAFT_COMMITTED marker, and version dirs " +
            s"exist (${existing.sorted.map("v" + _).mkString(", ")}) — a pre-marker " +
            "ledger with a torn pointer. Refusing to silently reset committed state to " +
            "`initial`; repair CURRENT to the committed version or remove the stale dirs.")
      None
    }
  }

  private def listVersions: Seq[Int] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .map(_.getPath.getName)
      .collect { case s if s.matches("v\\d+") => s.drop(1).toInt }

  private def recoverVersion: Option[Int] =
    listVersions.filter(v => fs.exists(marker(v))).sorted.lastOption

  /** The commit record in version `v`'s marker; None when the marker is
    * empty (a pre-record ledger) or unreadable. */
  private def record(v: Int): Option[(StructType, Option[Long])] =
    try {
      val in = fs.open(marker(v))
      val json = try new String(in.readAllBytes(), UTF_8) finally in.close()
      val node = ParquetLedger.Json.readTree(json)
      val wm = node.get("watermark")
      require(wm.isNull || wm.isIntegralNumber, s"watermark $wm")
      Some((DataType.fromJson(node.get("schema").toString).asInstanceOf[StructType],
        Option.when(!wm.isNull)(wm.longValue)))
    } catch { case NonFatal(_) => None }

  private def write(p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  /** Latest committed snapshot, or the initial state before any commit. */
  def get(): DataFrame = currentVersion match {
    case Some(v) =>
      val path = versionDir(v).toString
      record(v) match {
        case Some((schema, wm)) =>
          spark.read.schema(IdempotentMerge.withWatermark(schema, wm)).parquet(path)
        case None => spark.read.parquet(path)
      }
    case None => initial
  }

  /** Commit a new snapshot: write `v<N+1>` fully, mark it committed with
    * its record, then flip the pointer. `next` tops every EXISTING
    * version dir (marked or not), so a recovery that resolved an older
    * version can never clobber a newer — possibly uncommitted — directory.
    */
  def set(df: DataFrame): Unit = {
    val next = (currentVersion.toSeq ++ listVersions).foldLeft(-1)(_ max _) + 1
    val data = IdempotentMerge.stripWatermark(df)
    val watermark = new Observation()
    val tracked = data.columns.contains(IdempotentMerge.BatchCol)
    (if (tracked) data.observe(watermark, max(col(IdempotentMerge.BatchCol)).as("wm")) else data)
      .write.mode("overwrite").parquet(versionDir(next).toString)
    val wm = if (tracked) Option(watermark.get("wm")).map(_.asInstanceOf[Long]) else None
    write(marker(next), s"""{"watermark":${wm.fold("null")(_.toString)},"schema":${data.schema.json}}""")
    val tmp = new Path(root, "CURRENT.tmp")
    write(tmp, next.toString)
    fs.delete(pointer, false)
    if (!fs.rename(tmp, pointer))
      throw new IOException(s"ParquetLedger at $dir: renaming CURRENT.tmp to CURRENT " +
        s"failed; v$next is marked committed and the next reader recovers it")
  }
}

object ParquetLedger {
  private val Json = new ObjectMapper()
}
