package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Crash-safe publish of a rewritten directory — shared by every durable
  * artifact that lives at a stable path and is maintained by
  * rewrite-and-swap (the st9 ledger, the q81 streaming manifest, the
  * st11 closure-label store).
  *
  * Delete-then-rename has a crash window where the primary path is
  * simply GONE (data stranded in the work dir, readers fail or silently
  * restart empty — the r9 ADVICE finding). [[swapIntoPlace]] instead
  * parks the live dir at `<dst>__old` before renaming the rewrite in:
  * no crash point loses data, and a crash between the two renames is
  * healed by [[recover]] on the next read. The two renames are still
  * not one atomic commit — object stores without rename semantics use
  * [[graft.streaming.ParquetLedger]]'s versioned-pointer flip instead.
  */
object DirSwap {

  def swapIntoPlace(fs: FileSystem, tmp: Path, dst: Path): Unit =
    swapIntoPlace(fs, tmp, dst, () => ())

  /** `midSwap` is a test seam fired between the park and the publish —
    * the window a concurrent reader's [[recover]] can race into
    * (restoring the parked dir while the writer is mid-swap). Production
    * callers use the two-arg form; the race spec injects the heal here.
    */
  private[graft] def swapIntoPlace(fs: FileSystem, tmp: Path, dst: Path,
      midSwap: () => Unit): Unit = {
    val old = new Path(dst.toString + "__old")
    var attempts = 0
    while (attempts < 3) {
      attempts += 1
      fs.delete(old, true) // leftover from a crash after a completed swap
      // Hadoop rename reports several failure modes (missing parent, dst
      // exists, fs-specific refusals) by RETURNING false rather than
      // throwing. Ignoring that result here is how the primitive loses
      // data: if tmp→dst fails after dst was parked at __old, an
      // unconditional trailing delete(old) would destroy the only live
      // copy. Every rename is therefore checked; on tmp→dst failure the
      // parked dir is restored (best effort — if even that fails, __old
      // is left for [[recover]]) and the swap throws.
      val parked = fs.exists(dst)
      if (parked && !fs.rename(dst, old))
        throw new java.io.IOException(s"DirSwap: could not park $dst at $old")
      midSwap()
      // publish — guarded against a concurrent reader's heal restoring
      // the parked dir in the window between the two renames: Hadoop
      // rename onto an EXISTING directory does not fail, it moves tmp
      // INTO it as a child (returning true), which would silently keep
      // the pre-rewrite content live with the rewrite nested inside.
      // Check-then-rename narrows the window; the nested-child check
      // catches a heal landing between the check and the rename.
      val published = !fs.exists(dst) && fs.rename(tmp, dst)
      if (published) {
        val nested = new Path(dst, tmp.getName)
        if (fs.exists(nested)) {
          // the heal won the TOCTOU race: un-nest the rewrite and retry
          if (!fs.rename(nested, tmp)) throw new java.io.IOException(
            s"DirSwap: heal raced the publish and un-nesting $nested " +
              s"back to $tmp failed; live data is at $dst")
        } else {
          fs.delete(old, true)
          return
        }
      }
      // restore the parked dir (guard the exists: RawLocalFileSystem
      // rename THROWS on a missing source instead of returning false)
      val restored = parked && fs.exists(old) && fs.rename(old, dst)
      if (parked && !restored) {
        // the restore can fail because a CONCURRENT reader's heal already
        // restored the parked dir between the two renames (dst reappeared,
        // so BOTH renames see an occupied target). The live data is then
        // safe at dst — claiming it is "parked at __old" would be false
        // (r18 verdict) — and the rewrite at tmp still wants publishing:
        // retry the whole swap (the reader's one-shot heal won't recur;
        // composed-sink readers additionally skip heals behind the
        // purge-in-progress marker).
        if (!fs.exists(dst)) throw new java.io.IOException(
          s"DirSwap: rename $tmp -> $dst failed AND restoring $old failed — " +
            s"live data is parked at $old; recover() will restore it")
        if (fs.exists(old)) throw new java.io.IOException(
          s"DirSwap: rename $tmp -> $dst failed with BOTH $dst and $old " +
            "present — a second writer is racing this swap; not retrying " +
            s"(the retry's park would delete $old). Resolve the writers, " +
            s"then re-run the rewrite; live data is at $dst")
      } else if (parked) {
        throw new java.io.IOException(
          s"DirSwap: rename $tmp -> $dst failed; previous content restored")
      } else {
        // nothing was parked (dst was absent when the publish started),
        // so "restored" would misdirect the operator (r19 ADVICE): the
        // publish simply failed and the rewrite is still intact at tmp.
        throw new java.io.IOException(
          s"DirSwap: publish $tmp -> $dst failed with no prior content " +
            s"to restore; rewrite left intact at $tmp")
      }
    }
    throw new java.io.IOException(
      s"DirSwap: rename $tmp -> $dst kept failing after concurrent heals " +
        s"restored $dst; rewrite left at $tmp, live data intact at $dst")
  }

  /** Heal a crash between [[swapIntoPlace]]'s two renames: primary
    * missing, parked `__old` present → restore it. (The interrupted
    * rewrite's tmp dir is stale garbage at that point; the next
    * rewrite's `overwrite` reclaims it.)
    */
  def recover(spark: SparkSession, dir: String): Unit = {
    val dst = new Path(dir)
    val old = new Path(dir + "__old")
    val fs = dst.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dst) && fs.exists(old)) { fs.rename(old, dst); () }
  }

  /** Heal every child-level swap under `parent` (the per-child form used
    * by the IVF index purge, which swaps each hit `cell=k` dir of a base
    * store and each hit `batch=<id>` dir of a deltas root individually):
    * for each `<name>__old` child, restore it when the primary `<name>`
    * is missing (crash between the two renames), and delete it when the
    * primary exists (crash after the publishing rename but before the
    * cleanup delete — the parked copy is superseded garbage, and leaving
    * it would break partition discovery: a `cell=k__old` dir makes Spark
    * infer the `cell` partition column as string instead of int). One
    * listStatus of the parent — bounded by the child count, not the
    * data.
    */
  def recoverChildren(fs: FileSystem, parent: Path): Unit = {
    if (fs.exists(parent)) {
      fs.listStatus(parent).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory && name.endsWith("__old")) {
          val primary = new Path(parent, name.stripSuffix("__old"))
          if (!fs.exists(primary)) fs.rename(st.getPath, primary)
          else fs.delete(st.getPath, true)
          ()
        }
      }
    }
  }
}
