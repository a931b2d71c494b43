package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.hadoop.fs.{FileSystem, Path}
import graft.util.SmallFiles
import graft.util.SmallFiles.fsOf

/** Crash-safe directory replacement shared by the accumulated-index
  * maintenance helpers ([[NearDupStream.compactIndex]],
  * [[CurateStream.compactFpIndex]], [[IvfStream.reassign]]): the
  * caller writes the replacement content under a `.compact` temp dir,
  * then `swap` renames live → `.old` → installs tmp → deletes `.old`.
  *
  * Two sibling marker files make the discipline mechanical:
  *
  *  - `<live>.swapping` exists while a swap is running (or crashed
  *    mid-run). A reader that finds it with NEITHER a live index nor a
  *    complete `.old` fails fast with a clear message instead of
  *    silently reading an empty index.
  *  - `<live>.old.complete` is created only AFTER the live → `.old`
  *    rename has returned, so its presence certifies `.old` is a
  *    complete copy. This matters on object stores (S3A), where a
  *    directory "rename" is a non-atomic client-side copy+delete: a
  *    crash mid-rename leaves a PARTIAL `.old`, and installing that as
  *    the live index would be silent data loss. `restoreIfInterrupted`
  *    restores `.old` only when the marker is present and refuses —
  *    loudly — otherwise. (On local/HDFS the rename is atomic, so the
  *    unmarked window is only the instant between the rename and the
  *    marker create; a crash there fails loud, never corrupts.)
  *
  * A crash BETWEEN the two renames (the common case: live moved aside,
  * replacement not yet installed) therefore self-heals on the next
  * read, exactly as before, and the markers are cleaned up with it.
  * Everything goes through the Hadoop FileSystem API (the markers
  * through [[graft.util.SmallFiles]]) so an HDFS/S3 index directory
  * works like a local one.
  *
  * CONCURRENCY CONTRACT: swap runs while readers and the ingest stream
  * are QUIESCED (every call site documents it). The markers detect and
  * contain crashes; they do not make concurrent reader-vs-swap races
  * safe. */
private[graft] object IndexSwap {

  def swap(spark: SparkSession, liveDir: String, tmpDir: String): Unit = {
    val live = new Path(liveDir)
    val fs = fsOf(spark, live)
    val tmpP = new Path(tmpDir)
    val oldP = new Path(liveDir + ".old")
    val oldOk = new Path(liveDir + ".old.complete")
    val inprog = new Path(liveDir + ".swapping")
    // heal (or fail loudly) BEFORE touching .old: a direct call on an
    // interrupted index must not delete the sole surviving copy
    restoreIfInterrupted(fs, liveDir)
    require(fs.exists(live),
      s"IndexSwap: live index $liveDir does not exist — nothing to " +
        "swap (write the initial index directly)")
    require(fs.exists(tmpP),
      s"IndexSwap: replacement $tmpDir does not exist")
    SmallFiles.touch(fs, inprog)
    if (fs.exists(oldP)) { fs.delete(oldP, true); () }
    require(fs.rename(live, oldP),
      s"IndexSwap: rename $liveDir -> $oldP failed")
    SmallFiles.touch(fs, oldOk) // .old certified complete from here
    require(fs.rename(tmpP, live),
      s"IndexSwap: rename $tmpDir -> $liveDir failed")
    fs.delete(oldP, true)
    fs.delete(oldOk, false)
    fs.delete(inprog, false)
    ()
  }

  /** Self-heal a maintenance run that crashed after renaming the live
    * index away but before installing the replacement; clean up marker
    * litter from a crash after the install. Fails fast (clear message)
    * when `.old` lacks its completion marker — a possibly-partial copy
    * is never silently installed — or when a crashed swap left neither
    * a live index nor a restorable `.old`. */
  def restoreIfInterrupted(spark: SparkSession, liveDir: String): Unit =
    restoreIfInterrupted(fsOf(spark, new Path(liveDir)), liveDir)

  private def restoreIfInterrupted(fs: FileSystem, liveDir: String): Unit = {
    val live = new Path(liveDir)
    val oldP = new Path(liveDir + ".old")
    val oldOk = new Path(liveDir + ".old.complete")
    val inprog = new Path(liveDir + ".swapping")
    if (!fs.exists(live)) {
      if (fs.exists(oldP)) {
        require(fs.exists(oldOk),
          s"IndexSwap: $oldP exists WITHOUT its completion marker " +
            s"($oldOk) — the live->.old rename itself was interrupted, " +
            "so .old may be a PARTIAL copy (object-store rename is a " +
            "non-atomic copy+delete). Refusing to install it as the " +
            s"live index; recover $liveDir manually.")
        require(fs.rename(oldP, live),
          s"IndexSwap: could not restore $oldP -> $liveDir")
        fs.delete(oldOk, false)
        fs.delete(inprog, false)
        ()
      } else {
        require(!fs.exists(inprog),
          s"IndexSwap: a swap of $liveDir is in progress or crashed " +
            s"($inprog exists) and neither the live index nor a " +
            "complete .old copy is present — refusing to read. If no " +
            "maintenance job is running, restore the index from its " +
            "replacement source.")
        // neither live nor .old nor marker: the index simply does not
        // exist yet — a legitimate empty read
      }
    } else if (fs.exists(inprog)) {
      // live + .swapping + an UNMARKED .old is AMBIGUOUS (r11 ADVICE):
      // on an object store the live->.old rename is copy-then-delete,
      // so a crash in the COPY phase leaves live complete + .old
      // partial, while a crash in the DELETE phase leaves live PARTIAL
      // + .old complete — indistinguishable without the marker. The
      // old code deleted .old unconditionally, which in the second
      // case destroys the sole complete copy and hands readers the
      // partial live index silently. Refuse instead.
      require(!fs.exists(oldP) || fs.exists(oldOk),
        s"IndexSwap: a swap of $liveDir crashed mid-rename — $liveDir " +
          s"and $oldP both exist and $oldP has NO completion marker, " +
          "so EITHER may be a partial object-store copy. Refusing to " +
          "auto-clean: compare the two directories; keep the complete " +
          s"one as $liveDir, delete the other and the marker files.")
      // .old certified complete (crash after the install, before the
      // cleanup) or absent (crash before live moved): live is a
      // complete index — clear the crash litter so the next swap
      // starts clean
      if (fs.exists(oldP)) { fs.delete(oldP, true); () }
      if (fs.exists(oldOk)) { fs.delete(oldOk, false); () }
      fs.delete(inprog, false)
      ()
    }
    healInterruptedDelete(fs, liveDir)
  }

  /** Heal a [[graft.streaming.IndexDelete]] partition-scoped delete
    * that crashed mid-run: the top-level `<live>.deleting` marker
    * scopes a walk that finds every partition-level `.swapping` marker
    * and heals it through [[restoreIfInterrupted]]'s own discipline
    * (each affected partition was being swapped with the standard
    * marker protocol), then clears the delete's temp tree. Costs one
    * recursive listing, paid ONLY when the marker exists — the normal
    * read path never walks. Idempotent: re-running [[IndexDelete
    * .deleteIds]] with the same id set after the heal completes the
    * delete. */
  private def healInterruptedDelete(fs: FileSystem, liveDir: String): Unit = {
    val live = new Path(liveDir)
    val deleting = new Path(liveDir + ".deleting")
    if (!fs.exists(deleting)) return
    if (fs.exists(live)) {
      // walk for partition-level ".swapping" markers left by a crash
      // between a partition's two renames; heal each partition dir
      val it = fs.listFiles(live, true)
      val marked = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val f = it.next().getPath
        if (f.getName.endsWith(".swapping"))
          marked += f.toString.stripSuffix(".swapping")
      }
      marked.foreach(p => restoreIfInterrupted(fs, p))
    }
    val tmpRoot = new Path(liveDir + ".delete")
    if (fs.exists(tmpRoot)) { fs.delete(tmpRoot, true); () }
    fs.delete(deleting, false)
    ()
  }

  /** Top-level `batch=` count of an accrued index — the fragmentation
    * reading shared by every tier's maxBatches arm (one directory
    * listing, no data read). On a MANIFESTED index the reading is the
    * LIVE batch count from the current snapshot, not the physical dir
    * count: retained dead leaves awaiting [[IndexManifest.vacuum]]
    * would otherwise re-trigger compaction on every maintain call —
    * each one adding a generation — until someone vacuums. */
  private[graft] def countBatches(spark: SparkSession,
                                  indexDir: String): Int =
    IndexManifest.current(spark, indexDir) match {
      case Some(snap) =>
        snap.leaves.map(_.split("/")(0)).distinct.size
      case None =>
        val p = new Path(indexDir)
        val fs = fsOf(spark, p)
        if (!fs.exists(p)) 0
        else fs.listStatus(p).count(_.getPath.getName.startsWith("batch="))
    }

  /** Maintenance-helper precondition: heal if needed, then require the
    * live directory exists BEFORE the caller spends a job writing its
    * temp replacement (an absent index used to surface as a confusing
    * mid-swap rename failure AFTER the compact write — r10 ADVICE). */
  private[graft] def requireLive(spark: SparkSession, liveDir: String,
                                 op: String): Unit = {
    val live = new Path(liveDir)
    val fs = fsOf(spark, live)
    restoreIfInterrupted(fs, liveDir)
    require(fs.exists(live),
      s"$op: index directory $liveDir does not exist — nothing to " +
        "maintain (build or attach the index first)")
  }
}
