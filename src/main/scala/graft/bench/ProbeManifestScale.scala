package graft.bench

import org.apache.spark.sql.SparkSession
import graft.streaming.IndexManifest

/** Manifest-commit cost at the EXTREME-leaf-count regime (r13 verdict
  * #4): a full `gen-N.txt` rewrites the whole live-leaf list every
  * commit — O(live leaves) bytes per streamed trigger — so at the
  * 100 TB regime (10⁵–10⁶ accrued leaves) the small-files wall would
  * return as a manifest-size wall. r14 made per-trigger commits DELTA
  * manifests (`+`/`-` lines, full snapshot re-anchored every
  * [[IndexManifest.fullEvery]] generations); this probe measures both
  * shapes at 10⁵ synthetic leaves so the envelope is a number, not a
  * claim:
  *
  *  - full_commit_sec / full_bytes — the legacy O(live) commit;
  *  - delta_commit_sec / delta_bytes — the per-trigger O(Δ) commit
  *    (averaged over a full fullEvery cycle, re-anchor included);
  *  - resolve_sec — `current()` at the deepest delta chain
  *    (fullEvery−1 replays), the read-side price of O(Δ) writes;
  *  - crc_files — `.crc` checksum sidecars under `_manifests` (0 on a
  *    local filesystem, where [[graft.util.SmallFiles]] writes the
  *    manifests without Hadoop's checksummed `create`).
  *
  * Pure manifest arithmetic: leaf names are synthetic (no data files —
  * commit never stats leaves; only commitBatch's listing does, and
  * that is O(new batch) by design). The temp root is deleted at exit.
  *
  * Usage: runMain graft.bench.ProbeManifestScale [nLeaves] [nTriggers]
  */
object ProbeManifestScale {
  def main(args: Array[String]): Unit = {
    val nLeaves = args.headOption.map(_.toInt).getOrElse(100000)
    val nTriggers = args.drop(1).headOption.map(_.toInt).getOrElse(64)
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time[T](b: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = b
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val root = java.nio.file.Files
      .createTempDirectory("graft_manifest_probe").toString
    val dir = s"$root/idx"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())

    // the 1e5-leaf live set: ~1k batches × ~100 lists
    val leaves = (0 until nLeaves)
      .map(i => s"batch=${i / 100}/list=${i % 100}")

    // full-commit shape (the pre-r14 per-trigger cost)
    val (snap0, tFull) = time(IndexManifest.commitAt(spark, dir, 0L, leaves))
    val fullBytes = fs.getFileStatus(new org.apache.hadoop.fs.Path(
      s"$dir/_manifests/gen-000000000.txt")).getLen

    // delta-trigger shape: nTriggers commits of 2 adds each (a
    // maxFilesPerTrigger-style micro-batch), re-anchors included
    var snap = snap0
    var deltaBytes = 0L
    val (_, tDeltas) = time {
      (1 to nTriggers).foreach { b =>
        snap = IndexManifest.commitDelta(spark, dir, snap,
          adds = Seq(s"batch=${10000 + b}/list=0",
            s"batch=${10000 + b}/list=1"),
          removes = Seq.empty)
      }
    }
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/_manifests"))
      .foreach { s =>
        if (s.getPath.getName.endsWith(".delta.txt"))
          deltaBytes += s.getLen
      }
    val nDeltaFiles = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$dir/_manifests"))
      .count(_.getPath.getName.endsWith(".delta.txt"))

    // read-side price: current() at the deepest chain the cadence
    // allows (walk to the last full + replay the deltas above it)
    val reps = 10
    val (_, tResolve) = time {
      (1 to reps).foreach(_ => IndexManifest.current(spark, dir))
    }

    // java.io: a checksummed Hadoop listing hides the sidecars
    val crcFiles = new java.io.File(s"$dir/_manifests").list()
      .count(_.endsWith(".crc"))
    val resolved = IndexManifest.current(spark, dir).get.leaves.size
    fs.delete(new org.apache.hadoop.fs.Path(root), true)

    println(
      s"""{"metric":"manifest_scale","n_leaves":$nLeaves,""" +
      s""""n_triggers":$nTriggers,""" +
      f""""full_commit_sec":$tFull%.4f,"full_bytes":$fullBytes,""" +
      f""""delta_commit_sec":${tDeltas / nTriggers}%.5f,""" +
      f""""delta_bytes_avg":${if (nDeltaFiles == 0) 0.0
        else deltaBytes.toDouble / nDeltaFiles}%.1f,""" +
      f""""resolve_sec":${tResolve / reps}%.4f,""" +
      s""""resolved_leaves":$resolved,"crc_files":$crcFiles}""")
    spark.stop()
  }
}
