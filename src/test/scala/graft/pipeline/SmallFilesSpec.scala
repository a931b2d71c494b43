package graft.pipeline

import org.apache.hadoop.fs.Path
import graft.streaming.{IndexManifest, IndexSwap}

/** [[graft.util.SmallFiles]]: the manifest, tombstone, params and
  * marker writers on a local filesystem. They must leave no `.crc`
  * sidecar behind, and they must read, vacuum and rewrite files that a
  * Hadoop `create` wrote (sidecar and all) without a checksum error or
  * a stale sidecar next to a rewritten file. */
class SmallFilesSpec extends graft.SparkSpec {

  private def tmpRoot(prefix: String): String =
    tempDir(prefix).toString

  private def fsFor(p: String) =
    new Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  /** The `.crc` sidecars directly under `dir`, listed with java.io:
    * a checksummed Hadoop listing hides them. */
  private def crcIn(dir: String): Seq[String] =
    new java.io.File(dir).list().toSeq.filter(_.endsWith(".crc")).sorted

  /** Write `text` the way a Hadoop `create` does: with a sidecar. */
  private def hadoopWrite(p: String, text: String): Unit = {
    val out = fsFor(p).create(new Path(p), true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  test("manifests, tombstones, params and swap markers leave no .crc " +
    "sidecar on a local filesystem") {
    val root = tmpRoot("graft_smallfiles")
    val dir = s"$root/idx"
    var snap = IndexManifest.commitAt(spark, dir, 0L,
      (0 until 50).map(i => s"batch=0/list=$i"))
    (1 to 20).foreach { b =>
      snap = IndexManifest.commitDelta(spark, dir, snap,
        Seq(s"batch=$b/list=0"), Seq.empty)
    }
    IndexManifest.vacuum(spark, dir, keepGens = 1)
    val md = s"$dir/_manifests"
    assert(fsFor(md).exists(new Path(md, "committed-batches.txt")) &&
      fsFor(md).exists(new Path(md, "committed-batches.max")),
      "fixture: the vacuum must write both tombstone files")
    assert(crcIn(md).isEmpty)
    assert(IndexManifest.current(spark, dir).get.leaves.toSet ===
      snap.leaves.toSet)

    VectorIndex.writeParams(spark, dir,
      VectorIndex.Params(VectorIndex.FloatTier, nLists = 4))
    assert(crcIn(dir).isEmpty)
    assert(VectorIndex.readParams(spark, dir).map(_.nLists) === Some(4))

    val live = s"$root/swap/live"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(live))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$live.compact"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$live.compact/f"),
      "new".getBytes("UTF-8"))
    IndexSwap.swap(spark, live, s"$live.compact")
    assert(fsFor(live).exists(new Path(s"$live/f")))
    assert(crcIn(s"$root/swap").isEmpty)
    assert(crcIn(live).isEmpty)
    fsFor(root).delete(new Path(root), true)
  }

  test("files a Hadoop create wrote (with sidecars) are read, vacuumed " +
    "and rewritten with no checksum error and no stale sidecar") {
    val root = tmpRoot("graft_smallfiles_compat")
    val dir = s"$root/idx"
    val md = s"$dir/_manifests"
    hadoopWrite(s"$md/gen-000000000.txt", "batch=0/list=0\nbatch=0/list=1")
    hadoopWrite(s"$md/gen-000000001.delta.txt", "+batch=1/list=0")
    hadoopWrite(s"$md/committed-batches.txt", "batch=0")
    hadoopWrite(s"$md/committed-batches.max", "0")
    assert(crcIn(md) === Seq(".committed-batches.max.crc",
      ".committed-batches.txt.crc", ".gen-000000000.txt.crc",
      ".gen-000000001.delta.txt.crc"), "fixture: every file has a sidecar")

    val snap1 = IndexManifest.pin(spark, dir)
    assert(snap1.gen === 1L)
    assert(snap1.leaves ===
      Seq("batch=0/list=0", "batch=0/list=1", "batch=1/list=0"))
    assert(IndexManifest.tombstoned(spark, dir, "batch=0"))
    assert(!IndexManifest.tombstoned(spark, dir, "batch=5"))
    assert(IndexManifest.everReferenced(spark, dir, "batch=1"))

    // gen 2 a delta, gen 3 a full re-anchor: vacuum keeps gen 3 alone,
    // deletes the parent-written generations and rewrites both
    // tombstone files
    val snap2 = IndexManifest.commitDelta(spark, dir, snap1,
      Seq("batch=2/list=0"), Seq.empty)
    val snap3 = IndexManifest.commit(spark, dir,
      snap2.leaves :+ "batch=3/list=0")
    IndexManifest.vacuum(spark, dir, keepGens = 1)
    val names = fsFor(md).listStatus(new Path(md)).map(_.getPath.getName)
      .sorted.toSeq
    assert(names === Seq("committed-batches.max", "committed-batches.txt",
      "gen-000000003.txt"), s"vacuumed _manifests: $names")
    // a stale sidecar next to a rewritten file fails its next read
    assert(IndexManifest.tombstoned(spark, dir, "batch=2"))
    assert(IndexManifest.tombstoned(spark, dir, "batch=0"))
    assert(!IndexManifest.tombstoned(spark, dir, "batch=4"))
    assert(IndexManifest.everReferenced(spark, dir, "batch=1"))
    assert(IndexManifest.current(spark, dir).get === snap3)

    // params: read the Hadoop-written file, then rewrite it
    val props = new java.util.Properties()
    val p0 = VectorIndex.Params(VectorIndex.Sq8Tier, nLists = 9,
      metaCols = Seq("lang"))
    VectorIndex.writeParams(spark, dir, p0)
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/_vectorindex.properties"))
    props.load(new java.io.ByteArrayInputStream(bytes))
    props.setProperty("nProbe", "7")
    val buf = new java.io.ByteArrayOutputStream()
    props.store(buf, null)
    hadoopWrite(s"$dir/_vectorindex.properties", buf.toString("ISO-8859-1"))
    assert(crcIn(dir) === Seq("._vectorindex.properties.crc"),
      "fixture: the params file has a sidecar")
    assert(VectorIndex.readParams(spark, dir) === Some(p0.copy(nProbe = 7)))
    val p1 = p0.copy(nProbe = 3, shortlist = 80)
    VectorIndex.writeParams(spark, dir, p1)
    assert(crcIn(dir).isEmpty)
    assert(VectorIndex.readParams(spark, dir) === Some(p1))
    fsFor(root).delete(new Path(root), true)
  }

  test("q217 removes its temp root") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def q217Dirs(): Set[String] =
      Option(tmp.list()).map(_.toSet).getOrElse(Set.empty)
        .filter(_.startsWith("graft_q217"))
    val before = q217Dirs()
    val row = graft.SparkEntry.queries("q217_delta_manifest")(spark, sf)
      .collect()(0)
    assert((0 until row.length).forall(row.getBoolean),
      s"every q217 boolean must hold: $row")
    assert(q217Dirs() === before)
  }
}
