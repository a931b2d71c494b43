package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.Similarity
import graft.streaming.{IndexDelete, IndexManifest, IvfStream, NearDupStream}
import graft.streaming.ModelStore.{FloatCenters, PqQuantizer, SqQuantizer}

/** [[graft.streaming.IndexManifest]]: snapshot-isolated index reads —
  * the r12-verdict-#1 contract. A reader pinned to the pre-rewrite
  * manifest must see BYTE-STABLE data while deleteIds / compaction /
  * reassign / streamed attach rewrite the index underneath it, the
  * post-rewrite manifest must see exactly the new live set, and
  * vacuum must reclaim precisely the unreferenced leaves. */
class SnapshotSpec extends SparkSpec {
  import org.apache.hadoop.fs.Path

  private def fsFor(p: String) =
    new Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  private def rowSet(df: DataFrame): Set[String] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq.toString
      case x => String.valueOf(x)
    }.mkString("|")).toSet

  /** Build the two-trigger float-IVF fixture and enroll it. */
  private def floatFixture(root: String, e: DataFrame,
                           centers: Array[Array[Double]]): Unit = {
    IvfStream.encode(e.filter(col("vec_id") % 2 === 0), FloatCenters(centers))
      .write.partitionBy("list").mode("overwrite")
      .parquet(s"$root/idx/batch=0")
    IvfStream.encode(e.filter(col("vec_id") % 2 =!= 0), FloatCenters(centers))
      .write.partitionBy("list").mode("overwrite")
      .parquet(s"$root/idx/batch=1")
    IndexManifest.enroll(spark, s"$root/idx")
    ()
  }

  test("deleteIds on a manifested index: a reader pinned to the " +
    "pre-delete snapshot stays byte-stable while the delete installs; " +
    "the current snapshot excludes the deleted ids") {
    val e = Tables.embeddings(spark, sf).cache()
    val root = tempDir("graft_snap").toString
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 4)
    floatFixture(root, e, centers)
    val pinned = IndexManifest.pin(spark, s"$root/idx")
    // the CONCURRENT reader: planned (files resolved) before the delete
    val pinnedDf = IndexManifest.readSnapshot(spark, s"$root/idx", pinned).get
      .select("vec_id", "embedding", "list")
    val before = rowSet(pinnedDf)
    val doomed = Seq(1L, 2L, 5L, 8L, 13L)
    val rep = IndexDelete.deleteIds(spark, s"$root/idx", doomed, "vec_id")
    assert(rep.rowsDeleted === doomed.length.toLong)
    assert(rep.partitionsTotal === pinned.leaves.size)
    assert(rep.partitionsRewritten < rep.partitionsTotal)
    // 1. the pinned plan re-reads identically — its files were retained
    assert(rowSet(pinnedDf) === before,
      "pre-delete snapshot must stay byte-stable under the delete")
    // ...even a FRESH plan of the old generation (new file listing)
    val repinned = IndexManifest.readSnapshot(spark, s"$root/idx", pinned)
      .get.select("vec_id", "embedding", "list")
    assert(rowSet(repinned) === before)
    // 2. the current generation excludes the doomed ids and nothing else
    val after = IvfStream.readIndex(spark, s"$root/idx")
    assert(after.filter(col("vec_id").isin(doomed: _*)).count() === 0L)
    val want = IvfStream.encode(e, FloatCenters(centers))
      .filter(!col("vec_id").isin(doomed: _*))
    assert(after.exceptAll(want).isEmpty && want.exceptAll(after).isEmpty)
    // 3. probes over the current snapshot never return a deleted id and
    //    match the in-memory minus-doomed twin
    val qs = e.filter(col("vec_id") < 30)
    val got = Similarity.ivfTopKFromIndex(spark, qs, after, centers,
      k = 5, nProbe = 2)
    val wantProbe = Similarity.ivfTopKFromIndex(spark, qs, want, centers,
      k = 5, nProbe = 2)
    assert(got.exceptAll(wantProbe).isEmpty &&
      wantProbe.exceptAll(got).isEmpty)
    // 4. the retired generation's directories are still on disk
    //    (reclaim is vacuum's job, not the delete's)
    val fs = fsFor(root)
    assert(pinned.leaves.forall(l =>
      fs.exists(new Path(s"$root/idx/$l"))),
      "retired leaves must be retained for pinned readers")
    e.unpersist()
  }

  test("superset (isin) regime on a manifested index ≡ the exact " +
    "OR-chain regime: same survivors, no duplicated rows") {
    val e = Tables.embeddings(spark, sf).cache()
    val rootA = tempDir("graft_snapA").toString
    val rootB = tempDir("graft_snapB").toString
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 4)
    floatFixture(rootA, e, centers)
    floatFixture(rootB, e, centers)
    val doomed = Seq(1L, 2L, 5L, 8L, 13L)
    IndexDelete.deleteIds(spark, s"$rootA/idx", doomed, "vec_id")
    // force the per-column isin degrade on B
    import spark.implicits._
    IndexDelete.deleteIds(spark, s"$rootB/idx", doomed.toDF("vec_id"),
      "vec_id", maxExactLeafPredicates = 0)
    val a = IvfStream.readIndex(spark, s"$rootA/idx")
    val b = IvfStream.readIndex(spark, s"$rootB/idx")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "isin-superset route diverges from the exact route")
    assert(b.count() === b.select("vec_id").distinct().count(),
      "superset rewrite must not duplicate rows")
    e.unpersist()
  }

  test("compaction and reassign on a manifested index are " +
    "copy-on-write: pinned reader stable, row set preserved, manifest " +
    "collapses to the rewrite batch") {
    val e = Tables.embeddings(spark, sf).cache()
    val root = tempDir("graft_snapc").toString
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 4)
    floatFixture(root, e, centers)
    val pinned = IndexManifest.pin(spark, s"$root/idx")
    val before = rowSet(IndexManifest
      .readSnapshot(spark, s"$root/idx", pinned).get
      .select("vec_id", "embedding", "list"))
    IvfStream.compactIndex(spark, s"$root/idx")
    val snap2 = IndexManifest.pin(spark, s"$root/idx")
    assert(snap2.gen > pinned.gen)
    assert(snap2.leaves.forall(_.startsWith(s"batch=${pinned.rewriteBatchId}/")),
      s"compacted manifest must hold only the rewrite batch: ${snap2.leaves}")
    // pinned reader byte-stable; current row set identical
    assert(rowSet(IndexManifest.readSnapshot(spark, s"$root/idx", pinned)
      .get.select("vec_id", "embedding", "list")) === before)
    assert(rowSet(IvfStream.readIndex(spark, s"$root/idx")) === before)
    // reassign: copy-on-write too, probe route equality preserved
    val centers7 = Similarity.ivfTrainCentroids(spark, e, nLists = 4,
      seed = 7)
    IvfStream.reassign(spark, s"$root/idx", FloatCenters(centers7))
    val want = IvfStream.encode(e, FloatCenters(centers7))
    val got = IvfStream.readIndex(spark, s"$root/idx")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // the compaction generation is STILL readable (not vacuumed)
    assert(rowSet(IndexManifest.readSnapshot(spark, s"$root/idx", snap2)
      .get.select("vec_id", "embedding", "list")) === before)
    e.unpersist()
  }

  test("vacuum reclaims retired leaves, KEEPS uncommitted orphans " +
    "(pending replays) unless pendingOk, keeps the current " +
    "generation intact") {
    val e = Tables.embeddings(spark, sf).cache()
    val root = tempDir("graft_snapv").toString
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 4)
    floatFixture(root, e, centers)
    IndexDelete.deleteIds(spark, s"$root/idx", Seq(1L, 2L, 5L), "vec_id")
    val current = IndexManifest.pin(spark, s"$root/idx")
    val currentRows = rowSet(IvfStream.readIndex(spark, s"$root/idx"))
    // an orphan from a forged crashed rewrite: data written, no commit
    val fs = fsFor(root)
    IvfStream.encode(e.filter(col("vec_id") < 5), FloatCenters(centers))
      .write.partitionBy("list").mode("overwrite")
      .parquet(s"$root/idx/batch=-777")
    val removed = IndexManifest.vacuum(spark, s"$root/idx", keepGens = 1)
    assert(removed > 0, "retired gen-0 leaves must be reclaimed")
    // the never-committed orphan is a PENDING first attempt a restart
    // replay may be mid-flight on (r14 verdict #3): the default vacuum
    // must leave it alone; pendingOk reclaims it explicitly
    assert(fs.exists(new Path(s"$root/idx/batch=-777")),
      "a default vacuum must keep uncommitted orphan directories")
    assert(IndexManifest.vacuum(spark, s"$root/idx", keepGens = 1,
      pendingOk = true) > 0, "pendingOk must reclaim the orphan")
    assert(!fs.exists(new Path(s"$root/idx/batch=-777")),
      "pendingOk vacuum must sweep orphan rewrite directories")
    // the live set survives, bit for bit
    assert(rowSet(IvfStream.readIndex(spark, s"$root/idx")) === currentRows)
    assert(IndexManifest.pin(spark, s"$root/idx").gen === current.gen)
    assert(current.leaves.forall(l => fs.exists(new Path(s"$root/idx/$l"))))
    e.unpersist()
  }

  test("streamed attach on an enrolled index commits per trigger; a " +
    "reader pinned between triggers holds its generation") {
    val e = Tables.embeddings(spark, sf).cache()
    val tmp = tempDir("graft_snaps").toString
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 4)
    // enroll BEFORE any data: gen 0 is the empty index
    IndexManifest.enroll(spark, s"$tmp/idx")
    assert(IvfStream.readIndex(spark, s"$tmp/idx").count() === 0L,
      "enrolled-empty index must read as the typed empty frame")
    e.select("vec_id", "embedding").filter(col("vec_id") < 250).coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/in")
    val schema = e.select("vec_id", "embedding").schema
    val q = IvfStream.attach(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$tmp/in"), FloatCenters(centers),
      indexDir = s"$tmp/idx", checkpointDir = s"$tmp/ckpt")
    q.processAllAvailable()
    val afterOne = IndexManifest.pin(spark, s"$tmp/idx")
    val oneRows = rowSet(IndexManifest
      .readSnapshot(spark, s"$tmp/idx", afterOne).get
      .select("vec_id", "embedding", "list"))
    e.select("vec_id", "embedding").filter(col("vec_id") >= 250).coalesce(1)
      .write.mode("append").parquet(s"$tmp/in")
    q.processAllAvailable()
    q.stop()
    // the pinned generation still reads exactly trigger 1's rows
    assert(rowSet(IndexManifest.readSnapshot(spark, s"$tmp/idx", afterOne)
      .get.select("vec_id", "embedding", "list")) === oneRows)
    // the current generation carries both triggers ≡ the batch build
    val want = IvfStream.encode(e, FloatCenters(centers))
    val got = IvfStream.readIndex(spark, s"$tmp/idx")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    e.unpersist()
  }

  test("manifested CODES tier: deleteIds + compactCodesIndex + " +
    "reassignSq all run copy-on-write with stable pinned reads") {
    val e = Tables.embeddings(spark, sf).cache()
    val root = tempDir("graft_snapq").toString
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 4)
    val codec = Similarity.sqTrain(spark, e)
    IvfStream.encode(e, SqQuantizer(centers, codec))
      .write.partitionBy("list").mode("overwrite")
      .parquet(s"$root/idx/batch=0")
    IndexManifest.enroll(spark, s"$root/idx")
    val pinned = IndexManifest.pin(spark, s"$root/idx")
    def codeRows(df: DataFrame): Set[(Long, Seq[Byte], Int)] =
      df.collect().map(r => (r.getLong(0),
        r.getAs[Array[Byte]](1).toSeq, r.getInt(2))).toSet
    val before = codeRows(IvfStream.readIndex(spark, s"$root/idx", payload = "codes"))
    IndexDelete.deleteIds(spark, s"$root/idx", Seq(3L, 4L), "vec_id")
    // pinned read still sees the pre-delete codes
    assert(codeRows(IndexManifest.readSnapshot(spark, s"$root/idx", pinned)
      .get.select("vec_id", "codes", "list")) === before)
    assert(IvfStream.readIndex(spark, s"$root/idx", payload = "codes")
      .filter(col("vec_id").isin(3L, 4L)).count() === 0L)
    IvfStream.compactIndex(spark, s"$root/idx")
    // refresh under epoch B ≡ fresh encode of the surviving ids
    val centersB = Similarity.ivfTrainCentroids(spark, e, nLists = 4,
      seed = 7)
    val codecB = Similarity.sqTrain(spark, e)
    IvfStream.reassign(spark, s"$root/idx", SqQuantizer(centersB, codecB), Some(e))
    val want = codeRows(IvfStream.encode(
      e.filter(!col("vec_id").isin(3L, 4L)), SqQuantizer(centersB, codecB)))
    assert(codeRows(IvfStream.readIndex(spark, s"$root/idx", payload = "codes")) === want)
    // the ORIGINAL pin still reads its bytes through all three rewrites
    assert(codeRows(IndexManifest.readSnapshot(spark, s"$root/idx", pinned)
      .get.select("vec_id", "codes", "list")) === before)
    e.unpersist()
  }

  test("manifested band-key index (single-level leaves): takedown " +
    "keeps a pinned gate stable; the current gate re-admits") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").cache()
    val root = tempDir("graft_snapb").toString
    NearDupStream.bandKeys(docs).select("doc_id", "band", "bucket", "sig")
      .write.mode("overwrite").parquet(s"$root/band/batch=0")
    IndexManifest.enroll(spark, s"$root/band")
    val pinned = IndexManifest.pin(spark, s"$root/band")
    val target = docs.orderBy("doc_id").limit(1).collect()(0)
    import spark.implicits._
    val probe = Seq((10000000L, target.getString(1))).toDF("doc_id", "text")
    def keepCount(): Long = NearDupStream
      .dedupAgainstIndex(spark, probe, s"$root/band", n = 3, k = 64,
        bands = 16, threshold = 0.5)
      .filter(col("keep")).count()
    assert(keepCount() === 0L, "fixture: the copy must be gated")
    val before = rowSet(IndexManifest
      .readSnapshot(spark, s"$root/band", pinned).get
      .select("doc_id", "band", "bucket"))
    // forget the target's whole VERIFIED near-dup family (the q214
    // posture): deleting only the doc would leave a sibling gating the
    // re-arriving copy and the re-admit assertion would read a family
    // fact, not a delete fact
    val idx = NearDupStream.readIndex(spark, s"$root/band", k = 64)
    val family = NearDupStream.bandKeys(probe)
      .join(idx.select(col("band"), col("bucket"),
        col("doc_id").as("_pid"), col("sig").as("_psig")),
        Seq("band", "bucket"))
      .filter(round(graft.pipeline.Dedup
        .sigJaccard(col("sig"), col("_psig")), 6) >= 0.5)
      .select(col("_pid")).distinct()
      .collect().map(_.getLong(0)).toSeq
    assert(family.contains(target.getLong(0)))
    IndexDelete.deleteIds(spark, s"$root/band", family, "doc_id")
    // pinned reader byte-stable; current gate re-admits the copy
    assert(rowSet(IndexManifest.readSnapshot(spark, s"$root/band", pinned)
      .get.select("doc_id", "band", "bucket")) === before)
    assert(keepCount() === 1L,
      "post-takedown the current gate must re-admit the copy")
    docs.unpersist()
  }

  test("manifested STRING-keyed fp index: takedown through the " +
    "type-generic cast path, pinned gate stable, current re-admits") {
    import graft.streaming.CurateStream
    val docs = Tables.documents(spark, sf).select("doc_id", "text").cache()
    val root = tempDir("graft_snapg").toString
    docs.select(md5(col("text")).as("fp"))
      .write.mode("overwrite").parquet(s"$root/fp/batch=0")
    IndexManifest.enroll(spark, s"$root/fp")
    val pinned = IndexManifest.pin(spark, s"$root/fp")
    val target = docs.orderBy("doc_id").limit(1).collect()(0)
    import spark.implicits._
    val probeFp = Seq((10000000L, target.getString(1)))
      .toDF("doc_id", "text")
      .select(col("doc_id"), md5(col("text")).as("fp"))
    def hit(): Long = probeFp
      .join(CurateStream.readFpIndex(spark, s"$root/fp"), Seq("fp"),
        "left_semi").count()
    assert(hit() === 1L, "fixture: the copy's fingerprint must collide")
    val before = rowSet(IndexManifest
      .readSnapshot(spark, s"$root/fp", pinned).get.select("fp"))
    val rep = IndexDelete.deleteIds(spark, s"$root/fp",
      docs.filter(col("doc_id") === target.getLong(0))
        .select(md5(col("text")).as("fp")), "fp")
    assert(rep.rowsDeleted >= 1L, s"fp delete removed nothing: $rep")
    assert(rowSet(IndexManifest.readSnapshot(spark, s"$root/fp", pinned)
      .get.select("fp")) === before,
      "pinned fp reader must stay byte-stable")
    assert(hit() === 0L, "post-takedown the exact gate must re-admit")
    docs.unpersist()
  }

  test("manifested probe keeps the PartitionFilters pruning of the " +
    "listing-based read — on the live route AND the pinned route") {
    import graft.pipeline.VectorIndex
    val tmp = tempDir("graft_snapp").toString
    val e = Tables.embeddings(spark, sf)
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 8)
    IvfStream.encode(e, FloatCenters(centers))
      .write.partitionBy("list").mode("overwrite")
      .parquet(s"$tmp/idx/batch=0")
    IndexManifest.enroll(spark, s"$tmp/idx")
    def prunes(p: String, what: String): Unit = {
      val scanLines = p.linesIterator
        .filter(_.contains("PartitionFilters")).toSeq
      assert(scanLines.exists(l => l.contains("list") &&
        !l.contains("PartitionFilters: []")),
        s"$what must keep the list partition filter:\n$p")
    }
    val index = IvfStream.readIndex(spark, s"$tmp/idx")
    prunes(Similarity.ivfTopKFromIndex(spark,
        e.filter(col("vec_id") < 3), index, centers, k = 5, nProbe = 2)
      .queryExecution.executedPlan.toString,
      "manifest-routed index scan")
    // the PINNED route plans from explicit snapshot paths — the probed
    // -list filter must still reach the scan as PartitionFilters (the
    // basePath read derives the partition columns from the leaf paths)
    val params = VectorIndex.Params(VectorIndex.FloatTier, nLists = 8,
      nProbe = 2)
    val vi = VectorIndex.train(spark, e, params, s"$tmp/idx")
    graft.streaming.ModelStore.write(spark, s"$tmp/idx", 0L,
      graft.streaming.ModelStore.FloatCenters(centers))
    prunes(vi.topKPinned(spark, vi.pin(spark),
        e.filter(col("vec_id") < 3), e, 5)
      .queryExecution.executedPlan.toString,
      "pinned-probe scan")
  }

  test("GENUINELY concurrent reader vs maintainer: a reader thread " +
    "pinning and reading while a writer thread deletes and compacts " +
    "always sees exactly one committed generation") {
    // the specs above forge sequential interleavings; this drives the
    // real race — reads planned and collected WHILE rewrites install.
    // Invariant: every (pinned gen, rows read) pair observed by the
    // reader must equal that generation's expected row set, computed
    // by replaying the writer's deterministic op sequence afterwards.
    val e = Tables.embeddings(spark, sf).cache()
    val root = tempDir("graft_snapx").toString
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 4)
    floatFixture(root, e, centers)
    val allIds = e.select("vec_id").collect().map(_.getLong(0)).toSet
    // writer plan: alternating deletes and compactions
    val deletes: Seq[Seq[Long]] = Seq(
      Seq(1L, 2L, 3L), Seq(10L, 11L), Seq(20L, 21L, 22L), Seq(30L))
    val writerErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val writer = new Thread(() => {
      try {
        deletes.zipWithIndex.foreach { case (ids, i) =>
          IndexDelete.deleteIds(spark, s"$root/idx", ids, "vec_id")
          if (i % 2 == 1) IvfStream.compactIndex(spark, s"$root/idx")
        }
      } catch { case t: Throwable => writerErr.set(t) }
    })
    // reader loop: pin → plan → collect, concurrently with the writer
    val observed = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Set[Long])]
    writer.start()
    var spins = 0
    while (writer.isAlive || spins == 0) {
      val snap = IndexManifest.pin(spark, s"$root/idx")
      IndexManifest.readSnapshot(spark, s"$root/idx", snap).foreach { df =>
        observed += ((snap.gen,
          df.select("vec_id").collect().map(_.getLong(0)).toSet))
      }
      spins += 1
    }
    writer.join()
    assert(writerErr.get() == null,
      s"writer thread failed: ${writerErr.get()}")
    assert(spins >= 2, "the reader must have raced the writer")
    // replay the op sequence to the expected row set per generation:
    // gen 0 = enroll; each delete commits one gen; each compaction
    // commits one gen (set unchanged)
    val expected = scala.collection.mutable.Map(0L -> allIds)
    var gen = 0L
    var live = allIds
    deletes.zipWithIndex.foreach { case (ids, i) =>
      live = live -- ids
      gen += 1; expected(gen) = live           // the delete's commit
      if (i % 2 == 1) { gen += 1; expected(gen) = live } // compaction
    }
    observed.foreach { case (g, rows) =>
      assert(expected.contains(g), s"reader pinned unknown generation $g")
      assert(rows === expected(g),
        s"generation $g read ${rows.size} rows, expected " +
          s"${expected(g).size} — a torn or mixed-generation view")
    }
    // and the final state is the fully-deleted set
    assert(IvfStream.readIndex(spark, s"$root/idx")
      .select("vec_id").collect().map(_.getLong(0)).toSet ===
      allIds -- deletes.flatten)
    e.unpersist()
  }

  test("installBatch: a crash-replayed committed trigger routes " +
    "copy-on-write (committed leaves never mutate, rows never " +
    "duplicate); a replay of already-folded rows is a no-op") {
    val e = Tables.embeddings(spark, sf).cache()
    val root = tempDir("graft_snapi").toString
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 4)
    IndexManifest.enroll(spark, s"$root/idx")
    val b0 = e.filter(col("vec_id") < 100)
    val b1 = e.filter(col("vec_id") >= 100 && col("vec_id") < 200)
    IvfStream.installBatch(spark, s"$root/idx", 0L,
      IvfStream.encode(b0, FloatCenters(centers)))
    IvfStream.installBatch(spark, s"$root/idx", 1L,
      IvfStream.encode(b1, FloatCenters(centers)))
    val pinned = IndexManifest.pin(spark, s"$root/idx")
    val before = rowSet(IndexManifest
      .readSnapshot(spark, s"$root/idx", pinned).get
      .select("vec_id", "embedding", "list"))
    val fs = fsFor(root)
    def filesOf(dir: String): Set[(String, Long, Long)] = {
      val it = fs.listFiles(new Path(dir), true)
      val b = Set.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        b += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      b.result()
    }
    val batch1Files = filesOf(s"$root/idx/batch=1")
    // REPLAY of committed trigger 1 (the crash-after-commit window):
    // the r13 ADVICE hazard was an in-place overwrite of the
    // live-referenced batch=1 leaves — the copy-on-write route must
    // leave them untouched and keep exactly one copy of the rows
    IvfStream.installBatch(spark, s"$root/idx", 1L,
      IvfStream.encode(b1, FloatCenters(centers)))
    assert(filesOf(s"$root/idx/batch=1") === batch1Files,
      "replay must never touch committed leaf files")
    assert(rowSet(IndexManifest.readSnapshot(spark, s"$root/idx", pinned)
      .get.select("vec_id", "embedding", "list")) === before)
    val current = IvfStream.readIndex(spark, s"$root/idx")
    assert(rowSet(current) === before, "replay duplicated or lost rows")
    // SECOND replay: trigger 1's rows now live under a rewrite leaf —
    // must be detected via the manifest history and become a no-op
    // (neither a duplicate row nor a new generation)
    val genAfter = IndexManifest.pin(spark, s"$root/idx").gen
    IvfStream.installBatch(spark, s"$root/idx", 1L,
      IvfStream.encode(b1, FloatCenters(centers)))
    assert(IndexManifest.pin(spark, s"$root/idx").gen === genAfter,
      "an already-folded replay must not commit")
    assert(rowSet(IvfStream.readIndex(spark, s"$root/idx")) === before)
    // an UNCOMMITTED orphan (first attempt crashed before its commit):
    // plain overwrite is safe — no reader ever referenced the dir
    IvfStream.encode(b1.limit(3), FloatCenters(centers))
      .write.partitionBy("list").mode("overwrite")
      .parquet(s"$root/idx/batch=7")
    IvfStream.installBatch(spark, s"$root/idx", 7L,
      IvfStream.encode(
        e.filter(col("vec_id") >= 200 && col("vec_id") < 210), FloatCenters(centers)))
    assert(IvfStream.readIndex(spark, s"$root/idx").count() ===
      before.size + 10L)
    e.unpersist()
  }

  test("ivfPqRefreshIndex on an ENROLLED codes layout is " +
    "copy-on-write with a versioned model epoch: a pre-refresh pin " +
    "replays byte-identically while the current pair is the new one") {
    val e = Tables.embeddings(spark, sf).cache()
    val root = tempDir("graft_snapr").toString
    val dir = s"$root/pq"
    Similarity.ivfPqWriteIndex(spark, e, dir, nLists = 4, m = 8,
      nCodes = 16)
    val g0 = Similarity.ivfPqEnrollIndex(spark, dir)
    assert(g0.gen === 0L)
    val qs = e.filter(col("vec_id") < 20)
    def probeAt(snap: IndexManifest.Snapshot) = {
      val (mm, codes) = Similarity.ivfPqReadIndexAt(spark, dir, snap)
      Similarity.ivfPqTopKFromIndex(spark, qs, codes, mm, e, k = 5,
        nProbe = 2, refine = 4)
    }
    val pinned = IndexManifest.pin(spark, s"$dir/codes")
    val beforeProbe = rowSet(probeAt(pinned))
    val beforeCodes = rowSet(IndexManifest
      .readSnapshot(spark, s"$dir/codes", pinned).get
      .select("vec_id", "codes", "list"))
    // refresh UNDER the pin: generation advances (no re-enroll reset),
    // the new model is the new generation's epoch
    Similarity.ivfPqRefreshIndex(spark, e, dir, nLists = 4, m = 8,
      nCodes = 16, seed = 7)
    assert(IndexManifest.isManifested(spark, s"$dir/codes"),
      "model refresh must not drop the snapshot enrollment")
    assert(IndexManifest.pin(spark, s"$dir/codes").gen === g0.gen + 1,
      "an enrolled refresh must ADVANCE the generation, not reset it")
    // 1. the pinned pair replays byte-identically (old leaves + the
    //    old model epoch), and its codes bytes are untouched
    assert(rowSet(probeAt(pinned)) === beforeProbe,
      "a pre-refresh pin must replay byte-identically")
    assert(rowSet(IndexManifest.readSnapshot(spark, s"$dir/codes", pinned)
      .get.select("vec_id", "codes", "list")) === beforeCodes)
    // 2. the current pair is the refreshed one ≡ a fresh seed-7 build
    val (model, codes) = Similarity.ivfPqReadIndex(spark, dir)
    val (fm, fcodes) = Similarity.ivfPqBuildIndex(spark, e, nLists = 4,
      m = 8, nCodes = 16, seed = 7)
    assert(model.centers.zip(fm.centers).forall(p =>
      p._1.sameElements(p._2)))
    assert(codes.exceptAll(fcodes).isEmpty &&
      fcodes.exceptAll(codes).isEmpty)
    // 3. copy-on-write deletes still hold on the refreshed epoch
    val pinned2 = IndexManifest.pin(spark, s"$dir/codes")
    val before2 = rowSet(IndexManifest
      .readSnapshot(spark, s"$dir/codes", pinned2).get
      .select("vec_id", "codes", "list"))
    IndexDelete.deleteIds(spark, s"$dir/codes", Seq(1L, 2L), "vec_id")
    assert(rowSet(IndexManifest.readSnapshot(spark, s"$dir/codes", pinned2)
      .get.select("vec_id", "codes", "list")) === before2)
    val (_, after) = Similarity.ivfPqReadIndex(spark, dir)
    assert(after.filter(col("vec_id").isin(1L, 2L)).count() === 0L)
    // 4. the un-enrolled route still whole-swaps (run quiesced)
    val dir2 = s"$root/pq2"
    Similarity.ivfPqWriteIndex(spark, e, dir2, nLists = 4, m = 8,
      nCodes = 16)
    Similarity.ivfPqRefreshIndex(spark, e, dir2, nLists = 4, m = 8,
      nCodes = 16, seed = 7)
    val (m2, c2) = Similarity.ivfPqReadIndex(spark, dir2)
    assert(m2.centers.zip(fm.centers).forall(p => p._1.sameElements(p._2)))
    assert(c2.exceptAll(fcodes).isEmpty && fcodes.exceptAll(c2).isEmpty)
    // 5. a TORN model mirror (a crash mid rewrite-sequence leaves the
    //    _modelmirror.inprogress marker) must fail the LEGACY read
    //    loudly instead of serving new-centers/old-books (r14 ADVICE);
    //    the enrolled layout keeps reading — ModelStore is authoritative
    val fs = fsFor(root)
    val marker = new Path(s"$dir2/_modelmirror.inprogress")
    fs.create(marker, true).close()
    val torn = intercept[IllegalArgumentException] {
      Similarity.ivfPqReadIndex(spark, dir2)
    }
    assert(torn.getMessage.contains("TORN"),
      s"the torn-mirror failure must name the condition: $torn")
    fs.delete(marker, false)
    assert(rowSet(Similarity.ivfPqReadIndex(spark, dir2)._2) ===
      rowSet(c2), "marker removed: the legacy read must recover")
    fs.create(new Path(s"$dir/_modelmirror.inprogress"), true).close()
    assert(Similarity.ivfPqReadIndex(spark, dir)._1 != null,
      "an enrolled read resolves via ModelStore and must ignore the " +
        "legacy mirror's torn marker")
    e.unpersist()
  }

  test("pin-across-refresh: a pinned probe resolves the quantizer " +
    "epoch that listed its leaves — byte-identical under the OLD " +
    "model+leaves while the current generation serves the new") {
    import graft.pipeline.VectorIndex
    import graft.streaming.ModelStore
    val e = Tables.embeddings(spark, sf).cache()
    val root = tempDir("graft_snapm").toString
    val params = VectorIndex.Params(VectorIndex.FloatTier, nLists = 4,
      nProbe = 2)
    val vi = VectorIndex.train(spark, e, params, s"$root/idx")
    vi.ingest(spark, e, 0L)
    vi.enrollSnapshots(spark) // gen 0 + the epoch-0 model
    val snap = vi.pin(spark)
    val qs = e.filter(col("vec_id") < 30)
    val before = rowSet(vi.topKPinned(spark, snap, qs, e, 5))
    // fire the quantizer refresh underneath the pin (the r13 hole:
    // the pinned leaves would have been probed under the NEW model)
    val centersB = Similarity.ivfTrainCentroids(spark, e, nLists = 4,
      seed = 7)
    IvfStream.reassign(spark, s"$root/idx", FloatCenters(centersB))
    // 1. the pinned probe replays byte-identically: old leaves AND the
    //    old model epoch, resolved by generation
    assert(rowSet(vi.topKPinned(spark, snap, qs, e, 5)) === before,
      "pinned probe must survive a refresh byte-identically")
    // ...and it equals the in-memory twin under the OLD quantizer
    val wantOld = Similarity.ivfTopKFromIndex(spark, qs,
      IvfStream.encode(e, vi.quantizer), vi.quantizer.centers, k = 5,
      nProbe = 2)
    assert(rowSet(vi.topKPinned(spark, snap, qs, e, 5)) ===
      rowSet(wantOld))
    // 2. the CURRENT generation serves the new epoch: its model
    //    resolves to centersB and the probe matches the fresh twin
    val snap2 = vi.pin(spark)
    assert(snap2.gen > snap.gen)
    val wantNew = Similarity.ivfTopKFromIndex(spark, qs,
      IvfStream.encode(e, FloatCenters(centersB)), centersB, k = 5, nProbe = 2)
    assert(rowSet(vi.topKPinned(spark, snap2, qs, e, 5)) ===
      rowSet(wantNew))
    // 3. a compaction commits a generation WITHOUT a model epoch — the
    //    ≤generation resolution walks back to the refresh's epoch
    IvfStream.compactIndex(spark, s"$root/idx")
    val snap3 = vi.pin(spark)
    assert(ModelStore.listGens(spark, s"$root/idx") ===
      Seq(snap.gen, snap2.gen),
      "a pure compaction must not mint a model epoch")
    assert(rowSet(vi.topKPinned(spark, snap3, qs, e, 5)) ===
      rowSet(wantNew))
    // 4. vacuum sweeps the retired epoch with its generation — the
    //    kept generations' resolving epoch survives
    IndexManifest.vacuum(spark, s"$root/idx", keepGens = 1)
    assert(ModelStore.listGens(spark, s"$root/idx") === Seq(snap2.gen),
      "vacuum must keep exactly the resolving model epoch")
    assert(rowSet(vi.topKPinned(spark, vi.pin(spark), qs, e, 5)) ===
      rowSet(wantNew))
    e.unpersist()
  }

  test("pin-across-refresh on the PQ tier: the stored epoch carries " +
    "the full quantizer pair (centers + codebooks + rotation)") {
    import graft.pipeline.VectorIndex
    val e = Tables.embeddings(spark, sf).cache()
    val root = tempDir("graft_snapn").toString
    val params = VectorIndex.Params(
      VectorIndex.PqTier(m = 8, nCodes = 16, opq = true), nLists = 4,
      nProbe = 2, refine = 4)
    val vi = VectorIndex.train(spark, e, params, s"$root/idx")
    vi.ingest(spark, e, 0L)
    vi.enrollSnapshots(spark)
    val snap = vi.pin(spark)
    val qs = e.filter(col("vec_id") < 20)
    val before = rowSet(vi.topKPinned(spark, snap, qs, e, 5))
    // refresh to a NEW pair (different seed: new centers, books, and
    // rotation move together)
    val newModel = Similarity.ivfOpqTrainModel(spark, e, nLists = 4,
      m = 8, nCodes = 16, seed = 7)
    IvfStream.reassign(spark, s"$root/idx", PqQuantizer(newModel), Some(e))
    assert(rowSet(vi.topKPinned(spark, snap, qs, e, 5)) === before,
      "pinned PQ probe must replay under the OLD pair")
    // the current epoch round-trips the rotation: probe ≡ the
    // in-memory twin under newModel
    val want = Similarity.ivfPqTopKFromIndex(spark, qs,
      graft.streaming.IvfStream.encode(e, PqQuantizer(newModel)),
      newModel, e, k = 5, nProbe = 2, refine = 4)
    assert(rowSet(vi.topKPinned(spark, vi.pin(spark), qs, e, 5)) ===
      rowSet(want))
    e.unpersist()
  }

  test("18-trigger streamed attach on an enrolled index: per-trigger " +
    "delta commits, the fullEvery re-anchor lands mid-stream, and the " +
    "index reads ≡ the batch twin through it all") {
    val e = Tables.embeddings(spark, sf)
      .filter(col("vec_id") < 1800).cache()
    val tmp = tempDir("graft_snapt").toString
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 4)
    IndexManifest.enroll(spark, s"$tmp/idx") // gen 0 (empty, full)
    val cols = e.select("vec_id", "embedding")
    // 18 one-file micro-batches → 18 trigger commits → generations
    // 1..18, crossing the fullEvery=16 re-anchor
    (0 until 18).foreach { i =>
      cols.filter(col("vec_id") % 18 === i).coalesce(1)
        .write.mode(if (i == 0) "overwrite" else "append")
        .parquet(s"$tmp/in")
    }
    val q = IvfStream.attach(
      spark.readStream.schema(cols.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in"), FloatCenters(centers),
      indexDir = s"$tmp/idx", checkpointDir = s"$tmp/ckpt")
    q.processAllAvailable()
    q.stop()
    val cur = IndexManifest.pin(spark, s"$tmp/idx")
    assert(cur.gen === 18L, s"18 triggers must commit 18 generations")
    val fs = fsFor(tmp)
    val md = s"$tmp/idx/_manifests"
    assert(fs.exists(new Path(md, "gen-000000016.txt")) &&
      !fs.exists(new Path(md, "gen-000000016.delta.txt")),
      "the fullEvery-th generation must re-anchor a full snapshot")
    assert(fs.exists(new Path(md, "gen-000000017.delta.txt")),
      "post-anchor triggers must go back to O(Δ) deltas")
    // the resolved index ≡ the batch build, through the whole chain
    val want = IvfStream.encode(e, FloatCenters(centers))
    val got = IvfStream.readIndex(spark, s"$tmp/idx")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // vacuum to one generation: the chain back to the gen-16 anchor
    // survives, everything older is reclaimed, the index still reads
    IndexManifest.vacuum(spark, s"$tmp/idx", keepGens = 1)
    val names = fs.listStatus(new Path(md)).map(_.getPath.getName)
      .filter(_.startsWith("gen-")).sorted.toSeq
    assert(names === Seq("gen-000000016.txt", "gen-000000017.delta.txt",
      "gen-000000018.delta.txt"),
      s"vacuum must keep the kept gen's chain to its anchor, got $names")
    assert(fs.exists(new Path(md, "committed-batches.txt")),
      "vacuum must persist the committed-batch tombstones it pruned")
    val got2 = IvfStream.readIndex(spark, s"$tmp/idx")
    assert(got2.exceptAll(want).isEmpty && want.exceptAll(got2).isEmpty)
    e.unpersist()
  }

  test("delta manifests: incremental commits write O(changed) bytes, " +
    "a full snapshot re-anchors every fullEvery generations, " +
    "resolution is exact, and vacuum keeps whole chains") {
    val root = tempDir("graft_snapd").toString
    val dir = s"$root/idx"
    val base = (0 until 1000).map(i => f"batch=0/list=$i")
    var snap = IndexManifest.commitAt(spark, dir, 0L, base)
    var expected = base.toSet
    (1 to 20).foreach { b =>
      val adds = Seq(s"batch=$b/list=0", s"batch=$b/list=1")
      snap = IndexManifest.commitDelta(spark, dir, snap, adds, Seq.empty)
      expected ++= adds
      assert(snap.leaves.toSet === expected,
        s"commitDelta at gen $b returned a wrong resolved set")
    }
    // a fresh resolution from disk agrees with the incrementally
    // tracked one — the chain replay is exact
    val cur = IndexManifest.current(spark, dir).get
    assert(cur.gen === 20L)
    assert(cur.leaves.toSet === expected)
    val fs = fsFor(root)
    val md = s"$dir/_manifests"
    def has(name: String) = fs.exists(new Path(md, name))
    // kinds: gen 0 full (anchor), gens 1-15 and 17-20 delta, gen 16
    // re-anchored full (fullEvery = 16)
    assert(has("gen-000000000.txt") && has("gen-000000016.txt"))
    assert(!has("gen-000000016.delta.txt"))
    assert(has("gen-000000001.delta.txt") && has("gen-000000017.delta.txt"))
    // the per-trigger write is O(changed): a 2-line delta vs the
    // 1000+-line full anchor
    val deltaLen = fs.getFileStatus(new Path(md, "gen-000000001.delta.txt"))
      .getLen
    val fullLen = fs.getFileStatus(new Path(md, "gen-000000000.txt")).getLen
    assert(deltaLen * 10 < fullLen,
      s"delta commit wrote $deltaLen bytes vs full $fullLen — not O(Δ)")
    // remove-then-re-add of the SAME leaf (a crash-replayed
    // commitBatch re-committing its own batch in place — the gate
    // indexes' replay route): the leaf must stay live, not be dropped
    // as an "idempotent" add
    val replayed = IndexManifest.commitDelta(spark, dir, cur,
      adds = Seq("batch=7/list=0", "batch=7/list=1"),
      removes = Seq("batch=7/list=0", "batch=7/list=1"))
    assert(replayed.leaves.toSet === expected,
      "a replayed commitBatch must keep its re-committed leaves live")
    assert(IndexManifest.current(spark, dir).get.leaves.toSet === expected)
    // a delta that would be no smaller than the full list re-anchors:
    // replace everything
    val snapR = IndexManifest.commitDelta(spark, dir, replayed,
      adds = Seq("batch=99/list=0"), removes = replayed.leaves)
    assert(has("gen-000000022.txt") && !has("gen-000000022.delta.txt"),
      "a whole-set rewrite must anchor a full snapshot, not a huge delta")
    assert(snapR.leaves === Seq("batch=99/list=0"))
    // vacuum keeps the kept generation's WHOLE resolution chain: roll
    // forward a few deltas, then vacuum to 1 generation
    var s2 = snapR
    (1 to 3).foreach { i =>
      s2 = IndexManifest.commitDelta(spark, dir, s2,
        Seq(s"batch=${100 + i}/list=0"), Seq.empty)
    }
    IndexManifest.vacuum(spark, dir, keepGens = 1)
    val names = fs.listStatus(new Path(md)).map(_.getPath.getName)
      .filter(_.startsWith("gen-")).sorted
    assert(names.toSeq === Seq("gen-000000022.txt",
      "gen-000000023.delta.txt", "gen-000000024.delta.txt",
      "gen-000000025.delta.txt"),
      s"vacuum must keep exactly the kept gen's chain, got: $names")
    assert(IndexManifest.current(spark, dir).get.leaves.toSet ===
      s2.leaves.toSet, "the kept generation must stay resolvable")
  }

  test("vacuum minAgeMs spares generations inside the pin horizon; " +
    "a duplicate-generation commit fails loudly, index intact") {
    val e = Tables.embeddings(spark, sf).cache()
    val root = tempDir("graft_snapa").toString
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 4)
    floatFixture(root, e, centers)
    val g0 = IndexManifest.pin(spark, s"$root/idx")
    IvfStream.compactIndex(spark, s"$root/idx") // retires gen 0's leaves
    val fs = fsFor(root)
    // minAge of an hour: gen 0 committed seconds ago → NOTHING
    // reclaimed, even though keepGens=1 alone would retire it
    assert(IndexManifest.vacuum(spark, s"$root/idx", keepGens = 1,
      minAgeMs = 3600L * 1000L) === 0,
      "a generation younger than the pin horizon must be spared")
    assert(g0.leaves.forall(l => fs.exists(new Path(s"$root/idx/$l"))))
    // ...and the spared generation is still pinnable end-to-end
    assert(IndexManifest.readSnapshot(spark, s"$root/idx", g0).get
      .count() > 0)
    // minAge 0 restores the pure keepGens behavior
    assert(IndexManifest.vacuum(spark, s"$root/idx", keepGens = 1) > 0)
    // duplicate-generation commit: forge a second writer racing to the
    // current generation — must fail LOUDLY and leave the index as-is
    val cur = IndexManifest.pin(spark, s"$root/idx")
    val err = intercept[IllegalStateException] {
      IndexManifest.commitAt(spark, s"$root/idx", cur.gen,
        Seq("batch=666/list=0"))
    }
    assert(err.getMessage.contains("single-writer"))
    assert(IndexManifest.pin(spark, s"$root/idx") === cur,
      "the losing commit must not perturb the manifest")
    e.unpersist()
  }

  test("fragmentation reading on a manifested index counts LIVE " +
    "batches: retained dead leaves must not re-trigger compaction " +
    "before vacuum") {
    val e = Tables.embeddings(spark, sf).cache()
    val root = tempDir("graft_snapf").toString
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 4)
    IndexManifest.enroll(spark, s"$root/idx")
    (0 until 5).foreach { b =>
      IvfStream.encode(e.filter(col("vec_id") % 5 === b), FloatCenters(centers))
        .write.partitionBy("list").mode("overwrite")
        .parquet(s"$root/idx/batch=$b")
      IndexManifest.commitBatch(spark, s"$root/idx", b.toLong)
    }
    // healthy reading, litter past maxBatches → compacts once
    IvfStream.quantizerStaleness(e, FloatCenters(centers)).coalesce(1)
      .write.mode("overwrite").parquet(s"$root/log/batch=0")
    val healthy = IvfStream.quantizerStaleness(e, FloatCenters(centers))
      .collect()(0).getDouble(1)
    val policy = IvfStream.MaintainPolicy(meanD2Max = healthy * 2,
      maxBatches = 3)
    val (r1, _) = IvfStream.maintain(spark, s"$root/idx", s"$root/log",
      FloatCenters(centers), policy)
    assert(!r1.fired && r1.compacted, s"litter must compact: $r1")
    val genAfter = IndexManifest.pin(spark, s"$root/idx").gen
    // the five dead batch dirs are STILL on disk (no vacuum yet)...
    val fs = fsFor(root)
    assert((0 until 5).forall(b =>
      fs.exists(new Path(s"$root/idx/batch=$b"))))
    // ...but the fragmentation reading is the LIVE count, so the next
    // call must NOT compact again (each re-compaction would add a
    // generation forever until someone vacuums)
    val (r2, _) = IvfStream.maintain(spark, s"$root/idx", s"$root/log",
      FloatCenters(centers), policy)
    assert(!r2.compacted, s"dead leaves re-triggered compaction: $r2")
    assert(IndexManifest.pin(spark, s"$root/idx").gen === genAfter,
      "a no-op maintain must not commit a generation")
    e.unpersist()
  }

  test("persisted IVF-SQ layout: enrolling <dir>/codes routes " +
    "ivfSqReadIndex through the manifest; delete-while-pinned holds") {
    val e = Tables.embeddings(spark, sf).cache()
    val root = tempDir("graft_snapw").toString
    val dir = s"$root/sq"
    Similarity.ivfSqWriteIndex(spark, e, dir, nLists = 4)
    IndexManifest.enroll(spark, s"$dir/codes")
    val pinned = IndexManifest.pin(spark, s"$dir/codes")
    val before = rowSet(IndexManifest
      .readSnapshot(spark, s"$dir/codes", pinned).get
      .select("vec_id", "codes", "list"))
    IndexDelete.deleteIds(spark, s"$dir/codes", Seq(2L, 6L), "vec_id")
    val (_, _, codes) = Similarity.ivfSqReadIndex(spark, dir)
    assert(codes.filter(col("vec_id").isin(2L, 6L)).count() === 0L)
    assert(rowSet(IndexManifest.readSnapshot(spark, s"$dir/codes", pinned)
      .get.select("vec_id", "codes", "list")) === before)
    e.unpersist()
  }

  test("vacuum during a half-replayed trigger (r14 verdict #3): the " +
    "uncommitted orphan leaf survives the vacuum and the replay then " +
    "completes correctly") {
    val e = Tables.embeddings(spark, sf).cache()
    val root = tempDir("graft_snapp").toString
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 4)
    IndexManifest.enroll(spark, s"$root/idx")
    val b0 = e.filter(col("vec_id") < 100)
    IvfStream.installBatch(spark, s"$root/idx", 0L,
      IvfStream.encode(b0, FloatCenters(centers)))
    // retire something so the vacuum has real work: fold trigger 0
    // copy-on-write via a committed replay
    IvfStream.installBatch(spark, s"$root/idx", 0L,
      IvfStream.encode(b0, FloatCenters(centers)))
    // forge trigger 5 crashed BETWEEN its leaf write and its commit —
    // the restart replay is conceptually mid-flight from here
    val b5 = e.filter(col("vec_id") >= 100 && col("vec_id") < 150)
    IvfStream.encode(b5, FloatCenters(centers))
      .write.partitionBy("list").mode("overwrite")
      .parquet(s"$root/idx/batch=5")
    val fs = fsFor(root)
    val removed = IndexManifest.vacuum(spark, s"$root/idx", keepGens = 1)
    assert(removed > 0, "the folded trigger-0 leaves must be reclaimed")
    assert(fs.exists(new Path(s"$root/idx/batch=5")),
      "vacuum must NOT reclaim the pending trigger's uncommitted leaf")
    // the replay now completes: same write + commit, exactly-once rows
    IvfStream.installBatch(spark, s"$root/idx", 5L,
      IvfStream.encode(b5, FloatCenters(centers)))
    val got = IvfStream.readIndex(spark, s"$root/idx")
    val want = IvfStream.encode(
      e.filter(col("vec_id") < 150), FloatCenters(centers))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "the completed replay must yield exactly-once rows")
    e.unpersist()
  }

  test("tombstoned replay (r14 ADVICE): a trigger committed, folded, " +
    "then history-pruned and dir-vacuumed must replay as a no-op, " +
    "not re-add folded rows") {
    val e = Tables.embeddings(spark, sf).cache()
    val root = tempDir("graft_snapt").toString
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 4)
    IndexManifest.enroll(spark, s"$root/idx")
    val b0 = e.filter(col("vec_id") < 100)
    val b1 = e.filter(col("vec_id") >= 100 && col("vec_id") < 200)
    IvfStream.installBatch(spark, s"$root/idx", 0L,
      IvfStream.encode(b0, FloatCenters(centers)))
    IvfStream.installBatch(spark, s"$root/idx", 1L,
      IvfStream.encode(b1, FloatCenters(centers)))
    // fold trigger 1 into a rewrite leaf (a committed replay), then
    // vacuum: the retired batch=1 dir AND the generations that
    // referenced it are both reclaimed — exactly the window the r14
    // ADVICE named, where the next replay used to look "fresh"
    IvfStream.installBatch(spark, s"$root/idx", 1L,
      IvfStream.encode(b1, FloatCenters(centers)))
    IndexManifest.vacuum(spark, s"$root/idx", keepGens = 1)
    val fs = fsFor(root)
    assert(!fs.exists(new Path(s"$root/idx/batch=1")),
      "precondition: the folded trigger's dir is vacuumed away")
    val gen = IndexManifest.pin(spark, s"$root/idx").gen
    val before = rowSet(IvfStream.readIndex(spark, s"$root/idx"))
    // the O(1) fast path's companion file exists and is ≥ the list's
    // max id (r15g: without it every fresh trigger would parse the
    // whole ever-committed list)
    assert(fs.exists(new Path(s"$root/idx/_manifests/committed-batches.max")),
      "vacuum must write the tombstone max-id file")
    // post-restart replay of trigger 1: no dir, no manifest reference
    // in retained history — only the tombstone knows. Must be a no-op.
    IvfStream.installBatch(spark, s"$root/idx", 1L,
      IvfStream.encode(b1, FloatCenters(centers)))
    assert(IndexManifest.pin(spark, s"$root/idx").gen === gen,
      "a tombstoned replay must not commit a generation")
    assert(rowSet(IvfStream.readIndex(spark, s"$root/idx")) === before,
      "a tombstoned replay must not duplicate folded rows")
    assert(!fs.exists(new Path(s"$root/idx/batch=1")),
      "a tombstoned replay must not rewrite the reclaimed dir")
    // a genuinely fresh trigger still lands normally
    IvfStream.installBatch(spark, s"$root/idx", 2L,
      IvfStream.encode(
        e.filter(col("vec_id") >= 200 && col("vec_id") < 210), FloatCenters(centers)))
    assert(IvfStream.readIndex(spark, s"$root/idx").count() ===
      before.size + 10L)
    e.unpersist()
  }
}
