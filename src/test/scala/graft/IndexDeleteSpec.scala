package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.Similarity
import graft.streaming.{IndexDelete, IvfStream, NearDupStream}
import graft.streaming.ModelStore.{FloatCenters, SqQuantizer}

/** [[graft.streaming.IndexDelete]]: targeted id deletion from every
  * accrued index family — probe correctness, untouched-partition
  * byte-identity, crash self-heal, and the delete → probe → re-add
  * cycle (r11 verdict #1). */
class IndexDeleteSpec extends SparkSpec {
  import org.apache.hadoop.fs.Path

  private def fsFor(p: String) =
    new Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  /** (path, length) of every data file under dir — the byte-identity
    * fingerprint for the untouched-leaves assertion. */
  private def fileSet(dir: String): Set[(String, Long)] = {
    val fs = fsFor(dir)
    val it = fs.listFiles(new Path(dir), true)
    val b = Set.newBuilder[(String, Long)]
    while (it.hasNext) {
      val f = it.next()
      b += ((f.getPath.toString, f.getLen))
    }
    b.result()
  }

  test("deleteIds on the streamed float IVF index: probes never return " +
    "deleted ids, survivors byte-identical, unaffected leaves untouched") {
    val e = Tables.embeddings(spark, sf).cache()
    val tmp = tempDir("graft_del").toString
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 4)
    // two trigger partitions, the attach layout
    IvfStream.encode(e.filter(col("vec_id") % 2 === 0), FloatCenters(centers))
      .write.partitionBy("list").mode("overwrite")
      .parquet(s"$tmp/idx/batch=0")
    IvfStream.encode(e.filter(col("vec_id") % 2 =!= 0), FloatCenters(centers))
      .write.partitionBy("list").mode("overwrite")
      .parquet(s"$tmp/idx/batch=1")

    val doomed = Seq(1L, 2L, 5L, 8L)
    // leaves that hold no doomed row must keep their exact files
    val before = IvfStream.readIndex(spark, s"$tmp/idx")
    val doomedLeaves = before
      .filter(col("vec_id").isin(doomed: _*))
      .select((col("vec_id") % 2).cast("int").as("b"), col("list"))
      .distinct().collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    val untouchedBefore = (for {
      b <- 0 to 1; l <- centers.indices
      if !doomedLeaves.contains((b, l)) &&
        fsFor(tmp).exists(new Path(s"$tmp/idx/batch=$b/list=$l"))
    } yield fileSet(s"$tmp/idx/batch=$b/list=$l")).toSet

    val report = IndexDelete.deleteIds(spark, s"$tmp/idx", doomed, "vec_id")
    assert(report.rowsDeleted === doomed.length.toLong)
    assert(report.partitionsRewritten === doomedLeaves.size)
    assert(report.partitionsTotal >= report.partitionsRewritten)

    val after = IvfStream.readIndex(spark, s"$tmp/idx")
    assert(after.filter(col("vec_id").isin(doomed: _*)).count() === 0L)

    val untouchedAfter = (for {
      b <- 0 to 1; l <- centers.indices
      if !doomedLeaves.contains((b, l)) &&
        fsFor(tmp).exists(new Path(s"$tmp/idx/batch=$b/list=$l"))
    } yield fileSet(s"$tmp/idx/batch=$b/list=$l")).toSet
    assert(untouchedAfter === untouchedBefore,
      "a leaf holding no deleted row was rewritten")

    // probe correctness: never a deleted id, and byte-identical to the
    // same probe over the in-memory index minus the deleted rows
    val qs = e.filter(col("vec_id") < 20)
    val got = Similarity.ivfTopKFromIndex(spark, qs, after, centers,
      k = 3, nProbe = 2)
    assert(got.filter(col("rid").isin(doomed: _*)).count() === 0L)
    val want = Similarity.ivfTopKFromIndex(spark, qs,
      IvfStream.encode(e, FloatCenters(centers))
        .filter(!col("vec_id").isin(doomed: _*)),
      centers, k = 3, nProbe = 2)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)

    // no-op delete: absent ids change nothing and leave no markers
    val r2 = IndexDelete.deleteIds(spark, s"$tmp/idx",
      Seq(999999999L), "vec_id")
    assert(r2.rowsDeleted === 0L && r2.partitionsRewritten === 0)
    assert(!fsFor(tmp).exists(new Path(s"$tmp/idx.deleting")))
    e.unpersist()
  }

  test("deleteIds on the SQ8 codes index: probe parity after delete") {
    val e = Tables.embeddings(spark, sf).cache()
    val tmp = tempDir("graft_delsq").toString
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 4)
    val codec = Similarity.sqTrain(spark, e)
    IvfStream.encode(e, SqQuantizer(centers, codec))
      .write.partitionBy("list").mode("overwrite")
      .parquet(s"$tmp/idx/batch=0")
    val doomed = Seq(3L, 4L, 7L)
    IndexDelete.deleteIds(spark, s"$tmp/idx", doomed, "vec_id")
    val after = IvfStream.readIndex(spark, s"$tmp/idx", payload = "codes")
    assert(after.filter(col("vec_id").isin(doomed: _*)).count() === 0L)
    val qs = e.filter(col("vec_id") < 20)
    val refs = e.filter(!col("vec_id").isin(doomed: _*))
    val got = Similarity.ivfSqTopKFromIndex(spark, qs, after, centers,
      codec, refs, k = 3, shortlist = 10, nProbe = 2)
    val want = Similarity.ivfSqTopKFromIndex(spark, qs,
      IvfStream.encode(e, SqQuantizer(centers, codec))
        .filter(!col("vec_id").isin(doomed: _*)),
      centers, codec, refs, k = 3, shortlist = 10, nProbe = 2)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    e.unpersist()
  }

  test("deleteIds emptying a whole leaf leaves a readable index") {
    val e = Tables.embeddings(spark, sf).cache()
    val tmp = tempDir("graft_delall").toString
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 4)
    val assigned = IvfStream.encode(e, FloatCenters(centers))
    assigned.write.partitionBy("list").mode("overwrite")
      .parquet(s"$tmp/idx/batch=0")
    // every id in list 0 — the leaf is rewritten EMPTY, not dropped
    val doomed = assigned.filter(col("list") === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(doomed.nonEmpty)
    val report = IndexDelete.deleteIds(spark, s"$tmp/idx", doomed, "vec_id")
    assert(report.rowsDeleted === doomed.length.toLong)
    val after = IvfStream.readIndex(spark, s"$tmp/idx")
    assert(after.filter(col("list") === 0).count() === 0L)
    assert(after.count() === e.count() - doomed.length)
    e.unpersist()
  }

  test("deleteIds on the band-key index: delete → no match → re-add") {
    import spark.implicits._
    val tmp = tempDir("graft_delnd").toString
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely unrelated text about distributed query planning")
    ).toDF("doc_id", "text")
    NearDupStream.bandKeys(docs).select("doc_id", "band", "bucket", "sig")
      .write.mode("overwrite").parquet(s"$tmp/idx/batch=0")
    // doc 1 is a copy of doc 0 → the gate drops it against the index
    val probe = docs.filter(col("doc_id") === 1L)
      .select(col("doc_id") + 100L as "doc_id", col("text"))
    val beforeDel = NearDupStream.dedupAgainstIndex(spark, probe,
      s"$tmp/idx", n = 3, k = 64, bands = 16, threshold = 0.5)
    assert(beforeDel.filter(col("keep")).count() === 0L)
    // takedown of docs 0 and 1: ALL their band rows disappear
    IndexDelete.deleteIds(spark, s"$tmp/idx", Seq(0L, 1L), "doc_id")
    val idx = NearDupStream.readIndex(spark, s"$tmp/idx", k = 64)
    assert(idx.filter(col("doc_id").isin(0L, 1L)).count() === 0L)
    // the copy now survives the gate — the deleted docs are truly gone
    val afterDel = NearDupStream.dedupAgainstIndex(spark, probe,
      s"$tmp/idx", n = 3, k = 64, bands = 16, threshold = 0.5)
    assert(afterDel.filter(col("keep")).count() === 1L)
    // re-add: the doc re-arrives as a new trigger partition and the
    // gate catches copies again
    NearDupStream.bandKeys(docs.filter(col("doc_id") === 0L))
      .select("doc_id", "band", "bucket", "sig")
      .write.mode("overwrite").parquet(s"$tmp/idx/batch=1")
    val reAdd = NearDupStream.dedupAgainstIndex(spark, probe,
      s"$tmp/idx", n = 3, k = 64, bands = 16, threshold = 0.5)
    assert(reAdd.filter(col("keep")).count() === 0L)
  }

  test("a delete crashed mid-leaf-swap self-heals on the next read, " +
    "and re-running deleteIds completes it") {
    val e = Tables.embeddings(spark, sf).cache()
    val tmp = tempDir("graft_delcr").toString
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 4)
    IvfStream.encode(e, FloatCenters(centers))
      .write.partitionBy("list").mode("overwrite")
      .parquet(s"$tmp/idx/batch=0")
    val total = e.count()
    val fs = fsFor(tmp)

    // forge the crash state deleteIds leaves when it dies between a
    // leaf's two renames: top .deleting marker, leaf moved to .old
    // (certified complete), replacement still in the temp tree
    val leaf = s"$tmp/idx/batch=0/list=1"
    val leafRows = spark.read.parquet(leaf).count()
    assert(leafRows > 0L)
    fs.create(new Path(s"$tmp/idx.deleting"), true).close()
    fs.mkdirs(new Path(s"$tmp/idx.delete/batch=0"))
    fs.create(new Path(s"$leaf.swapping"), true).close()
    assert(fs.rename(new Path(leaf), new Path(s"$leaf.old")))
    fs.create(new Path(s"$leaf.old.complete"), true).close()

    // next read walks the marker litter and restores the leaf
    val healed = IvfStream.readIndex(spark, s"$tmp/idx")
    assert(healed.count() === total)
    assert(!fs.exists(new Path(s"$tmp/idx.deleting")))
    assert(!fs.exists(new Path(s"$tmp/idx.delete")))
    assert(!fs.exists(new Path(s"$leaf.swapping")))
    assert(!fs.exists(new Path(s"$leaf.old")))

    // idempotent completion: the same delete re-runs cleanly
    val doomed = Seq(1L, 2L, 5L)
    val report = IndexDelete.deleteIds(spark, s"$tmp/idx", doomed, "vec_id")
    assert(report.rowsDeleted === doomed.length.toLong)
    assert(IvfStream.readIndex(spark, s"$tmp/idx")
      .filter(col("vec_id").isin(doomed: _*)).count() === 0L)
    e.unpersist()
  }

  test("deleteIds on the string-keyed fp index: forgotten fingerprints " +
    "re-admit the doc at the exact gate") {
    import spark.implicits._
    import graft.streaming.CurateStream
    val tmp = tempDir("graft_delfp").toString
    val docs = Seq((0L, "alpha bravo charlie"), (1L, "delta echo foxtrot"))
      .toDF("doc_id", "text")
    docs.select(md5(col("text")).as("fp"))
      .write.mode("overwrite").parquet(s"$tmp/fp/batch=0")
    // a byte-identical copy arriving later hits the exact gate
    val probe = Seq((10L, "alpha bravo charlie")).toDF("doc_id", "text")
      .select(col("doc_id"), md5(col("text")).as("fp"))
    assert(probe.join(CurateStream.readFpIndex(spark, s"$tmp/fp"),
      Seq("fp"), "left_semi").count() === 1L)
    // takedown: forget doc 0's fingerprint (the key type is the
    // index's own STRING — same delete path as the long-keyed indexes)
    val rep = IndexDelete.deleteIds(spark, s"$tmp/fp",
      docs.filter(col("doc_id") === 0L).select(md5(col("text")).as("fp")),
      "fp")
    assert(rep.rowsDeleted === 1L && rep.partitionsRewritten === 1)
    val after = CurateStream.readFpIndex(spark, s"$tmp/fp")
    assert(after.count() === 1L)
    assert(probe.join(after, Seq("fp"), "left_semi").count() === 0L,
      "the forgotten fingerprint must no longer gate arrivals")
  }

  test("forgetDocs sweeps the fp AND band indexes in one call; both " +
    "gates re-admit the forgotten document") {
    import spark.implicits._
    import graft.streaming.CurateStream
    val tmp = tempDir("graft_forget").toString
    val doomedText = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (0L, doomedText),
      (2L, "completely unrelated text about distributed query planning")
    ).toDF("doc_id", "text")
    docs.select(md5(col("text")).as("fp"))
      .write.mode("overwrite").parquet(s"$tmp/fp/batch=0")
    NearDupStream.bandKeys(docs).select("doc_id", "band", "bucket", "sig")
      .write.mode("overwrite").parquet(s"$tmp/band/batch=0")
    val reports = IndexDelete.forgetDocs(spark,
      docs.filter(col("doc_id") === 0L),
      fpIndexDir = Some(s"$tmp/fp"), bandIndexDir = Some(s"$tmp/band"))
    assert(reports.keySet === Set("fp", "band"))
    assert(reports("fp").rowsDeleted === 1L)
    assert(reports("band").rowsDeleted > 0L)
    // exact gate: the byte-identical copy no longer collides
    val copyFp = Seq((10L, doomedText)).toDF("doc_id", "text")
      .select(col("doc_id"), md5(col("text")).as("fp"))
    assert(copyFp.join(CurateStream.readFpIndex(spark, s"$tmp/fp"),
      Seq("fp"), "left_semi").count() === 0L)
    // near-dup gate: the paraphrase-level copy is KEPT now
    val copy = Seq((10L, doomedText)).toDF("doc_id", "text")
    val dec = NearDupStream.dedupAgainstIndex(spark, copy, s"$tmp/band",
      n = 3, k = 64, bands = 16, threshold = 0.5)
    assert(dec.filter(col("keep")).count() === 1L)
  }

  test("forgetDocs sweeps EMBEDDING-side indexes through the doc→vec " +
    "mapping; refuses vecIndexDirs without a mapping") {
    import spark.implicits._
    val e = Tables.embeddings(spark, sf)
    val tmp = tempDir("graft_forgetv").toString
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 4)
    val codec = Similarity.sqTrain(spark, e)
    IvfStream.encode(e, FloatCenters(centers))
      .write.partitionBy("list").mode("overwrite")
      .parquet(s"$tmp/vf/batch=0")
    IvfStream.encode(e, SqQuantizer(centers, codec))
      .write.partitionBy("list").mode("overwrite")
      .parquet(s"$tmp/vq/batch=0")
    // doc 0 chunks into vectors 0 and 1, doc 1 into vector 2 — a
    // doc-level takedown must sweep EVERY vector of the doomed doc
    val docVec = Seq((0L, 0L), (0L, 1L), (1L, 2L))
      .toDF("doc_id", "vec_id")
    val docs = Seq((0L, "doomed text")).toDF("doc_id", "text")
    val reports = IndexDelete.forgetDocs(spark, docs,
      vecIndexDirs = Seq(s"$tmp/vf", s"$tmp/vq"), docVec = Some(docVec))
    assert(reports.keySet === Set(s"vec:$tmp/vf", s"vec:$tmp/vq"))
    assert(reports.values.forall(_.rowsDeleted === 2L))
    Seq(IvfStream.readIndex(spark, s"$tmp/vf"),
        IvfStream.readIndex(spark, s"$tmp/vq", payload = "codes")).foreach { idx =>
      assert(idx.filter(col("vec_id").isin(0L, 1L)).count() === 0L,
        "every vector of the forgotten doc must be gone")
      assert(idx.filter(col("vec_id") === 2L).count() === 1L,
        "the other doc's vectors must survive")
    }
    val err = intercept[IllegalArgumentException] {
      IndexDelete.forgetDocs(spark, docs, vecIndexDirs = Seq(s"$tmp/vf"))
    }
    assert(err.getMessage.contains("docVec"))
  }

  test("past the exact-predicate valve the isin superset scan still " +
    "installs ONLY affected leaves — untouched leaves byte-identical") {
    val e = Tables.embeddings(spark, sf).cache()
    val tmp = tempDir("graft_delvalve").toString
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 4)
    IvfStream.encode(e.filter(col("vec_id") % 2 === 0), FloatCenters(centers))
      .write.partitionBy("list").mode("overwrite")
      .parquet(s"$tmp/idx/batch=0")
    IvfStream.encode(e.filter(col("vec_id") % 2 =!= 0), FloatCenters(centers))
      .write.partitionBy("list").mode("overwrite")
      .parquet(s"$tmp/idx/batch=1")
    val doomed = Seq(1L, 2L, 5L, 8L)
    val before = IvfStream.readIndex(spark, s"$tmp/idx")
    val doomedLeaves = before
      .filter(col("vec_id").isin(doomed: _*))
      .select((col("vec_id") % 2).cast("int").as("b"), col("list"))
      .distinct().collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    // with >1 affected leaf the valve (forced to 1) takes the isin
    // branch whose (batch × list) cross product strictly contains the
    // affected set — the interesting regime
    assert(doomedLeaves.size > 1)
    val untouchedBefore = (for {
      b <- 0 to 1; l <- centers.indices
      if !doomedLeaves.contains((b, l)) &&
        fsFor(tmp).exists(new Path(s"$tmp/idx/batch=$b/list=$l"))
    } yield fileSet(s"$tmp/idx/batch=$b/list=$l")).toSet

    import spark.implicits._
    val report = IndexDelete.deleteIds(spark, s"$tmp/idx",
      doomed.toDF("_del_id"), "vec_id", maxExactLeafPredicates = 1)
    assert(report.rowsDeleted === doomed.length.toLong)
    assert(report.partitionsRewritten === doomedLeaves.size)

    val after = IvfStream.readIndex(spark, s"$tmp/idx")
    assert(after.filter(col("vec_id").isin(doomed: _*)).count() === 0L)
    // survivor parity with the exact-predicate regime's contract
    assert(after.count() === e.count() - doomed.length)
    val untouchedAfter = (for {
      b <- 0 to 1; l <- centers.indices
      if !doomedLeaves.contains((b, l)) &&
        fsFor(tmp).exists(new Path(s"$tmp/idx/batch=$b/list=$l"))
    } yield fileSet(s"$tmp/idx/batch=$b/list=$l")).toSet
    assert(untouchedAfter === untouchedBefore,
      "the isin superset regime installed a leaf holding no deleted row")
    e.unpersist()
  }

  test("deleteIds on the PERSISTED ivfSqWriteIndex / ivfBqWriteIndex " +
    "layouts (<dir>/codes): probe parity, crash heals through the " +
    "persisted reader") {
    val e = Tables.embeddings(spark, sf).cache()
    val tmp = tempDir("graft_delpers").toString
    val doomed = Seq(3L, 4L, 7L)

    val (centersW, codecW) = Similarity.ivfSqWriteIndex(spark, e,
      s"$tmp/sq", nLists = 4)
    IndexDelete.deleteIds(spark, s"$tmp/sq/codes", doomed, "vec_id")
    val (centers, codec, codes) = Similarity.ivfSqReadIndex(spark, s"$tmp/sq")
    assert(centers.zip(centersW).forall(p => p._1.sameElements(p._2)))
    assert(codes.filter(col("vec_id").isin(doomed: _*)).count() === 0L)
    val qs = e.filter(col("vec_id") < 20)
    val refs = e.filter(!col("vec_id").isin(doomed: _*))
    val got = Similarity.ivfSqTopKFromIndex(spark, qs, codes, centers,
      codec, refs, k = 3, shortlist = 10, nProbe = 2)
    val want = Similarity.ivfSqTopKFromIndex(spark, qs,
      Similarity.ivfSqBuildIndex(spark, e, nLists = 4)._3
        .filter(!col("vec_id").isin(doomed: _*)),
      centersW, codecW, refs, k = 3, shortlist = 10, nProbe = 2)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)

    // forge a delete crashed mid-leaf-swap UNDER the codes subdir: the
    // persisted reader must heal it (the markers live one level below
    // the layout root the reader is given)
    val fs = fsFor(tmp)
    val leaf = s"$tmp/sq/codes/batch=0/list=1"
    val total = codes.count()
    fs.create(new Path(s"$tmp/sq/codes.deleting"), true).close()
    fs.mkdirs(new Path(s"$tmp/sq/codes.delete/batch=0"))
    fs.create(new Path(s"$leaf.swapping"), true).close()
    assert(fs.rename(new Path(leaf), new Path(s"$leaf.old")))
    fs.create(new Path(s"$leaf.old.complete"), true).close()
    val (_, _, healed) = Similarity.ivfSqReadIndex(spark, s"$tmp/sq")
    assert(healed.count() === total)
    assert(!fs.exists(new Path(s"$tmp/sq/codes.deleting")))
    assert(!fs.exists(new Path(s"$leaf.swapping")))

    val centersB = Similarity.ivfBqWriteIndex(spark, e, s"$tmp/bq",
      nLists = 4)
    IndexDelete.deleteIds(spark, s"$tmp/bq/codes", doomed, "vec_id")
    val (centersBr, bqCodes) = Similarity.ivfBqReadIndex(spark, s"$tmp/bq")
    assert(centersBr.zip(centersB).forall(p => p._1.sameElements(p._2)))
    assert(bqCodes.filter(col("vec_id").isin(doomed: _*)).count() === 0L)
    val gotBq = Similarity.ivfBqTopKFromIndex(spark, qs, bqCodes,
      centersB, refs, k = 3, shortlist = 10, nProbe = 2)
    assert(gotBq.filter(col("rid").isin(doomed: _*)).count() === 0L)

    // the remaining two persisted layouts share the shape — one
    // delete + read-back assertion each closes the family
    Similarity.ivfPqWriteIndex(spark, e, s"$tmp/pq", nLists = 4,
      m = 8, nCodes = 16)
    IndexDelete.deleteIds(spark, s"$tmp/pq/codes", doomed, "vec_id")
    val (_, pqCodes) = Similarity.ivfPqReadIndex(spark, s"$tmp/pq")
    assert(pqCodes.filter(col("vec_id").isin(doomed: _*)).count() === 0L)
    assert(pqCodes.count() === e.count() - doomed.length)

    Similarity.matryoshkaIvfWriteIndex(spark, e, s"$tmp/mrl",
      dims = 32, nLists = 4)
    IndexDelete.deleteIds(spark, s"$tmp/mrl/prefix", doomed, "vec_id")
    val (_, mrlIdx) = Similarity.matryoshkaIvfReadIndex(spark, s"$tmp/mrl")
    assert(mrlIdx.filter(col("vec_id").isin(doomed: _*)).count() === 0L)
    assert(mrlIdx.count() === e.count() - doomed.length)
    e.unpersist()
  }

  test("deleteIds refuses a flat (non-partitioned) directory") {
    import spark.implicits._
    val tmp = tempDir("graft_delfl").toString
    Seq((1L, "x")).toDF("vec_id", "payload")
      .write.mode("overwrite").parquet(s"$tmp/flat")
    val err = intercept[IllegalArgumentException] {
      IndexDelete.deleteIds(spark, s"$tmp/flat", Seq(1L), "vec_id")
    }
    assert(err.getMessage.contains("batch="))
  }

  test("deleteIds id-frame contract: a multi-column frame uses the " +
    "column NAMED idCol; one with no such column refuses loudly") {
    // the failure this closes (r12 ADVICE): an un-projected
    // (doc_id, vec_id) mapping with the id NOT first used to delete by
    // doc_id silently, since the cast to the key type succeeds
    val e = Tables.embeddings(spark, sf).cache()
    val tmp = tempDir("graft_delcol").toString
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 4)
    IvfStream.encode(e, FloatCenters(centers))
      .write.partitionBy("list").mode("overwrite")
      .parquet(s"$tmp/idx/batch=0")
    import spark.implicits._
    // doc_id FIRST, vec_id second — the delete must key on vec_id
    // (doc ids 5/9 also exist as vec_ids: keying on the wrong column
    // would delete THEM instead)
    val mapping = Seq((5L, 3L), (9L, 7L)).toDF("doc_id", "vec_id")
    val rep = IndexDelete.deleteIds(spark, s"$tmp/idx", mapping, "vec_id")
    assert(rep.rowsDeleted === 2L, s"deleted by the wrong column: $rep")
    val left = IvfStream.readIndex(spark, s"$tmp/idx")
    assert(left.filter(col("vec_id").isin(3L, 7L)).count() === 0L)
    assert(left.filter(col("vec_id").isin(5L, 9L)).count() === 2L,
      "rows whose vec_id matches the mapping's DOC ids must survive")
    // a multi-column frame with NO column named idCol is ambiguous
    val err = intercept[IllegalArgumentException] {
      IndexDelete.deleteIds(spark, s"$tmp/idx",
        Seq((3L, 4L)).toDF("a", "b"), "vec_id")
    }
    assert(err.getMessage.contains("none is named"))
    e.unpersist()
  }
}
