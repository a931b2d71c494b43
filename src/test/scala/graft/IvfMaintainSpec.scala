package graft

import org.apache.spark.sql.functions._
import graft.pipeline.Similarity
import graft.streaming.IvfStream
import graft.streaming.ModelStore.{BqCenters, FloatCenters, PqQuantizer, SqQuantizer}

/** The staleness-DRIVEN [[graft.streaming.IvfStream.maintain]] (r11
  * verdict #5) on every tier: the r11c drift/reset cycle replayed
  * hands-free. */
class IvfMaintainSpec extends SparkSpec {

  test("maintain: no-op without evidence or under threshold; fires on " +
    "breach, reassigns, returns new centers, clears the log") {
    val e = Tables.embeddings(spark, sf).cache()
    val root = tempDir("graft_mnt").toString
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 4)
    val drifted = e.select(col("vec_id"),
      transform(col("embedding"), x => x + lit(3.0f)).as("embedding"))
    IvfStream.encode(drifted, FloatCenters(centers))
      .write.partitionBy("list").mode("overwrite")
      .parquet(s"$root/idx/batch=0")
    val healthy = IvfStream.quantizerStaleness(e, FloatCenters(centers))
      .collect()(0).getDouble(1)
    val policy = IvfStream.MaintainPolicy(meanD2Max = healthy * 2)

    // no log at all → no-op
    val (r0, c0) = IvfStream.maintain(spark, s"$root/idx", s"$root/log",
      FloatCenters(centers), policy)
    assert(!r0.fired && c0.isEmpty && r0.reason.contains("no staleness"))

    // healthy reading → no-op, log kept
    IvfStream.quantizerStaleness(e, FloatCenters(centers)).coalesce(1)
      .write.mode("overwrite").parquet(s"$root/log/batch=0")
    val (r1, c1) = IvfStream.maintain(spark, s"$root/idx", s"$root/log",
      FloatCenters(centers), policy)
    assert(!r1.fired && c1.isEmpty && r1.reason == "within thresholds")

    // drifted reading → fires: retrain on index contents, reassign,
    // clear the consumed log
    IvfStream.quantizerStaleness(drifted, FloatCenters(centers)).coalesce(1)
      .write.mode("overwrite").parquet(s"$root/log/batch=1")
    val (r2, c2) = IvfStream.maintain(spark, s"$root/idx", s"$root/log",
      FloatCenters(centers), policy)
    assert(r2.fired && r2.reason.contains("mean_d2") && c2.nonEmpty)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/log")),
      "firing must clear the consumed staleness log")
    // the rewritten index is listed under the NEW centers exactly
    val reassigned = IvfStream.readIndex(spark, s"$root/idx")
    val want = IvfStream.encode(drifted, c2.get)
    assert(reassigned.exceptAll(want).isEmpty &&
      want.exceptAll(reassigned).isEmpty)
    // post-refresh signal sits under threshold → next call no-ops
    IvfStream.quantizerStaleness(drifted, c2.get).coalesce(1)
      .write.mode("overwrite").parquet(s"$root/log/batch=2")
    val (r3, _) = IvfStream.maintain(spark, s"$root/idx", s"$root/log",
      c2.get, policy)
    assert(!r3.fired)

    // minVecs refuses thin evidence even over threshold
    val tiny = IvfStream.quantizerStaleness(
      drifted.filter(col("vec_id") < 3), c2.get)
    tiny.coalesce(1).write.mode("overwrite").parquet(s"$root/log2/batch=0")
    val (r4, _) = IvfStream.maintain(spark, s"$root/idx", s"$root/log2",
      c2.get, IvfStream.MaintainPolicy(meanD2Max = 0.0, minVecs = 1000L))
    assert(!r4.fired && r4.reason.contains("insufficient"))
    e.unpersist()
  }

  test("maintainSq fires reassignSq: codes re-encoded under the " +
    "retrained (centers, codec), log cleared; maintainBq mirrors it") {
    val e = Tables.embeddings(spark, sf).cache()
    val root = tempDir("graft_mntsq").toString
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 4)
    val codec = Similarity.sqTrain(spark, e)
    val drifted = e.select(col("vec_id"),
      transform(col("embedding"), x => x + lit(3.0f)).as("embedding"))
    // the index holds the DRIFTED corpus encoded under the stale pair
    IvfStream.encode(drifted, SqQuantizer(centers, codec))
      .write.partitionBy("list").mode("overwrite")
      .parquet(s"$root/sq/batch=0")
    IvfStream.quantizerStaleness(drifted, FloatCenters(centers)).coalesce(1)
      .write.mode("overwrite").parquet(s"$root/slog/batch=0")
    val healthy = IvfStream.quantizerStaleness(e, FloatCenters(centers))
      .collect()(0).getDouble(1)
    val policy = IvfStream.MaintainPolicy(meanD2Max = healthy * 2)
    val (rep, out) = IvfStream.maintain(spark, s"$root/sq",
      s"$root/slog", SqQuantizer(centers, codec), policy, Some(drifted))
    assert(rep.fired && out.nonEmpty)
    val got = IvfStream.readIndex(spark, s"$root/sq", payload = "codes")
    val want = IvfStream.encode(drifted, out.get)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0),
        r.getAs[Array[Byte]](1).toSeq, r.getInt(2))).toSet
    assert(rows(got) == rows(want))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/slog")))

    // BQ tier: same decision loop, sign codes need no codec
    IvfStream.encode(drifted, BqCenters(centers))
      .write.partitionBy("list").mode("overwrite")
      .parquet(s"$root/bq/batch=0")
    IvfStream.quantizerStaleness(drifted, FloatCenters(centers)).coalesce(1)
      .write.mode("overwrite").parquet(s"$root/blog/batch=0")
    val (repB, outB) = IvfStream.maintain(spark, s"$root/bq",
      s"$root/blog", BqCenters(centers), policy, Some(drifted))
    assert(repB.fired && outB.nonEmpty)
    val gotB = IvfStream.readIndex(spark, s"$root/bq", payload = "codes")
    val wantB = IvfStream.encode(drifted, outB.get)
    assert(rows(gotB) == rows(wantB))
    e.unpersist()
  }

  test("fragmentation arm: healthy quantizer + batch litter past " +
    "maxBatches compacts WITHOUT firing; log kept; next call no-ops") {
    val e = Tables.embeddings(spark, sf).cache()
    val root = tempDir("graft_mntfrag").toString
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 4)
    // five trigger partitions of litter — the streamed-ingest shape
    (0 until 5).foreach { b =>
      IvfStream.encode(e.filter(col("vec_id") % 5 === b), FloatCenters(centers))
        .write.partitionBy("list").mode("overwrite")
        .parquet(s"$root/idx/batch=$b")
    }
    assert(IvfStream.countBatches(spark, s"$root/idx") === 5)
    val beforeRows = IvfStream.readIndex(spark, s"$root/idx").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2))).toSet
    IvfStream.quantizerStaleness(e, FloatCenters(centers)).coalesce(1)
      .write.mode("overwrite").parquet(s"$root/log/batch=0")
    val healthy = IvfStream.quantizerStaleness(e, FloatCenters(centers))
      .collect()(0).getDouble(1)
    val policy = IvfStream.MaintainPolicy(meanD2Max = healthy * 2,
      maxBatches = 3)

    val (rep, newC) = IvfStream.maintain(spark, s"$root/idx", s"$root/log",
      FloatCenters(centers), policy)
    assert(!rep.fired && rep.compacted && newC.isEmpty,
      s"fragmentation must compact without a quantizer refresh: $rep")
    assert(rep.reason.contains("fragmentation"))
    assert(IvfStream.countBatches(spark, s"$root/idx") === 1,
      "compaction must fold the litter into one batch")
    val afterRows = IvfStream.readIndex(spark, s"$root/idx").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2))).toSet
    assert(afterRows === beforeRows, "compaction must preserve every row")
    // the log still measures the live quantizer — it must be KEPT
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/log")),
      "a fragmentation-only compaction must not clear the drift log")
    // defragmented: the next call does nothing
    val (rep2, _) = IvfStream.maintain(spark, s"$root/idx", s"$root/log",
      FloatCenters(centers), policy)
    assert(!rep2.fired && !rep2.compacted)

    // codes tier: the same arm compacts the codes layout
    val codec = Similarity.sqTrain(spark, e)
    (0 until 5).foreach { b =>
      IvfStream.encode(
          e.filter(col("vec_id") % 5 === b), SqQuantizer(centers, codec))
        .write.partitionBy("list").mode("overwrite")
        .parquet(s"$root/sq/batch=$b")
    }
    IvfStream.quantizerStaleness(e, FloatCenters(centers)).coalesce(1)
      .write.mode("overwrite").parquet(s"$root/slog/batch=0")
    val (repSq, outSq) = IvfStream.maintain(spark, s"$root/sq",
      s"$root/slog", SqQuantizer(centers, codec), policy, Some(e))
    assert(!repSq.fired && repSq.compacted && outSq.isEmpty)
    assert(IvfStream.countBatches(spark, s"$root/sq") === 1)
    e.unpersist()
  }

  test("band/fp fragmentation twins: compactIfFragmented folds litter " +
    "past maxBatches, preserves gate state, no-ops when tidy") {
    import spark.implicits._
    import graft.streaming.{CurateStream, NearDupStream}
    val root = tempDir("graft_bfrag").toString
    val docs = (0L until 40L).map(i =>
      (i, s"document number $i about topic ${i % 7} with shared filler"))
      .toDF("doc_id", "text")
    (0 until 5).foreach { b =>
      NearDupStream.bandKeys(docs.filter(col("doc_id") % 5 === b))
        .select("doc_id", "band", "bucket", "sig")
        .write.mode("overwrite").parquet(s"$root/band/batch=$b")
      docs.filter(col("doc_id") % 5 === b)
        .select(md5(col("text")).as("fp"))
        .write.mode("overwrite").parquet(s"$root/fp/batch=$b")
    }
    val bandBefore = NearDupStream.readIndex(spark, s"$root/band", k = 64)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val fpBefore = CurateStream.readFpIndex(spark, s"$root/fp")
      .collect().map(_.getString(0)).toSet

    assert(NearDupStream.compactIndexIfFragmented(spark, s"$root/band",
      k = 64, maxBatches = 3))
    assert(CurateStream.compactFpIndexIfFragmented(spark, s"$root/fp",
      maxBatches = 3))
    assert(graft.streaming.IvfStream.countBatches(spark, s"$root/band") === 1)
    assert(graft.streaming.IvfStream.countBatches(spark, s"$root/fp") === 1)
    val bandAfter = NearDupStream.readIndex(spark, s"$root/band", k = 64)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val fpAfter = CurateStream.readFpIndex(spark, s"$root/fp")
      .collect().map(_.getString(0)).toSet
    assert(bandAfter === bandBefore && fpAfter === fpBefore,
      "compaction must preserve every gate row")
    // tidy now: both no-op
    assert(!NearDupStream.compactIndexIfFragmented(spark, s"$root/band",
      k = 64, maxBatches = 3))
    assert(!CurateStream.compactFpIndexIfFragmented(spark, s"$root/fp",
      maxBatches = 3))
    // and the gates still fire: a byte-identical copy is caught
    val probe = docs.filter(col("doc_id") === 0L)
      .select((col("doc_id") + 100L).as("doc_id"), col("text"))
    val dec = NearDupStream.dedupAgainstIndex(spark, probe, s"$root/band",
      n = 3, k = 64, bands = 16, threshold = 0.5)
    assert(dec.filter(col("keep")).count() === 0L)
    assert(probe.select(md5(col("text")).as("fp"))
      .join(CurateStream.readFpIndex(spark, s"$root/fp"), Seq("fp"),
        "left_semi").count() === 1L)
  }

  test("maintainPq fires reassignPq with the retrained quantizer PAIR; " +
    "unit-space staleness drives the decision; healthy no-ops") {
    val e = Tables.embeddings(spark, sf).cache()
    val root = tempDir("graft_mntpq").toString
    val model = Similarity.ivfPqTrainModel(spark, e, nLists = 4, m = 8,
      nCodes = 16)
    // a constant offset barely moves unit-space mean_d2 (normalized
    // vectors collapse toward one direction) but that is EXACTLY the
    // probe-cost failure mode the skew arm watches: one list absorbs
    // the drifted corpus — drive the max_list_frac arm of the policy
    val drifted = e.select(col("vec_id"),
      transform(col("embedding"), x => x + lit(3.0f)).as("embedding"))
    IvfStream.encode(drifted, PqQuantizer(model))
      .write.partitionBy("list").mode("overwrite")
      .parquet(s"$root/pq/batch=0")
    def skewOf(df: org.apache.spark.sql.DataFrame,
               m: Similarity.IvfPqModel): Double =
      IvfStream.quantizerStaleness(df, PqQuantizer(m)).collect()(0).getDouble(2)
    val healthySkew = skewOf(e, model)
    val driftedSkew = skewOf(drifted, model)
    assert(driftedSkew > (healthySkew + driftedSkew) / 2,
      s"fixture: drift must funnel lists ($healthySkew vs $driftedSkew)")
    val policy = IvfStream.MaintainPolicy(meanD2Max = Double.MaxValue,
      maxListFracMax = (healthySkew + driftedSkew) / 2)

    // healthy reading → no-op, index and log untouched
    IvfStream.quantizerStaleness(e, PqQuantizer(model)).coalesce(1)
      .write.mode("overwrite").parquet(s"$root/plog/batch=0")
    val (r0, m0) = IvfStream.maintain(spark, s"$root/pq",
      s"$root/plog", PqQuantizer(model), policy, Some(drifted))
    assert(!r0.fired && m0.isEmpty)

    // drifted reading → fires: pair retrained on refs, codes
    // re-encoded under the NEW model, consumed log cleared
    IvfStream.quantizerStaleness(drifted, PqQuantizer(model)).coalesce(1)
      .write.mode("overwrite").parquet(s"$root/plog/batch=1")
    val (rep, out) = IvfStream.maintain(spark, s"$root/pq",
      s"$root/plog", PqQuantizer(model), policy, Some(drifted))
    assert(rep.fired && out.nonEmpty)
    val PqQuantizer(newModel) = out.get
    assert(newModel.m == model.m &&
      newModel.centers.length == model.centers.length &&
      newModel.codebooks(0).length == model.codebooks(0).length,
      "retrained pair must keep the index's geometry parameters")
    val got = IvfStream.readIndex(spark, s"$root/pq", payload = "codes")
    val want = IvfStream.encode(drifted, PqQuantizer(newModel))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/plog")))
    // the refreshed quantizer re-balances the lists it retrained on —
    // the skew signal drops back under the firing threshold
    val afterSkew = skewOf(drifted, newModel)
    assert(afterSkew <= policy.maxListFracMax,
      s"retrain must repair the skew ($driftedSkew -> $afterSkew)")
    e.unpersist()
  }

  test("staleness-log retention: compaction folds trigger litter to " +
    "one row preserving the volume-weighted decision inputs; the " +
    "fragmentation arm fires it past maxBatches") {
    val e = Tables.embeddings(spark, sf).cache()
    val root = tempDir("graft_slog").toString
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 4)
    IvfStream.encode(e, FloatCenters(centers))
      .write.partitionBy("list").mode("overwrite")
      .parquet(s"$root/idx/batch=0")
    // five trigger rows with DIFFERENT volumes, so a wrong aggregate
    // (unweighted mean, sum of fracs, ...) cannot pass by accident
    import spark.implicits._
    (0 until 5).foreach { i =>
      Seq(((i + 1) * 100L, 0.5 + i, 0.25 + 0.01 * i, 4))
        .toDF("n_vecs", "mean_d2", "max_list_frac", "n_lists")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$root/log/batch=$i")
    }
    val n = (1 to 5).map(_ * 100L).sum
    val d2 = (0 until 5).map(i => (0.5 + i) * (i + 1) * 100).sum / n
    val frac = 0.29
    // a no-op-threshold policy whose maxBatches the 5-dir log breaches
    val policy = IvfStream.MaintainPolicy(meanD2Max = 1e9,
      maxBatches = 3)
    val (r1, none1) = IvfStream.maintain(spark, s"$root/idx",
      s"$root/log", FloatCenters(centers), policy)
    assert(!r1.fired && none1.isEmpty)
    assert(r1.nVecs === n)
    assert(math.abs(r1.meanD2 - d2) < 1e-6)
    assert(math.abs(r1.maxListFrac - frac) < 1e-9)
    assert(r1.reason.contains("staleness log"),
      s"log compaction must be reported: ${r1.reason}")
    assert(IvfStream.countBatches(spark, s"$root/log") === 1,
      "five trigger dirs must fold into one")
    // the folded row feeds the NEXT decision with identical inputs
    val (r2, _) = IvfStream.maintain(spark, s"$root/idx",
      s"$root/log", FloatCenters(centers), policy)
    assert(r2.nVecs === r1.nVecs)
    assert(math.abs(r2.meanD2 - r1.meanD2) < 1e-6)
    assert(math.abs(r2.maxListFrac - r1.maxListFrac) < 1e-12)
    assert(!r2.reason.contains("staleness log"),
      "a tidy log must not re-compact")
    e.unpersist()
  }

  test("attach with maintainEvery: a drifted stream fires maintenance " +
    "hands-free mid-attach; later triggers assign with the returned " +
    "quantizer; probe parity holds end-to-end") {
    // the r12-verdict-#2 scenario: the policy, log, and refresh rungs
    // all existed but nothing called them — here the cadence wired
    // into foreachBatch consumes the log every 2nd trigger, fires on
    // the drifted reading, and the NEXT trigger's assignments use the
    // centers maintain returned (re-broadcast via the driver variable)
    val e = Tables.embeddings(spark, sf).cache()
    val tmp = tempDir("graft_cad").toString
    val base = e.select("vec_id", "embedding")
    val centersA = Similarity.ivfTrainCentroids(spark, e, nLists = 4)
    val healthy = IvfStream.quantizerStaleness(e, FloatCenters(centersA))
      .collect()(0).getDouble(1)
    val policy = IvfStream.MaintainPolicy(meanD2Max = healthy * 2)
    def drifted(offset: Long) = e.select(
      (col("vec_id") + offset).as("vec_id"),
      transform(col("embedding"), x => x + lit(3.0f)).as("embedding"))
    val t2 = drifted(100000L)
    val t3 = drifted(200000L)
    base.coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
    val reports = scala.collection.mutable.ArrayBuffer
      .empty[IvfStream.MaintainReport]
    val schema = base.schema
    val q = IvfStream.attach(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$tmp/in"), FloatCenters(centersA),
      indexDir = s"$tmp/idx", checkpointDir = s"$tmp/ckpt",
      stalenessDir = Some(s"$tmp/stale"),
      maintainEvery = Some(2),
      maintainPolicy = Some(policy),
      onMaintain = r => { reports += r; () })
    q.processAllAvailable() // trigger 1 (healthy): no cadence check yet
    t2.coalesce(1).write.mode("append").parquet(s"$tmp/in")
    q.processAllAvailable() // trigger 2 (drifted): cadence fires
    t3.coalesce(1).write.mode("append").parquet(s"$tmp/in")
    q.processAllAvailable() // trigger 3: must assign with NEW centers
    q.stop()
    // exactly one cadence check ran (trigger 2) and it FIRED
    assert(reports.toList.map(_.fired) === List(true),
      s"expected one fired report, got $reports")
    // the centers maintain returned are deterministic: a full retrain
    // on the index's own contents at fire time — the cadence runs
    // BEFORE the trigger's batch write (r14 idempotency order), so at
    // trigger 2 the index holds trigger 1 only
    val expectCenters = Similarity.ivfTrainCentroids(spark, base,
      nLists = 4)
    // triggers 2 and 3 must be assigned under them (the re-broadcast
    // check: a stream still frozen on centersA would list these
    // differently)
    val idx = IvfStream.readIndex(spark, s"$tmp/idx")
    val gotT3 = idx.filter(col("vec_id") >= 200000L)
    val wantT3 = IvfStream.encode(t3, FloatCenters(expectCenters))
    assert(gotT3.exceptAll(wantT3).isEmpty &&
      wantT3.exceptAll(gotT3).isEmpty,
      "post-fire trigger must assign with the returned quantizer")
    // and the whole index ≡ the batch twin under the new quantizer
    // (the fire re-listed trigger 1; triggers 2 and 3 arrived assigned)
    val want = IvfStream.encode(
      base.unionByName(t2).unionByName(t3), FloatCenters(expectCenters))
    assert(idx.exceptAll(want).isEmpty && want.exceptAll(idx).isEmpty)
    // probe parity over the maintained directory vs the in-memory twin
    val qs = e.filter(col("vec_id") < 20)
    val got = Similarity.ivfTopKFromIndex(spark, qs, idx, expectCenters,
      k = 5, nProbe = 2)
    val wantProbe = Similarity.ivfTopKFromIndex(spark, qs, want,
      expectCenters, k = 5, nProbe = 2)
    assert(got.exceptAll(wantProbe).isEmpty &&
      wantProbe.exceptAll(got).isEmpty)
    // the consumed log was cleared at the fire; trigger 3 re-seeded it
    // with ONE row measuring the NEW quantizer
    val stale = spark.read.parquet(s"$tmp/stale")
    assert(stale.count() === 1L,
      "fire must clear the consumed log; the next trigger re-seeds it")
    // cadence argument valve: maintainEvery without policy or log
    intercept[IllegalArgumentException] {
      IvfStream.attach(
        spark.readStream.schema(schema).parquet(s"$tmp/in"), FloatCenters(centersA),
        indexDir = s"$tmp/idx2", checkpointDir = s"$tmp/ckpt2",
        maintainEvery = Some(2))
    }
    intercept[IllegalArgumentException] {
      IvfStream.attach(
        spark.readStream.schema(schema).parquet(s"$tmp/in"), SqQuantizer(centersA, Similarity.sqTrain(spark, e)), indexDir = s"$tmp/idx3",
        checkpointDir = s"$tmp/ckpt3",
        stalenessDir = Some(s"$tmp/stale3"),
        maintainEvery = Some(2),
        maintainPolicy = Some(policy)) // codes tier: refs missing
    }
    e.unpersist()
  }
}
