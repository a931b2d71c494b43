package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.{Similarity, VectorIndex}
import graft.streaming.{IndexManifest, IvfStream}
import graft.streaming.ModelStore.{PqQuantizer, SqQuantizer}

/** [[graft.pipeline.VectorIndex]]: the tier matrix as ONE contract —
  * the identical lifecycle scenario (train → enroll → ingest → probe →
  * filtered probe → maintain-fire → delete → compact) runs across all
  * six tier configurations (float / SQ8 / BQ / PQ / OPQ-PQ /
  * Matryoshka-prefix) with the same assertions, pinning that the
  * facade's per-tier delegation is complete and convention-true (r12
  * verdict #6: no behavior change, one door). */
class VectorIndexSpec extends SparkSpec {

  private def assertTopKShape(name: String, topk: DataFrame, qs: DataFrame,
                              k: Int): Unit = {
    val rows = topk.groupBy("qid").agg(
      count(lit(1)).as("n"),
      countDistinct(col("rid")).as("nd"),
      max(col("rid") === col("qid")).as("self")).collect()
    assert(rows.length === qs.count(),
      s"$name: every query must be answered")
    rows.foreach { r =>
      assert(r.getLong(1) === k.toLong, s"$name: k rows per query, got $r")
      assert(r.getLong(2) === k.toLong, s"$name: distinct rids, got $r")
      assert(!r.getBoolean(3), s"$name: no self match, got $r")
    }
  }

  test("one lifecycle scenario, five tier configurations, identical " +
    "assertions: ingest, probe, filtered probe, maintain fire, delete, " +
    "compact") {
    val e = Tables.embeddings(spark, sf).cache()
    val cols = e.select("vec_id", "embedding", "label")
    import spark.implicits._
    val tiers: Seq[(String, VectorIndex.Tier)] = Seq(
      ("float", VectorIndex.FloatTier),
      ("sq8", VectorIndex.Sq8Tier),
      ("bq", VectorIndex.BqTier),
      ("pq", VectorIndex.PqTier(m = 8, nCodes = 16)),
      ("opq", VectorIndex.PqTier(m = 8, nCodes = 16, opq = true,
        opqIters = 3)),
      ("matryoshka", VectorIndex.MatryoshkaTier(prefixDims = 32)))
    tiers.foreach { case (name, tier) =>
      val tmp = tempDir(s"graft_vi_$name").toString
      val params = VectorIndex.Params(tier, nLists = 4, nProbe = 4,
        shortlist = 30, refine = 6, metaCols = Seq("label"))
      val vi0 = VectorIndex.train(spark, e, params, s"$tmp/idx")
      vi0.enrollSnapshots(spark)
      // two idempotent batch ingests (the attach layout)
      vi0.ingest(spark, cols.filter(col("vec_id") % 2 === 0), 0L)
      vi0.ingest(spark, cols.filter(col("vec_id") % 2 =!= 0), 1L)
      val total = vi0.read(spark).count()
      assert(total === e.count(), s"$name: both batches indexed")
      // probe
      val qs = e.filter(col("vec_id") < 10)
      assertTopKShape(name, vi0.topK(spark, qs, e, k = 3), qs, 3)
      // filtered probe: the predicate is a hard guarantee
      val labels = e.select(col("vec_id").as("rid"), col("label"))
      val filtered = vi0.topKFiltered(spark, qs, e.filter(col("label") === 2),
        k = 3, col("label") === 2)
      assertTopKShape(s"$name-filtered", filtered, qs, 3)
      assert(filtered.join(labels, "rid").filter(col("label") =!= 2)
        .count() === 0L, s"$name: filtered probe leaked a disallowed ref")
      // pin BEFORE the refresh: the pinned probe must replay
      // byte-identically across the maintain-fire below — for every
      // tier, which round-trips every ModelStore epoch shape (float /
      // SQ codec / BQ / PQ books+rotation / matryoshka prefix)
      val pinPre = vi0.pin(spark)
      val pinnedBefore = vi0.topKPinned(spark, pinPre, qs, e, 3)
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet
      val pinnedFilteredBefore = vi0.topKFilteredPinned(spark, pinPre,
          qs, e.filter(col("label") === 2), 3, col("label") === 2)
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet
      // maintain: a breaching synthetic log row fires the tier's
      // refresh; the facade hands back the updated quantizers
      Seq((1000L, 999.0, 0.5, 4))
        .toDF("n_vecs", "mean_d2", "max_list_frac", "n_lists")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$tmp/stale/batch=0")
      val (rep, vi1) = vi0.maintain(spark, s"$tmp/stale", e,
        IvfStream.MaintainPolicy(meanD2Max = 1.0))
      assert(rep.fired, s"$name: breaching log must fire maintenance")
      assert(vi1 ne vi0, s"$name: a fired maintain returns new quantizers")
      assert(vi1.read(spark).count() === total,
        s"$name: refresh must keep the indexed id set")
      assertTopKShape(s"$name-postmaint", vi1.topK(spark, qs, e, k = 3),
        qs, 3)
      // 1. the pre-refresh pin replays byte-identically (old leaves +
      //    the old model epoch)
      assert(vi1.topKPinned(spark, pinPre, qs, e, 3)
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet
        === pinnedBefore,
        s"$name: a pinned probe must survive the refresh byte-identically")
      // 2. a fresh pin under the NEW epoch ≡ the facade's own topK
      //    (the stored epoch round-trips the refreshed quantizers)
      val gotPinnedNew = vi1.topKPinned(spark, vi1.pin(spark), qs, e, 3)
      val wantNew = vi1.topK(spark, qs, e, 3)
      assert(gotPinnedNew.exceptAll(wantNew).isEmpty &&
        wantNew.exceptAll(gotPinnedNew).isEmpty,
        s"$name: the current epoch's pinned probe must equal topK")
      // 3. the FILTERED pinned probe replays too, and never leaks a
      //    disallowed ref (the predicate meets the pinned metadata)
      assert(vi1.topKFilteredPinned(spark, pinPre, qs,
          e.filter(col("label") === 2), 3, col("label") === 2)
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet
        === pinnedFilteredBefore,
        s"$name: a pinned filtered probe must survive the refresh")
      assert(vi1.topKFilteredPinned(spark, vi1.pin(spark), qs,
          e.filter(col("label") === 2), 3, col("label") === 2)
        .join(labels, "rid").filter(col("label") =!= 2).count() === 0L,
        s"$name: pinned filtered probe leaked a disallowed ref")
      // the metadata survived the refresh (r13 contract)
      val postMaintFiltered = vi1.topKFiltered(spark, qs,
        e.filter(col("label") === 2), k = 3, col("label") === 2)
      assert(postMaintFiltered.join(labels, "rid")
        .filter(col("label") =!= 2).count() === 0L,
        s"$name: filtered probe must survive the refresh")
      // targeted delete
      val doomed = Seq(2L, 4L)
      val delRep = vi1.delete(spark, doomed.toDF("vec_id"))
      assert(delRep.rowsDeleted === 2L, s"$name: $delRep")
      assert(vi1.read(spark).filter(col("vec_id").isin(doomed: _*))
        .count() === 0L, s"$name: deleted ids must vanish")
      val postDel = vi1.topK(spark, qs, e, k = 3)
      assert(postDel.filter(col("rid").isin(doomed: _*)).count() === 0L,
        s"$name: probes must never return a deleted id")
      // compact: row set preserved, manifest generation advanced
      val genBefore = IndexManifest.pin(spark, s"$tmp/idx").gen
      vi1.compact(spark)
      assert(vi1.read(spark).count() === total - doomed.length,
        s"$name: compaction must preserve the live rows")
      assert(IndexManifest.pin(spark, s"$tmp/idx").gen > genBefore,
        s"$name: compaction must commit a new generation")
      // and vacuum reclaims the retired generations
      assert(vi1.vacuum(spark) > 0, s"$name: vacuum must reclaim leaves")
      assert(vi1.read(spark).count() === total - doomed.length,
        s"$name: vacuum must not touch the live generation")
    }
    e.unpersist()
  }

  test("facade delegation is exact: facade topK ≡ the direct per-tier " +
    "operator call on the same directory") {
    val e = Tables.embeddings(spark, sf).cache()
    val tmp = tempDir("graft_vieq").toString
    val params = VectorIndex.Params(VectorIndex.Sq8Tier, nLists = 4,
      nProbe = 4, shortlist = 30)
    val vi = VectorIndex.train(spark, e, params, s"$tmp/idx")
    vi.ingest(spark, e.select("vec_id", "embedding"), 0L)
    val qs = e.filter(col("vec_id") < 10)
    val got = vi.topK(spark, qs, e, k = 3)
    val SqQuantizer(centers, codec) = vi.quantizer
    val want = Similarity.ivfSqTopKFromIndex(spark, qs,
      IvfStream.readIndex(spark, s"$tmp/idx", payload = "codes"), centers, codec,
      e, k = 3, shortlist = 30, nProbe = 4)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "facade probe diverges from the direct operator")
    e.unpersist()
  }

  test("Matryoshka tier facade ≡ the direct matryoshkaIvf* operator: " +
    "stored rows are the prefix index, topK matches exactly") {
    val e = Tables.embeddings(spark, sf).cache()
    val tmp = tempDir("graft_vim").toString
    val dims = 32
    val params = VectorIndex.Params(VectorIndex.MatryoshkaTier(dims),
      nLists = 4, nProbe = 4, shortlist = 30)
    val vi = VectorIndex.train(spark, e, params, s"$tmp/idx")
    vi.ingest(spark, e.select("vec_id", "embedding"), 0L)
    // the stored frame IS the prefix index: dims floats per vector,
    // listed under the prefix-trained quantizer
    val idx = IvfStream.readIndex(spark, s"$tmp/idx")
    assert(idx.select(size(col("embedding"))).distinct().collect()
      .map(_.getInt(0)).toSeq === Seq(dims),
      "matryoshka tier must store the prefix, not the full vector")
    val (wantCenters, wantIdx) = Similarity.matryoshkaIvfBuildIndex(
      spark, e, dims, nLists = 4)
    assert(vi.quantizer.centers.zip(wantCenters).forall(p =>
      p._1.sameElements(p._2)),
      "facade training must equal matryoshkaIvfBuildIndex's")
    assert(idx.exceptAll(wantIdx).isEmpty && wantIdx.exceptAll(idx).isEmpty,
      "facade ingest must equal the batch prefix index")
    val qs = e.filter(col("vec_id") < 10)
    val got = vi.topK(spark, qs, e, k = 3)
    val want = Similarity.matryoshkaIvfTopKFromIndex(spark, qs, idx,
      vi.quantizer.centers, e, k = 3, dims = dims, shortlist = 30, nProbe = 4)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "facade matryoshka probe diverges from the direct operator")
    e.unpersist()
  }

  test("VectorIndex.load reconstructs the facade from disk in a " +
    "fresh-session posture: probes identical across all six tiers, " +
    "and a reload after a fired maintain picks up the new epoch") {
    import spark.implicits._
    val e = Tables.embeddings(spark, sf).cache()
    val tiers: Seq[(String, VectorIndex.Tier)] = Seq(
      ("float", VectorIndex.FloatTier),
      ("sq8", VectorIndex.Sq8Tier),
      ("bq", VectorIndex.BqTier),
      ("pq", VectorIndex.PqTier(m = 8, nCodes = 16)),
      ("opq", VectorIndex.PqTier(m = 8, nCodes = 16, opq = true,
        opqIters = 3)),
      ("matryoshka", VectorIndex.MatryoshkaTier(prefixDims = 32)))
    val qs = e.filter(col("vec_id") < 10)
    tiers.foreach { case (name, tier) =>
      val tmp = tempDir(s"graft_vl_$name").toString
      val params = VectorIndex.Params(tier, nLists = 4, nProbe = 4,
        shortlist = 30, refine = 6, metaCols = Seq("label"))
      val vi = VectorIndex.train(spark, e, params, s"$tmp/idx")
      vi.ingest(spark, e.select("vec_id", "embedding", "label"), 0L)
      vi.enrollSnapshots(spark)
      val loaded = VectorIndex.load(spark, s"$tmp/idx")
      assert(loaded.params === params,
        s"$name: params must round-trip through the properties file")
      val got = loaded.topK(spark, qs, e, k = 3)
      val want = vi.topK(spark, qs, e, k = 3)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"$name: the loaded facade must probe identically")
      // filtered probes too — metaCols survived the round-trip
      val gotF = loaded.topKFiltered(spark, qs,
        e.filter(col("label") === 2), 3, col("label") === 2)
      val wantF = vi.topKFiltered(spark, qs,
        e.filter(col("label") === 2), 3, col("label") === 2)
      assert(gotF.exceptAll(wantF).isEmpty &&
        wantF.exceptAll(gotF).isEmpty, s"$name: filtered probe parity")
    }
    // reload after a fired maintain: the newest epoch wins
    val tmp = tempDir("graft_vlm").toString
    val vi = VectorIndex.train(spark, e,
      VectorIndex.Params(VectorIndex.FloatTier, nLists = 4, nProbe = 4),
      s"$tmp/idx")
    vi.ingest(spark, e.select("vec_id", "embedding"), 0L)
    vi.enrollSnapshots(spark)
    Seq((1000L, 999.0, 0.5, 4))
      .toDF("n_vecs", "mean_d2", "max_list_frac", "n_lists")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/stale/batch=0")
    val (rep, vi1) = vi.maintain(spark, s"$tmp/stale", e,
      IvfStream.MaintainPolicy(meanD2Max = 1.0))
    assert(rep.fired)
    val reloaded = VectorIndex.load(spark, s"$tmp/idx")
    assert(reloaded.quantizer.centers.zip(vi1.quantizer.centers).forall(p =>
      p._1.sameElements(p._2)),
      "a reload after a fired maintain must carry the refreshed epoch")
    // loud on a half-persisted layout
    intercept[IllegalArgumentException] {
      VectorIndex.load(spark, s"$tmp/nowhere")
    }
    e.unpersist()
  }

  test("PqTier opqAuto routes by measured code recall (recon error " +
    "cannot discriminate — OPQ descends it on every corpus): the " +
    "cross-dim-correlated corpus picks the rotation, isotropic blobs " +
    "pick plain") {
    import spark.implicits._
    val dim = 64
    val n = 3000L
    val latent = 32
    val centers = Array.tabulate(latent) { c =>
      val r = new java.util.Random(1000L + c)
      Array.fill(dim)(r.nextGaussian().toFloat)
    }
    // the ProbeOpqScale corpus pair (r13g): isotropic latent blobs —
    // where the optimal rotation is the identity — vs the same blobs
    // pushed through a hidden orthogonal mix with exp-decaying per-dim
    // variance, the anisotropic shape OPQ exists for
    val mix: Array[Array[Double]] = {
      val r = new java.util.Random(77L)
      val a = Array.fill(dim, dim)(r.nextGaussian())
      for (i <- 0 until dim) {
        for (j <- 0 until i) {
          val d = (0 until dim).map(k => a(i)(k) * a(j)(k)).sum
          for (k <- 0 until dim) a(i)(k) -= d * a(j)(k)
        }
        val nn = math.sqrt((0 until dim).map(k => a(i)(k) * a(i)(k)).sum)
        for (k <- 0 until dim) a(i)(k) /= nn
      }
      a
    }
    val sigmas = Array.tabulate(dim)(j => math.exp(-3.0 * j / dim))
    val bc = spark.sparkContext.broadcast(centers)
    val bcMix = spark.sparkContext.broadcast(mix)
    val bcSig = spark.sparkContext.broadcast(sigmas)
    val blobs = spark.range(n).map { id =>
      val r = new java.util.Random(id * 2654435761L + 7L)
      val c = bc.value((id % latent).toInt)
      (id, Array.tabulate(dim)(i => c(i) + 0.35f * r.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding").cache()
    val correlated = spark.range(n).map { id =>
      val r = new java.util.Random(id * 2654435761L + 7L)
      val c = bc.value((id % latent).toInt)
      val q = bcMix.value; val sg = bcSig.value
      val z = Array.tabulate(dim)(j =>
        (0.5 * c(j) + 0.35 * r.nextGaussian()) * sg(j))
      (id, Array.tabulate(dim) { i =>
        var s = 0.0; var j = 0
        while (j < dim) { s += q(j)(i) * z(j); j += 1 }
        s.toFloat
      })
    }.toDF("vec_id", "embedding").cache()
    val auto = (refs: DataFrame) => Similarity.ivfPqTrainModelAuto(spark,
      refs, nLists = 8, m = 8, nCodes = 16, iters = 3,
      trainCap = n.toInt)
    assert(auto(correlated).rotation.nonEmpty,
      "auto must pick the rotation on the anisotropic corpus")
    assert(auto(blobs).rotation.isEmpty,
      "auto must pick plain on isotropic blobs (the r13g finding: the " +
        "rotation is a noise fit there)")
    // and the facade constructor routes through it
    val tmp = tempDir("graft_viauto").toString
    val viC = VectorIndex.train(spark, correlated,
      VectorIndex.Params(VectorIndex.PqTier(m = 8, nCodes = 16,
        opqIters = 3, opqAuto = true), nLists = 8,
        trainCap = n.toInt), s"$tmp/c")
    val PqQuantizer(viModel) = viC.quantizer
    assert(viModel.rotation.nonEmpty)
    blobs.unpersist(); correlated.unpersist()
  }
}
