package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.util.{Concurrent, SessionMemo}
import graft.pipeline.{Multimodal, Similarity}

/** Embedding / similarity-search query surface — the ANN family split
  * out of PipelineQueries (r7 verdict #8): the exact-to-IVF-PQ top-k
  * ladder with hash-enforced recall floors, SemDeDup, cosine pair
  * mining, k-means, contrastive mining, drift, PQ codec audit,
  * k-center coreset, JL projection, label outliers, PCA, and the
  * perceptual-hash image dup join. Every entry has a DuckDB oracle in
  * [[oracleSql]].
  */
object PipelineSimilarityQueries {

  /** ONE exact ground truth per Verify/Bench run (r10 verdict #5): the
    * six ANN audit queries plus q29/q202/q203 each measured recall
    * against the IDENTICAL brute top-5 over the capped vec_id<50 query
    * universe, re-paying the full exact scan up to nine times per run
    * (~50 s of the r10 core). The frame is computed once per (session,
    * table dir), persisted (250 rows at k=5), and shared — the audits'
    * floors and the dumped contract booleans are unchanged because the
    * VALUES are identical by construction. */
  private object BruteTruth {
    /** (full brute top-5 frame for vec_id<50 queries — persisted,
      * columns (qid, rid, cos, rn) —, its row count). */
    def topK(s: SparkSession, d: String): (DataFrame, Long) = {
      val b = SessionMemo.frame(s, "bruteTop5", d) {
        val e = Tables.embeddings(s, d)
        Similarity.bruteForceTopK(e.filter(col("vec_id") < 50), e, k = 5)
      }
      (b, SessionMemo.value(s, "bruteTop5.rows", d)(b.count()))
    }
  }

  /** Invariant-oracle audit shape shared by the approximate top-k
    * queries (q30/q41/q56) — the r7 graduation of the last `no_oracle`
    * rows (the q34/q79/q90/q161 pattern): instead of dumping (qid,
    * rid, cos, rn) rows whose rid depends on hash buckets no SQL engine
    * can replay, emit one row per input vector with the CONTRACT the
    * operator must satisfy as booleans the DuckDB oracle pins TRUE —
    *
    *  - `k_ok`: exactly k results came back for this query vector
    *    (a vector missing from the output, or short-listed, fails);
    *  - `distinct_ok` / `no_self_ok`: result ids are distinct and
    *    never the query itself;
    *  - `range_ok` / `sorted_ok`: emitted cosines are valid cosines
    *    and non-increasing in rank (the re-rank window's contract);
    *  - `recall_ok`: the measured capped-universe recall vs the brute
    *    twin clears the operator's enforced floor.
    *
    * Any regression — a dropped query vector, duplicate hits, a broken
    * re-rank, a recall collapse — flips a boolean and hash-fails the
    * row. The value-level top-k semantics stay covered by q29's exact
    * oracle; SimilaritySpec keeps the kernel-level assertions. */
  private def annTopKAudit(vectors: DataFrame, topk: DataFrame, k: Int,
                           recall: Double, floor: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("qid").orderBy("rn")
    val per = topk
      .withColumn("_prev", lag(col("cos"), 1).over(w))
      .groupBy("qid").agg(
        count(lit(1)).as("_n"),
        countDistinct(col("rid")).as("_nd"),
        max(col("rid") === col("qid")).as("_self"),
        min(col("cos").between(-1.000001, 1.000001)).as("_range"),
        min(coalesce(col("_prev") >= col("cos"), lit(true))).as("_sorted"))
    vectors.select(col("vec_id").cast("long").as("qid"))
      .join(per, Seq("qid"), "left")
      .select(col("qid"),
        (coalesce(col("_n"), lit(0L)) === k).as("k_ok"),
        coalesce(col("_nd") === col("_n"), lit(false)).as("distinct_ok"),
        coalesce(!col("_self"), lit(false)).as("no_self_ok"),
        coalesce(col("_range"), lit(false)).as("range_ok"),
        coalesce(col("_sorted"), lit(false)).as("sorted_ok"),
        lit(recall >= floor).as("recall_ok"))
      .orderBy("qid")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q29_ann_topk" -> ((s, d) => BruteTruth.topK(s, d)._1),

    // Operating point set from the measured recall curve (ProbeAnnRecall,
    // r7): (nBits=32, bands=8) keeps 4-bit bands — collision prob 1/16
    // per band, so candidate volume stays ~n²/2 at 8 bands — and
    // measures recall@5 0.664 (sf0.01) / 0.720 (sf0.1) on the
    // near-random synthetic vectors; the old (16, 4) point measured
    // 0.41/0.50, under the floor the audit now ENFORCES.
    "q30_lsh_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val lsh = Similarity.lshTopK(e, k = 5, nBits = 32, bands = 8).cache()
      val (bruteFull, nb) = BruteTruth.topK(s, d)
      val brute = bruteFull.select("qid", "rid")
      val nh = lsh.filter(col("qid") < 50).select("qid", "rid")
        .join(brute, Seq("qid", "rid"), "left_semi").count()
      val recall = if (nb == 0) 1.0 else nh.toDouble / nb
      // enforced floor, not just reported quality: a recall regression
      // flips recall_ok in the dumped frame (and fails SimilaritySpec)
      annTopKAudit(e, lsh, k = 5, recall, floor = 0.55)
    }),

    // Per-label embedding outlier audit: every vector's d² to its own
    // label centroid, within-label z, non-round-threshold flag — all
    // recomputed in DuckDB. Exact oracle.
    "q187_label_outliers" -> ((s, d) =>
      Similarity.labelOutliers(s, Tables.embeddings(s, d))
        .orderBy("vec_id")),

    // Johnson–Lindenstrauss ±1 projection 64→16: every projected
    // coordinate of every vector recomputed in DuckDB from the same
    // md5-derived sign matrix. Exact oracle.
    "q185_jl_project" -> ((s, d) =>
      Similarity.jlProject(Tables.embeddings(s, d), outDim = 16)
        .orderBy("vec_id", "dim")),

    // k-center greedy coreset over a bounded universe (vec_id<200, the
    // q170 capped-anchor idiom): the full greedy trajectory — picks
    // AND max-min radii — replays in DuckDB as k chained argmax CTEs
    // on the same rounded distances. Exact oracle.
    "q184_kcenter_coreset" -> ((s, d) =>
      Similarity.kCenterGreedy(s,
        Tables.embeddings(s, d).filter(col("vec_id") < 200), k = 4)
        .orderBy("rank")),

    // PQ embedding-compression codec audit (invariant oracle): every
    // vector's codes are in range and the reconstruction beats the
    // null (global-mean) model — a quantizer that learned nothing, or
    // an encode/decode mismatch, flips better_than_mean. The mse
    // columns stay operator-side (PipelineSpec bounds them); the
    // oracle pins the booleans per vec_id.
    "q176_pq_codec" -> ((s, d) =>
      Similarity.pqReconstructionAudit(s, Tables.embeddings(s, d))
        .select(col("vec_id"), col("codes_ok"), col("better_than_mean"))
        .orderBy("vec_id")),

    "q38_cosine_pairs" -> ((s, d) =>
      Similarity.cosinePairs(Tables.embeddings(s, d), threshold = 0.35)),

    // nProbe=3 of 8 lists: measured recall@5 0.676 at BOTH sf0.01 and
    // sf0.1 (ProbeAnnRecall, r7) — nProbe=2 measured 0.54, under the
    // enforced 0.55 floor.
    "q41_ivf_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val ivf = Similarity.ivfTopK(s, e, k = 5, nLists = 8, nProbe = 3).cache()
      val (bruteFull, nb) = BruteTruth.topK(s, d)
      val brute = bruteFull.select("qid", "rid")
      val nh = ivf.filter(col("qid") < 50).select("qid", "rid")
        .join(brute, Seq("qid", "rid"), "left_semi").count()
      val recall = if (nb == 0) 1.0 else nh.toDouble / nb
      annTopKAudit(e, ivf, k = 5, recall, floor = 0.55)
    }),

    // IVF-PQ (the reference ladder's >1M-vector tier): product-
    // quantized inverted lists + exact refine; recall measured against
    // the brute twin on the same capped query universe as q30/q41.
    // Parameters picked from the recorded ProfileIvfPq recall curve
    // (BASELINE.md r5) and re-measured in r7 (ProbeAnnRecall): nProbe
    // ≤ 4 is probe-coverage-bounded no matter how good the codes, so
    // the ≥0.8 regime needs 6+ probes; and m=8 (8-byte codes) is
    // code-quality-bounded at sf0.1 (0.744, under the floor) while
    // m=16 — the dim/4 production guidance from the 1M-vector curve —
    // measures 0.916 (sf0.01) / 0.920 (sf0.1) at 16 bytes/vector.
    "q56_ivfpq_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val pq = Similarity.ivfPqTopK(s, e, k = 5, nLists = 8, nProbe = 6,
        m = 16, nCodes = 32, refine = 20).cache()
      val (bruteFull, nb) = BruteTruth.topK(s, d)
      val brute = bruteFull.select("qid", "rid")
      val nh = pq.filter(col("qid") < 50).select("qid", "rid")
        .join(brute, Seq("qid", "rid"), "left_semi").count()
      val recall = if (nb == 0) 1.0 else nh.toDouble / nb
      annTopKAudit(e, pq, k = 5, recall, floor = 0.8)
    }),

    // IVF-OPQ (r13, r12 verdict #3): a learned orthogonal rotation
    // before the subspace split (Ge et al., CVPR 2013) — the standard
    // recall lift at IDENTICAL index bytes where PQ is code-quality-
    // bound. Operating point from ProbeAnnRecall (r13) at m=8 (8-byte
    // codes, the code-bound rung), nLists=8/nProbe=6/refine=4:
    // rotated 0.656 (sf0.01) / 0.468 (sf0.1) vs unrotated 0.592 /
    // 0.380 — the +8-10pt lift concentrates exactly where the split
    // is coarse (dsub=8); at m=16 (dsub=4, codes already
    // near-faithful) the rotation buys nothing on this data and q56
    // keeps the unrotated rung. Floor 0.42 sits ABOVE the unrotated
    // rung's measured ceiling at sf0.1, so a silent regression to an
    // DELTA-manifest layer audit (r14, r13 verdict #4): the
    // O(changed)-bytes commit machinery every per-trigger and
    // partition-scoped commit now rides, gated as contract booleans
    // on a synthetic manifest (pure manifest arithmetic — leaf names
    // are data-free, exactly what commit writes):
    //  - delta_resolves: 30 incremental commits resolve EXACTLY (the
    //    returned snapshot and a fresh from-disk resolution both
    //    equal the tracked set at every step);
    //  - reanchor_ok: every fullEvery-th generation re-anchors a full
    //    snapshot, other commits are O(Δ) delta files, and a
    //    whole-set rewrite anchors full rather than a giant delta;
    //  - replay_readd_ok: a replayed commitBatch's remove+re-add of
    //    its own leaf keeps the leaf live (the r14g latent-bug fix);
    //  - chain_vacuum_ok: vacuum keeps each kept generation's WHOLE
    //    resolution chain and the generation stays resolvable;
    //  - min_age_ok: a pin-horizon vacuum spares generations younger
    //    than minAgeMs regardless of keepGens;
    //  - dup_commit_loud: a forged duplicate-generation commit fails
    //    loudly naming the single-writer contract, manifest intact.
    "q217_delta_manifest" -> ((s, d) => {
      import graft.streaming.IndexManifest
      import org.apache.hadoop.fs.Path
      val root = java.nio.file.Files
        .createTempDirectory("graft_q217").toString
      val dir = s"$root/idx"
      val fs = graft.util.SmallFiles.fsOf(s, new Path(dir))
      // the result is a local one-row frame, so nothing reads the
      // directory after the booleans are computed
      try {
        val md = s"$dir/_manifests"
        def has(n: String) = fs.exists(new Path(md, n))
        val base = (0 until 500).map(i => f"batch=0/list=$i")
        var snap = IndexManifest.commitAt(s, dir, 0L, base)
        var expected = base.toSet
        var deltaResolves = true
        (1 to 30).foreach { b =>
          val adds = Seq(s"batch=$b/list=0", s"batch=$b/list=1")
          snap = IndexManifest.commitDelta(s, dir, snap, adds, Seq.empty)
          expected ++= adds
          deltaResolves &&= snap.leaves.toSet == expected &&
            IndexManifest.current(s, dir).get.leaves.toSet == expected
        }
        val deltaLen = fs.getFileStatus(
          new Path(md, "gen-000000001.delta.txt")).getLen
        val fullLen = fs.getFileStatus(new Path(md, "gen-000000000.txt"))
          .getLen
        val rewrite = IndexManifest.commitDelta(s, dir, snap,
          adds = Seq("batch=99/list=0"), removes = snap.leaves)
        val reanchorOk = has("gen-000000016.txt") &&
          !has("gen-000000016.delta.txt") &&
          has("gen-000000017.delta.txt") && deltaLen * 10 < fullLen &&
          has("gen-000000031.txt") && !has("gen-000000031.delta.txt") &&
          rewrite.leaves == Seq("batch=99/list=0")
        val replayed = IndexManifest.commitDelta(s, dir, rewrite,
          adds = Seq("batch=99/list=0"), removes = Seq("batch=99/list=0"))
        val replayReaddOk =
          replayed.leaves == Seq("batch=99/list=0") &&
            IndexManifest.current(s, dir).get.leaves ==
              Seq("batch=99/list=0")
        var s2 = replayed
        (1 to 3).foreach { i =>
          s2 = IndexManifest.commitDelta(s, dir, s2,
            Seq(s"batch=${100 + i}/list=0"), Seq.empty)
        }
        // minAge FIRST (everything is seconds old → nothing reclaimed,
        // every GENERATION file still present — the r15 tombstone file
        // vacuum writes alongside them is bookkeeping, not a reclaim)...
        def genFiles() = fs.listStatus(new Path(md))
          .count(_.getPath.getName.startsWith("gen-"))
        val before = genFiles()
        IndexManifest.vacuum(s, dir, keepGens = 1,
          minAgeMs = 3600L * 1000L)
        val minAgeOk = genFiles() == before &&
          IndexManifest.current(s, dir).get.leaves.toSet ==
            s2.leaves.toSet
        // ...then the real vacuum: keep gen 35 and its chain back to
        // the nearest full anchor (gen 32 — the replayed commit's
        // 2-line delta was no smaller than its 1-leaf set, so it
        // re-anchored full)
        IndexManifest.vacuum(s, dir, keepGens = 1)
        val names = fs.listStatus(new Path(md))
          .map(_.getPath.getName).filter(_.startsWith("gen-")).sorted.toSeq
        val chainVacuumOk = names == Seq("gen-000000032.txt",
          "gen-000000033.delta.txt", "gen-000000034.delta.txt",
          "gen-000000035.delta.txt") &&
          IndexManifest.current(s, dir).get.leaves.toSet ==
            s2.leaves.toSet
        val cur = IndexManifest.pin(s, dir)
        val dupCommitLoud =
          try { IndexManifest.commitAt(s, dir, cur.gen, Seq("batch=7"))
                false }
          catch { case e: IllegalStateException =>
            e.getMessage.contains("single-writer") &&
              IndexManifest.pin(s, dir) == cur }
        import s.implicits._
        Seq((deltaResolves, reanchorOk, replayReaddOk, chainVacuumOk,
          minAgeOk, dupCommitLoud))
          .toDF("delta_resolves", "reanchor_ok", "replay_readd_ok",
            "chain_vacuum_ok", "min_age_ok", "dup_commit_loud")
      } finally { fs.delete(new Path(root), true); () }
    }),

    // identity rotation fails the gate (the q210/q211 posture);
    // rotation_ok additionally pins RᵀR = I.
    "q216_ivfopq_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val (model, index) = Similarity.ivfOpqBuildIndex(s, e, nLists = 8,
        m = 8, nCodes = 32, iters = 4)
      val r = model.rotation.get
      val dd = r.length
      val rotOk = (0 until dd).forall(i => (i until dd).forall { j =>
        val dot = (0 until dd).map(k => r(k)(i) * r(k)(j)).sum
        math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9
      })
      val opq = Similarity.ivfPqTopKFromIndex(s, e, index, model, e,
        k = 5, nProbe = 6, refine = 4).cache()
      val (bruteFull, nb) = BruteTruth.topK(s, d)
      val brute = bruteFull.select("qid", "rid")
      val nh = opq.filter(col("qid") < 50).select("qid", "rid")
        .join(brute, Seq("qid", "rid"), "left_semi").count()
      val recall = if (nb == 0) 1.0 else nh.toDouble / nb
      annTopKAudit(e, opq, k = 5, recall, floor = 0.42)
        .withColumn("rotation_ok", lit(rotOk))
    }),

    // Distributed PCA: one treeAggregate moment pass + driver Jacobi
    // (the EigenInit driver-route reasoning), then the codegen'd
    // broadcast projection — emitted coords are the distributed
    // operator's output (rows-only: the eigen loop has no SQL analog;
    // PcaSpec carries recovery/orthonormality/projection correctness).
    // Distributed PCA with the linear-algebra contracts as an INVARIANT
    // oracle (r6 graduation, the q20/q21 pattern): component
    // orthonormality, eigenvalues sorted nonincreasing and nonnegative,
    // and the spectral identity var(pcₖ over the full table) = λₖ —
    // checked against the moment-pass eigendecomposition itself, so a
    // solver or projection regression flips a pinned boolean. Per-row
    // finiteness rides on the enumerable vec_id < 100 projection.
    "q90_pca" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val model = graft.linalg.Pca.fit(e, "v", r = 4)
      val comps = model.components
      val ortho = (for (i <- comps.indices; j <- i until comps.length) yield {
        val dot = comps(i).zip(comps(j)).map { case (a, b) => a * b }.sum
        math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-8
      }).forall(identity)
      val evalsOk = model.explainedVariance.zip(model.explainedVariance.drop(1))
        .forall { case (a, b) => a >= b - 1e-12 } &&
        model.explainedVariance.forall(_ >= -1e-9)
      val full = graft.linalg.Pca.transform(e, model, "v").cache()
      val vars = full.agg(var_pop(col("pc")(0)), var_pop(col("pc")(1)),
        var_pop(col("pc")(2)), var_pop(col("pc")(3))).collect()(0)
      val varsOk = model.explainedVariance.indices.forall { k =>
        math.abs(vars.getDouble(k) - model.explainedVariance(k)) <=
          1e-6 * math.max(1.0, model.explainedVariance(k))
      }
      full.filter(col("vec_id") < 100)
        .select(col("vec_id"),
          (!isnan(col("pc")(0)) && !isnan(col("pc")(1)) &&
            !isnan(col("pc")(2)) && !isnan(col("pc")(3))).as("finite_ok"),
          lit(ortho).as("orthonormal_ok"),
          lit(evalsOk).as("evals_sorted_ok"),
          lit(varsOk).as("var_matches_eigenvalue"))
        .orderBy("vec_id")
    }),

    // SemDeDup (arXiv:2303.09540): k-means-bounded semantic dedup —
    // within-cluster exact pairs → CC → keep the least-redundant doc
    // per duplicate group. Recall measured against the unclustered
    // brute pair set at the same threshold (the cost SemDeDup pays for
    // turning Θ(n²) into K·Θ((n/K)²) is exactly cross-cluster pairs).
    "q62_semdedup" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      // semDedupPairs returns an already-persisted frame (it must
      // materialize before dropping its cluster assignment)
      val pairs = Similarity.semDedupPairs(s, e, threshold = 0.35,
        nClusters = 8)
      val dec = Similarity.semDedup(s, e, threshold = 0.35, nClusters = 8,
        precomputedPairs = Some(pairs))
      // recall on a capped universe (vec_id < 200, like q27/q30/q41's
      // query caps): the brute twin is Θ(n²) and would dominate the
      // query at scale; the capped measure is the same estimator at
      // fixed cost as data grows
      val brute = Similarity
        .cosinePairsBrute(e.filter(col("vec_id") < 200), threshold = 0.35)
        .select("id_a", "id_b")
      val bruteN = brute.count()
      val semN = pairs.filter(col("id_a") < 200 && col("id_b") < 200)
        .select("id_a", "id_b")
        .join(brute, Seq("id_a", "id_b"), "left_semi").count()
      val recall = if (bruteN == 0) 1.0 else semN.toDouble / bruteN
      // r7 graduation to an invariant oracle (the annTopKAudit shape):
      // one row per input vector with the decision contract pinned —
      // exactly one keeper per duplicate group, group labels are the
      // group's min id (the CC contract), every dropped vector has a
      // same-group witness, centroid cosines are valid, and the
      // capped-universe recall clears the enforced floor. Floor set
      // from measurement (ProbeAnnRecall, r7): on the NEAR-RANDOM
      // synthetic embeddings the θ=0.35 pair population has no cluster
      // structure, so single-assignment SemDeDup measures pair recall
      // 0.366 (sf0.01) / 0.350 (sf0.1) at K=8 — the K·(n/K)² trade the
      // paper accepts (cross-cluster pairs are exactly the cost). A
      // BROKEN assignment ceilings at ~1/K ≈ 0.125 and a broken pair
      // join at 0, so 0.25 separates working from broken with margin
      // on both sides.
      import org.apache.spark.sql.expressions.Window
      val wg = Window.partitionBy("group_id")
      dec
        .withColumn("_nkeep", sum(when(col("keep"), 1L).otherwise(0L)).over(wg))
        .withColumn("_gsz", count(lit(1)).over(wg))
        .select(col("vec_id"),
          (col("_nkeep") === 1L).as("one_keeper_ok"),
          (col("group_id") <= col("vec_id")).as("group_min_ok"),
          (col("keep") || col("_gsz") >= 2L).as("witness_ok"),
          col("centroid_cos").between(-1.000001, 1.000001).as("range_ok"),
          lit(recall >= 0.25).as("recall_ok"))
        .orderBy("vec_id")
    }),

    // Multimodal near-dup: aHash + pigeonhole hamming pairs over the
    // encoded-image table with ids<60 images re-planted under offset
    // ids — each planted copy must pair with its source at dist 0.
    // Planted-duplicate recovery through the full decode → aHash →
    // pigeonhole-bucket → verify pipeline: every image with media_id <
    // 60 is copied byte-identically to id+1e6, so each planted pair
    // MUST surface at Hamming distance 0. The output is the per-plant
    // verdict — deterministic and DuckDB-expressible (the oracle
    // enumerates the planted ids from `documents`; the pixel pipeline
    // itself can't run in SQL, its effect is what's checked). A broken
    // hash/bucket path drops `recovered` to false and fails the hash.
    "q72_image_dup_pairs" -> ((s, d) => {
      val media = Multimodal.syntheticEncodedMedia(Tables.documents(s, d))
      val planted = media
        .filter(col("modality") === "image" && col("media_id") < 60)
        .withColumn("media_id", col("media_id") + 1000000L)
      val pairs = Multimodal.imageDupPairs(s, media.unionByName(planted))
      val expected = Tables.documents(s, d)
        .filter(col("doc_id") % 3 === 0 && col("doc_id") < 60)
        .select(col("doc_id").as("id_a"),
          (col("doc_id") + 1000000L).as("id_b"))
      expected.join(pairs, Seq("id_a", "id_b"), "left")
        .select(col("id_a"), col("id_b"),
          col("dist").isNotNull.as("recovered"),
          coalesce(col("dist"), lit(-1)).as("dist"))
    }),

    // Distributed Lloyd k-means with the dual-route argmin audit and
    // Lloyd-monotonicity invariant (booleans oracle-pinned TRUE; the
    // centroid table itself has no SQL analog).
    "q134_kmeans" -> ((s, d) =>
      Similarity.kMeansAssign(s, Tables.embeddings(s, d), k = 8, iters = 5)
        .orderBy("vec_id")),

    // Per-dimension embedding drift between the even/odd vec_id halves
    // (reference vs candidate batch): the feature-drift monitor a
    // production embedding pipeline runs on every refresh. One
    // posexplode + one (dim)-keyed aggregate — 64 output rows
    // regardless of corpus size. Exact oracle.
    "q171_embedding_drift" -> ((s, d) => {
      val x = Tables.embeddings(s, d)
        .select((col("vec_id") % 2 === 0).as("_a"),
          posexplode(col("embedding")).as(Seq("pos", "_v")))
      x.groupBy("pos").agg(
          round(avg(when(col("_a"), col("_v"))), 6).as("mean_ref"),
          round(avg(when(!col("_a"), col("_v"))), 6).as("mean_cand"))
        .withColumn("abs_diff",
          round(abs(col("mean_ref") - col("mean_cand")), 6))
        .withColumn("drifted", col("abs_diff") > 0.1)
        .orderBy("pos")
    }),

    // Contrastive-pair mining on the labeled embeddings (hardest
    // negative / hardest positive / margin per anchor — the triplet-
    // loss data-prep step). Exact oracle over the bounded anchor set.
    "q170_contrastive" -> ((s, d) =>
      Similarity.contrastiveMining(
        Tables.embeddings(s, d).filter(col("vec_id") < 100))
        .orderBy("aid")),

    // Int8 scalar-quantization codec (FAISS SQ8 family) over the FULL
    // corpus: every (vector, dim) code is exact double arithmetic both
    // engines replay, plus the half-step reconstruction contract. The
    // plan is one dim-bounded stats aggregate + a narrow encode map —
    // no corpus shuffle at any scale.
    "q200_sq8_codec" -> ((s, d) =>
      Similarity.sqQuantizeAudit(s, Tables.embeddings(s, d))
        .orderBy("vec_id", "pos")),

    // Matryoshka truncation audit: exact top-5 under the first-16-dim
    // prefix vs the full 64-dim top-5, per-query overlap on the capped
    // query universe — the measured recall of storing 1/4 of every
    // embedding (Kusupati et al. 2022). Exact oracle: DuckDB replays
    // both brute top-k sets (q29 rounding discipline) and the count.
    "q201_matryoshka" -> ((s, d) =>
      Similarity.matryoshkaRecallAudit(s, Tables.embeddings(s, d),
        dims = 16, k = 5, nQueries = 50)),

    // IVF search over the INGEST-ASSIGNED index frame (the IvfStream
    // route: frozen quantizer, stateless assignment, list-partitioned
    // accumulated index, probed-list partition pruning) — same
    // quantizer and assignment arithmetic as q41's batch operator, so
    // rows are identical by the PipelineSpec route pin; the audit
    // re-measures recall against the brute twin anyway and enforces
    // q41's floor.
    "q204_ivf_index_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val centers = Similarity.ivfTrainCentroids(s, e, nLists = 8)
      val index = graft.streaming.IvfStream.assignOnIngest(e, centers)
      val ivf = Similarity.ivfTopKFromIndex(s, e, index, centers,
        k = 5, nProbe = 3).cache()
      val (bruteFull, nb) = BruteTruth.topK(s, d)
      val brute = bruteFull.select("qid", "rid")
      val nh = ivf.filter(col("qid") < 50).select("qid", "rid")
        .join(brute, Seq("qid", "rid"), "left_semi").count()
      val recall = if (nb == 0) 1.0 else nh.toDouble / nb
      annTopKAudit(e, ivf, k = 5, recall, floor = 0.55)
    }),

    // Matryoshka TWO-STAGE retrieval (the operator q201's audit
    // measures for): 32-dim prefix shortlist of 50 → exact full-dim
    // re-rank. EXACT oracle — DuckDB replays the whole two-stage
    // trajectory (prefix row_number shortlist, full-dim re-rank, q29
    // rounding discipline) AND the global recall-vs-brute boolean.
    // Operating point from ProbeAnnRecall (r9): dims=32/shortlist=50
    // measures recall@5 0.776 (sf0.01) / 0.672 (sf0.1) on the
    // NEAR-RANDOM synthetic embeddings — a structural cap: a random
    // prefix carries ~sqrt(dims/dim) of the cosine signal, where an
    // MRL-TRAINED embedding packs most of it into the prefix
    // (Kusupati et al. 2022). dims=16 measured 0.29-0.58, under the
    // floor. 0.55 separates working from broken (a prefix-ignoring
    // bug reads ~0; a shortlist bug fails k_ok/row-count first).
    "q202_matryoshka_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val qs = e.filter(col("vec_id") < 50)
      val two = Similarity.matryoshkaTopK(qs, e, k = 5, dims = 32,
        shortlist = 50).cache()
      val (bruteFull, nb) = BruteTruth.topK(s, d)
      val brute = bruteFull.select("qid", "rid")
      val nh = two.select("qid", "rid")
        .join(brute, Seq("qid", "rid"), "left_semi").count()
      val recall = if (nb == 0) 1.0 else nh.toDouble / nb
      two.withColumn("recall_ok", lit(recall >= 0.55)).orderBy("qid", "rn")
    }),

    // SQ8-compressed retrieval (the SqCodec consumer): int8-code
    // shortlist by asymmetric cosine → exact re-rank. EXACT oracle:
    // DuckDB re-derives the codes (the q200 algebra), decodes them,
    // replays the asymmetric shortlist and the full re-rank. 255-level
    // codes are near-faithful, so recall@5 measures 1.000 at BOTH
    // sf0.01 and sf0.1 even at shortlist=10 (ProbeAnnRecall r9);
    // floor 0.9 — any quantization or decode drift collapses it.
    "q203_sq_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val qs = e.filter(col("vec_id") < 50)
      val sq = Similarity.sqTopK(s, qs, e, k = 5, shortlist = 10).cache()
      val (bruteFull, nb) = BruteTruth.topK(s, d)
      val brute = bruteFull.select("qid", "rid")
      val nh = sq.select("qid", "rid")
        .join(brute, Seq("qid", "rid"), "left_semi").count()
      val recall = if (nb == 0) 1.0 else nh.toDouble / nb
      sq.withColumn("recall_ok", lit(recall >= 0.9)).orderBy("qid", "rn")
    }),

    // Matryoshka-IVF two-stage (the production geometry q202's exact
    // prefix scan is the audit for — r9 verdict #1): IVF probe on the
    // 32-dim PREFIX index (built once, probed per query; on disk the
    // list partitioning makes the probe read nProbe/nLists of dims/dim
    // of the bytes — PlanSpec pins the pruning) → exact full-dim
    // re-rank. Invariant oracle (the q204 pattern): the rid set
    // depends on k-means lists no SQL engine replays, so the contract
    // booleans + the enforced recall floor gate instead. Operating
    // point from ProbeAnnRecall (r10): nLists=8/nProbe=6/shortlist=50
    // measures recall@5 0.752 (sf0.01) / 0.656 (sf0.1) — recall
    // compounds prefix truncation × probe coverage, so it tracks
    // q202's 0.776/0.672 prefix-only ceiling from below; floor 0.55.
    "q205_mrl_ivf_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val (centers, index) = Similarity.matryoshkaIvfBuildIndex(s, e,
        dims = 32, nLists = 8)
      val two = Similarity.matryoshkaIvfTopKFromIndex(s, e, index, centers,
        e, k = 5, dims = 32, shortlist = 50, nProbe = 6).cache()
      val (bruteFull, nb) = BruteTruth.topK(s, d)
      val brute = bruteFull.select("qid", "rid")
      val nh = two.filter(col("qid") < 50).select("qid", "rid")
        .join(brute, Seq("qid", "rid"), "left_semi").count()
      val recall = if (nb == 0) 1.0 else nh.toDouble / nb
      annTopKAudit(e, two, k = 5, recall, floor = 0.55)
    }),

    // IVF-SQ8 (the faiss `IVF,SQ8` composition): coarse inverted lists
    // whose entries are int8 codes — 4× smaller stored side, probed
    // lists scanned by the asymmetric cosine, exact re-rank. Invariant
    // oracle (the q204/q205 pattern). Operating point from
    // ProbeAnnRecall (r10): nLists=8/nProbe=6/shortlist=10 measures
    // recall@5 0.920 (sf0.01) / 0.928 (sf0.1) — coverage-bound (the
    // 255-level codes are near-faithful, the q203 finding, so recall
    // is the IVF probe term); floor 0.7.
    "q206_ivfsq_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val (centers, codec, index) = Similarity.ivfSqBuildIndex(s, e,
        nLists = 8)
      val sq = Similarity.ivfSqTopKFromIndex(s, e, index, centers, codec,
        e, k = 5, shortlist = 10, nProbe = 6).cache()
      val (bruteFull, nb) = BruteTruth.topK(s, d)
      val brute = bruteFull.select("qid", "rid")
      val nh = sq.filter(col("qid") < 50).select("qid", "rid")
        .join(brute, Seq("qid", "rid"), "left_semi").count()
      val recall = if (nb == 0) 1.0 else nh.toDouble / nb
      annTopKAudit(e, sq, k = 5, recall, floor = 0.7)
    }),

    // Index-MAINTENANCE cycle audit (r11): the offline helpers a
    // long-running ingest schedules, gated per run as contract
    // booleans — the q204/q205 invariant-oracle posture applied to
    // the operational surface instead of a retrieval rung. One row:
    //  - refresh_eq_fresh: reassignSq over a two-trigger accrued codes
    //    index ≡ a fresh encode under the epoch-B quantizers (codes
    //    are lossy, so the refresh re-encodes from the corpus);
    //  - refresh_valve_ok: refs missing an indexed id REFUSE loudly
    //    and leave the live index untouched;
    //  - compact_preserves: compactCodesIndex keeps the exact code
    //    set while collapsing trigger litter to batch=-1;
    //  - heal_ok: a crash between the swap's two renames (live moved
    //    aside with its completion marker) self-heals on next read;
    //  - pq_refresh_eq_fresh: ivfPqRefreshIndex's whole-directory
    //    swap ≡ a fresh ivfPqBuildIndex under the new seed;
    //  - staleness_rises / staleness_resets: the quantizerStaleness
    //    signal moves the way the reassign scheduling loop needs.
    "q207_index_maint" -> ((s, d) => {
      import graft.streaming.IvfStream
      // index-lifecycle audits read the RAW (unspread) table: their
      // cost is ~130 tiny orchestration stages and partitionBy index
      // writes, and a spread source multiplies index-file counts and
      // per-stage task counts (measured +15-17 cpu-s each) for no wall
      // gain — the opposite trade of the scan-heavy top-k family
      val e = Tables(s, d, "embeddings")
      val root = graft.util.TempRoots.create(s, "graft_q207")
      def codeRows(df: DataFrame): Set[(Long, Seq[Byte], Int)] =
        df.collect().map(r => (r.getLong(0),
          r.getAs[Array[Byte]](1).toSeq, r.getInt(2))).toSet
      // every frame in this audit is bounded by the embeddings table,
      // so the whole cycle runs data-sized (guide §2.1: cluster-width
      // shuffles on KB-scale probe frames are pure per-task overhead;
      // the count is one cheap stats job). Every action inside is
      // eager, the returned 1-row frame shuffles nothing.
      graft.util.Iterate.withSizedShuffle(s, e.count()) {
      // shared epoch-A quantizers, trained once up front as before
      val centersA = Similarity.ivfTrainCentroids(s, e, nLists = 8,
        seed = 42)
      val codecA = Similarity.sqTrain(s, e.filter(col("vec_id") % 2 === 0))
      val drifted = e.select(col("vec_id"),
        transform(col("embedding"), x => x + lit(3.0f)).as("embedding"))
      // staleness under epoch A: healthy vs a shifted distribution —
      // two independent one-row aggregates, read in ONE action (the
      // per-reading mean_d2 values are computed by the identical
      // subplans; only the job count changes)
      val staleByTag = IvfStream.quantizerStaleness(e, centersA)
        .withColumn("_t", lit(0))
        .unionByName(IvfStream.quantizerStaleness(drifted, centersA)
          .withColumn("_t", lit(1)))
        .collect().map(r => r.getInt(4) -> r.getDouble(1)).toMap
      val healthy = staleByTag(0)
      val shiftedD2 = staleByTag(1)
      // The four audit arms below operate on DISJOINT directories and
      // state ($root/idx, $root/pq, $root/p, $root/c + the pure-frame
      // staleness reset), so they run as concurrent jobs (guide §2.6):
      // each arm's audited write→probe→mutate→re-probe SEQUENCE is
      // byte-identical to the sequential form — only independent arms
      // overlap, hiding the per-micro-job driver latency that
      // dominated this query (~130 tiny stages, no stage above ~2 s).
      // ARM 1: the epoch-A→B codes-index maintenance cycle.
      def cycleArm(): (Boolean, Boolean, Boolean, Boolean) = {
        // epoch A: codes accrue across two triggers
        IvfStream.assignAndEncodeOnIngest(
            e.filter(col("vec_id") % 2 === 0), centersA, codecA)
          .write.partitionBy("list").mode("overwrite")
          .parquet(s"$root/idx/batch=0")
        IvfStream.assignAndEncodeOnIngest(
            e.filter(col("vec_id") % 2 =!= 0), centersA, codecA)
          .write.partitionBy("list").mode("overwrite")
          .parquet(s"$root/idx/batch=1")
        // the valve BEFORE the refresh: incomplete refs refuse and the
        // live index is untouched
        val beforeValve = codeRows(IvfStream.readCodesIndex(s, s"$root/idx"))
        val centersB = Similarity.ivfTrainCentroids(s, e, nLists = 8,
          seed = 7)
        val codecB = Similarity.sqTrain(s, e)
        val valveOk = (try {
          IvfStream.reassignSq(s, s"$root/idx",
            e.filter(col("vec_id") =!= 3), centersB, codecB)
          false
        } catch { case _: IllegalArgumentException => true }) &&
          codeRows(IvfStream.readCodesIndex(s, s"$root/idx")) == beforeValve
        // epoch B refresh ≡ fresh encode
        IvfStream.reassignSq(s, s"$root/idx", e, centersB, codecB)
        val refreshEq =
          codeRows(IvfStream.readCodesIndex(s, s"$root/idx")) ==
            codeRows(IvfStream.assignAndEncodeOnIngest(e, centersB, codecB))
        // one more trigger of NEW arrivals, then compaction
        IvfStream.assignAndEncodeOnIngest(
            e.select((col("vec_id") + 10000000L).as("vec_id"),
              col("embedding")), centersB, codecB)
          .write.partitionBy("list").mode("overwrite")
          .parquet(s"$root/idx/batch=2")
        val beforeCompact = codeRows(IvfStream.readCodesIndex(s, s"$root/idx"))
        IvfStream.compactCodesIndex(s, s"$root/idx")
        val compactOk =
          codeRows(IvfStream.readCodesIndex(s, s"$root/idx")) == beforeCompact
        // crash between the two renames self-heals on the next read
        val fs = graft.util.SmallFiles.fsOf(s,
          new org.apache.hadoop.fs.Path(root))
        fs.rename(new org.apache.hadoop.fs.Path(s"$root/idx"),
          new org.apache.hadoop.fs.Path(s"$root/idx.old"))
        graft.util.SmallFiles.touch(fs,
          new org.apache.hadoop.fs.Path(s"$root/idx.old.complete"))
        val healOk =
          codeRows(IvfStream.readCodesIndex(s, s"$root/idx")) == beforeCompact
        (refreshEq, valveOk, compactOk, healOk)
      }
      // ARM 2: persisted IVF-PQ refresh ≡ fresh build under the new
      // seed. The two exceptAll emptiness checks collapse into one
      // action (their union is empty iff both are).
      def pqArm(): Boolean = {
        Similarity.ivfPqWriteIndex(s, e, s"$root/pq", nLists = 8, m = 16,
          nCodes = 32, seed = 42)
        Similarity.ivfPqRefreshIndex(s, e, s"$root/pq", nLists = 8, m = 16,
          nCodes = 32, seed = 7)
        val (rm, rcodes) = Similarity.ivfPqReadIndex(s, s"$root/pq")
        val (fm, fcodes) = Similarity.ivfPqBuildIndex(s, e, nLists = 8,
          m = 16, nCodes = 32, seed = 7)
        rm.centers.zip(fm.centers).forall(p => p._1.sameElements(p._2)) &&
          rcodes.exceptAll(fcodes).unionByName(fcodes.exceptAll(rcodes))
            .isEmpty
      }
      // ARM 3: staleness resets after a retrain on the drifted
      // distribution (pure frames, no directory state).
      def resetArm(): Double = {
        val centersR = Similarity.ivfTrainCentroids(s, drifted, nLists = 8)
        IvfStream.quantizerStaleness(drifted, centersR)
          .collect()(0).getDouble(1)
      }
      // ARM 4: staleness-DRIVEN policy (r11 verdict #5): the r11c
      // drift/reset cycle hands-free on a bounded slice — a healthy
      // log reading must NOT fire maintain; a drifted reading must
      // fire it (full retrain on the index's own contents + reassign +
      // log cleared), after which the signal sits back under threshold
      // and the next call no-ops.
      def policyArm(): Boolean = {
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sessionState.newHadoopConf())
        val esub = e.filter(col("vec_id") < 2000)
        val dsub = drifted.filter(col("vec_id") < 2000)
        IvfStream.assignOnIngest(dsub, centersA)
          .write.partitionBy("list").mode("overwrite")
          .parquet(s"$root/p/idx/batch=0")
        IvfStream.quantizerStaleness(esub, centersA).coalesce(1)
          .write.mode("overwrite").parquet(s"$root/p/log/batch=0")
        val policy = IvfStream.MaintainPolicy(meanD2Max = healthy * 2)
        val (repCalm, _) = IvfStream.maintain(s, s"$root/p/idx",
          s"$root/p/log", centersA, policy)
        IvfStream.quantizerStaleness(dsub, centersA).coalesce(1)
          .write.mode("overwrite").parquet(s"$root/p/log/batch=1")
        val (repDrift, newC) = IvfStream.maintain(s, s"$root/p/idx",
          s"$root/p/log", centersA, policy)
        val postD2 = newC.map(c => IvfStream.quantizerStaleness(dsub, c)
          .collect()(0).getDouble(1))
        val logCleared = !fs.exists(
          new org.apache.hadoop.fs.Path(s"$root/p/log"))
        val (repAfter, _) = IvfStream.maintain(s, s"$root/p/idx",
          s"$root/p/log", newC.getOrElse(centersA), policy)
        !repCalm.fired && repDrift.fired && logCleared &&
          postD2.exists(_ < shiftedD2 / 2) && !repAfter.fired
      }
      // ARM 5: the policy gated through the STREAMED route (r13, r12
      // verdict #2): attach with maintainEvery=2 on a real file-source
      // stream — trigger 1 healthy, trigger 2 drifted, the cadence
      // check at trigger 2 consumes the log, fires, and the index
      // comes out re-listed under the retrained quantizer, hands-free
      def cadenceArm(): Boolean = {
        val base = e.filter(col("vec_id") < 1000)
          .select("vec_id", "embedding")
        val dsub2 = drifted.filter(col("vec_id") < 1000)
          .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
        base.coalesce(1).write.mode("overwrite").parquet(s"$root/c/in")
        val reports = scala.collection.mutable.ArrayBuffer
          .empty[IvfStream.MaintainReport]
        val q = IvfStream.attach(
          s.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", "1").parquet(s"$root/c/in"),
          centersA, indexDir = s"$root/c/idx",
          checkpointDir = s"$root/c/ckpt",
          stalenessDir = Some(s"$root/c/stale"),
          maintainEvery = Some(2),
          maintainPolicy = Some(IvfStream.MaintainPolicy(
            meanD2Max = healthy * 2)),
          onMaintain = r => { reports += r; () })
        q.processAllAvailable()
        dsub2.coalesce(1).write.mode("append").parquet(s"$root/c/in")
        q.processAllAvailable()
        q.stop()
        // the cadence fires at trigger 2 BEFORE its batch write (r14,
        // r13 ADVICE idempotency order): the retrain sees the INDEX —
        // trigger 1's rows only — and trigger 2 then lands already
        // assigned under the refreshed quantizer
        val expectC = Similarity.ivfTrainCentroids(s, base, nLists = 8)
        val idx = IvfStream.readIndex(s, s"$root/c/idx")
        val want = IvfStream.assignOnIngest(base.unionByName(dsub2),
          expectC)
        reports.toList.map(_.fired) == List(true) &&
          idx.exceptAll(want).unionByName(want.exceptAll(idx)).isEmpty
      }
      val Seq((refreshEq: Boolean, valveOk: Boolean, compactOk: Boolean,
        healOk: Boolean), pqEq: Boolean, resetD2: Double,
        Seq(policyFired: Boolean, cadenceFired: Boolean)) =
        Concurrent.all(s)(() => cycleArm(), () => pqArm(), () => resetArm(),
          () => Concurrent.all(s)(() => policyArm(), () => cadenceArm()))
      import s.implicits._
      Seq((refreshEq, valveOk, compactOk, healOk, pqEq,
        shiftedD2 > healthy * 2, resetD2 < shiftedD2 / 2, policyFired,
        cadenceFired))
        .toDF("refresh_eq_fresh", "refresh_valve_ok", "compact_preserves",
          "heal_ok", "pq_refresh_eq_fresh", "staleness_rises",
          "staleness_resets", "policy_fired", "cadence_fired")
      }
    }),

    // Index DELETION cycle audit (r12, r11 verdict #1): the takedown /
    // right-to-be-forgotten path, gated end-to-end as contract
    // booleans (the q207 posture) —
    //  - delete_removes: post-delete the index holds none of the
    //    deleted ids and no probe ever returns one;
    //  - survivors_identical: probes over the rewritten directory ≡
    //    the same probe over the in-memory index minus the deleted
    //    rows (byte-identical results for every surviving ref);
    //  - untouched_leaves_ok: leaf partitions holding no deleted row
    //    keep their exact files — the cost-tracks-deleted-partitions
    //    contract made physical;
    //  - cost_tracks_deleted: the report counts exactly the doomed
    //    rows/leaves and rewrote a strict subset of the index;
    //  - readd_searchable: the deleted vectors re-arrive as a new
    //    trigger partition and are immediately searchable (each
    //    original vector finds its re-added copy at cosine 1).
    "q212_index_delete" -> ((s, d) => {
      import graft.streaming.{IndexDelete, IvfStream}
      import org.apache.hadoop.fs.Path
      // index-lifecycle audits read the RAW (unspread) table: their
      // cost is ~130 tiny orchestration stages and partitionBy index
      // writes, and a spread source multiplies index-file counts and
      // per-stage task counts (measured +15-17 cpu-s each) for no wall
      // gain — the opposite trade of the scan-heavy top-k family
      val e = Tables(s, d, "embeddings")
      val root = graft.util.TempRoots.create(s, "graft_q212")
      // data-sized shuffles for the whole cycle (the q207 note): every
      // frame here is bounded by the embeddings table
      graft.util.Iterate.withSizedShuffle(s, e.count()) {
      val centers = Similarity.ivfTrainCentroids(s, e, nLists = 8)
      IvfStream.assignOnIngest(e.filter(col("vec_id") % 2 === 0), centers)
        .write.partitionBy("list").mode("overwrite")
        .parquet(s"$root/idx/batch=0")
      IvfStream.assignOnIngest(e.filter(col("vec_id") % 2 =!= 0), centers)
        .write.partitionBy("list").mode("overwrite")
        .parquet(s"$root/idx/batch=1")
      val doomed = Seq(1L, 2L, 5L, 8L, 13L)
      val fs = new Path(root).getFileSystem(s.sessionState.newHadoopConf())
      def files(dir: String): Set[(String, Long)] = {
        val it = fs.listFiles(new Path(dir), true)
        val b = Set.newBuilder[(String, Long)]
        while (it.hasNext) {
          val f = it.next(); b += ((f.getPath.toString, f.getLen))
        }
        b.result()
      }
      val doomedLeaves = IvfStream.readIndex(s, s"$root/idx")
        .filter(col("vec_id").isin(doomed: _*))
        .select((col("vec_id") % 2).cast("int").as("b"), col("list"))
        .distinct().collect().map(r => (r.getInt(0), r.getInt(1))).toSet
      def untouchedFiles(): Set[(String, Long)] = (for {
        b <- 0 to 1; l <- centers.indices
        if !doomedLeaves.contains((b, l)) &&
          fs.exists(new Path(s"$root/idx/batch=$b/list=$l"))
      } yield files(s"$root/idx/batch=$b/list=$l")).flatten.toSet
      val untouchedBefore = untouchedFiles()
      val qs = e.filter(col("vec_id") < 50)
      // the on-disk delete (mutates $root/idx) and the in-memory
      // expected-survivors probe share no state — run them as two
      // concurrent jobs (guide §2.6; ivfTopKFromIndex materializes its
      // own output eagerly, so the arm's work completes inside it)
      val Seq(report: IndexDelete.DeleteReport, want: DataFrame @unchecked) =
        Concurrent.all(s)(
          () => IndexDelete.deleteIds(s, s"$root/idx", doomed, "vec_id"),
          () => Similarity.ivfTopKFromIndex(s, qs,
            IvfStream.assignOnIngest(e, centers)
              .filter(!col("vec_id").isin(doomed: _*)),
            centers, k = 5, nProbe = 3))
      val after = IvfStream.readIndex(s, s"$root/idx")
      val got = Similarity.ivfTopKFromIndex(s, qs, after, centers,
        k = 5, nProbe = 3).cache()
      // paired emptiness probes collapse into ONE action each: a union
      // is empty iff every leg is (the audited predicates are unchanged)
      val deleteRemoves =
        after.filter(col("vec_id").isin(doomed: _*)).select(lit(1).as("_w"))
          .unionByName(got.filter(col("rid").isin(doomed: _*))
            .select(lit(1).as("_w")))
          .isEmpty
      val survivorsIdentical =
        got.exceptAll(want).unionByName(want.exceptAll(got)).isEmpty
      val untouchedOk = untouchedFiles() == untouchedBefore
      val costOk = report.rowsDeleted == doomed.length &&
        report.partitionsRewritten == doomedLeaves.size &&
        report.partitionsRewritten < report.partitionsTotal
      IvfStream.assignOnIngest(
          e.filter(col("vec_id").isin(doomed: _*))
            .select((col("vec_id") + 20000000L).as("vec_id"),
              col("embedding")), centers)
        .write.partitionBy("list").mode("overwrite")
        .parquet(s"$root/idx/batch=2")
      val reProbe = Similarity.ivfTopKFromIndex(s,
        e.filter(col("vec_id").isin(doomed: _*)),
        IvfStream.readIndex(s, s"$root/idx"), centers, k = 1, nProbe = 1)
      val readdOk = reProbe
        .filter(col("rid") === col("qid") + 20000000L)
        .count() == doomed.length
      // concurrent_read_ok (r13, r12 verdict #1): enroll the index in
      // the snapshot manifest, pin a reader, delete MORE ids while the
      // pin is held — the pinned plan must read byte-stable pre-delete
      // data (its leaves are retained, not swapped), while the current
      // generation excludes the newly deleted ids. This is the
      // takedown-while-serving scenario q214 implies, gated here.
      val concurrentReadOk = {
        import graft.streaming.IndexManifest
        IndexManifest.enroll(s, s"$root/idx")
        val pinned = IndexManifest.pin(s, s"$root/idx")
        val pinnedDf = IndexManifest.readSnapshot(s, s"$root/idx", pinned)
          .get.select("vec_id", "list")
        val before = pinnedDf.collect().map(r => (r.getLong(0), r.getInt(1)))
          .toSet
        val doomed2 = Seq(4L, 6L, 9L)
        IndexDelete.deleteIds(s, s"$root/idx", doomed2, "vec_id")
        val stable = pinnedDf.collect()
          .map(r => (r.getLong(0), r.getInt(1))).toSet == before
        val current = IvfStream.readIndex(s, s"$root/idx")
        stable &&
          current.filter(col("vec_id").isin(doomed2: _*)).count() == 0L &&
          IndexManifest.vacuum(s, s"$root/idx") > 0 &&
          IvfStream.readIndex(s, s"$root/idx")
            .filter(col("vec_id").isin(doomed2: _*)).count() == 0L
      }
      import s.implicits._
      Seq((deleteRemoves, survivorsIdentical, untouchedOk, costOk, readdOk,
        concurrentReadOk))
        .toDF("delete_removes", "survivors_identical",
          "untouched_leaves_ok", "cost_tracks_deleted", "readd_searchable",
          "concurrent_read_ok")
      }
    }),

    // SNAPSHOT-manifest lifecycle audit (r13, r12 verdict #1): the
    // Iceberg-style manifest layer that turns the crash-safe
    // maintenance ops into CONCURRENT-READER-safe ones. Contract
    // booleans over one enroll → pin → delete → compact → vacuum
    // cycle on the streamed-float layout:
    //  - pinned_stable: a reader pinned to the pre-delete generation
    //    re-reads byte-identical rows while the delete AND a
    //    compaction install underneath it (its leaves are retained,
    //    never renamed or swapped);
    //  - current_excludes: the post-delete generation holds none of
    //    the deleted ids and equals the in-memory minus-doomed twin;
    //  - probe_parity: an ivfTopKFromIndex probe over the current
    //    generation ≡ the same probe over the in-memory twin;
    //  - gen_monotone: every commit advances the generation, and the
    //    rewrite batch ids derived from it never collide;
    //  - vacuum_reclaims: vacuum removes the retired generation's
    //    leaves (reclaim > 0) and an orphan rewrite directory, while
    //    the live generation re-reads bit-identically after it;
    //  - refresh_pin_ok (r14): quantizer epochs are versioned with the
    //    manifest generation — a probe pinned before a quantizer
    //    refresh replays byte-identically under the OLD model+leaves
    //    while the current generation serves the new.
    "q215_snapshot_index" -> ((s, d) => {
      import graft.streaming.{IndexDelete, IndexManifest, IvfStream}
      import org.apache.hadoop.fs.Path
      // bounded fixture slice: this audit gates the snapshot CONTRACTS
      // (booleans), not scale — ProbeDeleteScale carries the n=1M
      // measurement, and an unbounded slice made the sf0.1 bench row
      // pay ~55 s for no extra contract coverage
      // index-lifecycle audits read the RAW (unspread) table: their
      // cost is ~130 tiny orchestration stages and partitionBy index
      // writes, and a spread source multiplies index-file counts and
      // per-stage task counts (measured +15-17 cpu-s each) for no wall
      // gain — the opposite trade of the scan-heavy top-k family
      val e = Tables(s, d, "embeddings").filter(col("vec_id") < 20000)
      val root = graft.util.TempRoots.create(s, "graft_q215")
      // data-sized shuffles for the whole cycle (the q207 note): every
      // frame here is bounded by the embeddings slice
      graft.util.Iterate.withSizedShuffle(s, e.count()) {
      val centers = Similarity.ivfTrainCentroids(s, e, nLists = 8)
      val qs = e.filter(col("vec_id") < 50)
      // ARM 1: the manifest lifecycle on $root/idx — enroll → pin →
      // delete → compact → vacuum, the audited sequence unchanged.
      // Paired emptiness probes collapse into ONE action each (a union
      // is empty iff every leg is).
      def manifestArm(): (Boolean, Boolean, Boolean, Boolean, Boolean) = {
        IvfStream.assignOnIngest(e.filter(col("vec_id") % 2 === 0), centers)
          .write.partitionBy("list").mode("overwrite")
          .parquet(s"$root/idx/batch=0")
        IvfStream.assignOnIngest(e.filter(col("vec_id") % 2 =!= 0), centers)
          .write.partitionBy("list").mode("overwrite")
          .parquet(s"$root/idx/batch=1")
        val g0 = IndexManifest.enroll(s, s"$root/idx")
        val pinned = IndexManifest.pin(s, s"$root/idx")
        val pinnedDf = IndexManifest.readSnapshot(s, s"$root/idx", pinned)
          .get.select("vec_id", "list")
        def snapRows(): Set[(Long, Int)] = pinnedDf.collect()
          .map(r => (r.getLong(0), r.getInt(1))).toSet
        val before = snapRows()
        val doomed = Seq(1L, 2L, 5L, 8L, 13L)
        IndexDelete.deleteIds(s, s"$root/idx", doomed, "vec_id")
        val stableAfterDelete = snapRows() == before
        IvfStream.compactIndex(s, s"$root/idx")
        val pinnedStable = stableAfterDelete && snapRows() == before
        val current = IvfStream.readIndex(s, s"$root/idx").cache()
        val want = IvfStream.assignOnIngest(e, centers)
          .filter(!col("vec_id").isin(doomed: _*))
        val currentExcludes =
          current.filter(col("vec_id").isin(doomed: _*))
            .select(lit(1).as("_w"))
            .unionByName(current.exceptAll(want).select(lit(1).as("_w")))
            .unionByName(want.exceptAll(current).select(lit(1).as("_w")))
            .isEmpty
        val got = Similarity.ivfTopKFromIndex(s, qs, current, centers,
          k = 5, nProbe = 3)
        val wantProbe = Similarity.ivfTopKFromIndex(s, qs, want, centers,
          k = 5, nProbe = 3)
        val probeParity = got.exceptAll(wantProbe)
          .unionByName(wantProbe.exceptAll(got)).isEmpty
        val g2 = IndexManifest.pin(s, s"$root/idx")
        val genMonotone = g0.gen == 0L && g2.gen == 2L &&
          g2.leaves.nonEmpty && g2.leaves.toSet != pinned.leaves.toSet
        // a forged crashed rewrite: data written, never committed
        IvfStream.assignOnIngest(e.filter(col("vec_id") < 5), centers)
          .write.partitionBy("list").mode("overwrite")
          .parquet(s"$root/idx/batch=-777")
        val fs = new Path(root).getFileSystem(s.sessionState.newHadoopConf())
        val currentRows = current.collect().length
        val removed = IndexManifest.vacuum(s, s"$root/idx", keepGens = 1)
        // default vacuum keeps the uncommitted orphan (a pending replay
        // may be mid-flight on it — r14 verdict #3); pendingOk reclaims
        val vacuumReclaims = removed > 0 &&
          fs.exists(new Path(s"$root/idx/batch=-777")) &&
          IndexManifest.vacuum(s, s"$root/idx", keepGens = 1,
            pendingOk = true) > 0 &&
          !fs.exists(new Path(s"$root/idx/batch=-777")) &&
          IvfStream.readIndex(s, s"$root/idx").collect().length ==
            currentRows &&
          IndexManifest.pin(s, s"$root/idx").gen == g2.gen
        (pinnedStable, currentExcludes, probeParity, genMonotone,
          vacuumReclaims)
      }
      // ARM 2: refresh_pin_ok (r14, r13 verdict #1): quantizer epochs
      // are versioned WITH the manifest generation (ModelStore), so a
      // probe pinned BEFORE a quantizer refresh replays byte-
      // identically under the OLD model + OLD leaves while the current
      // generation serves the retrained quantizer — previously the
      // pinned leaves were probed under the live (wrong) model.
      // Own directory ($root/pin) and pure frames otherwise — runs
      // concurrently with the manifest arm (guide §2.6), audited
      // sequence unchanged.
      def pinArm(): Boolean = {
        import graft.pipeline.VectorIndex
        // a lean fixture slice: this arm gates the epoch-resolution
        // CONTRACT, not scale — SnapshotSpec carries the full scenario
        val pe = e.filter(col("vec_id") < 4000)
        val params = VectorIndex.Params(VectorIndex.FloatTier,
          nLists = 8, nProbe = 3)
        val vi = VectorIndex.train(s, pe, params, s"$root/pin")
        vi.ingest(s, pe, 0L)
        vi.enrollSnapshots(s)
        val pinB = vi.pin(s)
        def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
          df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet
        val beforeP = rows(vi.topKPinned(s, pinB, qs, pe, 5))
        val centersB = Similarity.ivfTrainCentroids(s, pe, nLists = 8,
          seed = 7)
        IvfStream.reassign(s, s"$root/pin", centersB)
        val stablePin = rows(vi.topKPinned(s, pinB, qs, pe, 5)) == beforeP
        val wantNew = rows(Similarity.ivfTopKFromIndex(s, qs,
          IvfStream.assignOnIngest(pe, centersB), centersB, k = 5,
          nProbe = 3))
        stablePin &&
          rows(vi.topKPinned(s, vi.pin(s), qs, pe, 5)) == wantNew
      }
      val Seq((pinnedStable: Boolean, currentExcludes: Boolean,
        probeParity: Boolean, genMonotone: Boolean, vacuumReclaims: Boolean),
        refreshPinOk: Boolean) =
        Concurrent.all(s)(() => manifestArm(), () => pinArm())
      import s.implicits._
      Seq((pinnedStable, currentExcludes, probeParity, genMonotone,
        vacuumReclaims, refreshPinOk))
        .toDF("pinned_stable", "current_excludes", "probe_parity",
          "gen_monotone", "vacuum_reclaims", "refresh_pin_ok")
      }
    }),

    // Document TAKEDOWN composition (r12): the right-to-be-forgotten
    // request end-to-end over the documents table — a doc leaves
    // traces in EVERY text gate's accrued state, so forgetting it
    // means sweeping the exact-dup fingerprint index AND the near-dup
    // band-key index in one forgetDocs call. The subject's full
    // near-dup FAMILY (candidates from its band buckets verified at
    // the gate threshold — the gate's own matching rule) is forgotten
    // together, because deleting only the doc would leave its
    // siblings gating a re-arriving copy. Contract booleans:
    //  - pre_gated: before the takedown, a byte-identical copy is
    //    caught by BOTH gates (the fixture is live);
    //  - fp_forgotten: post-delete the copy's fingerprint no longer
    //    collides (the exact gate re-admits);
    //  - band_readmits: the near-dup gate keeps the copy (no family
    //    member remains to match it);
    //  - control_still_gated: a copy of a doc OUTSIDE the family is
    //    still caught by both gates — the delete touched only the
    //    family's rows;
    //  - reports_ok: the per-index DeleteReports count real rows.
    "q214_doc_takedown" -> ((s, d) => {
      import graft.streaming.{CurateStream, IndexDelete, NearDupStream}
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val root = graft.util.TempRoots.create(s, "graft_q214")
      // data-sized shuffles for the whole cycle (the q207 note): every
      // frame here is bounded by the documents table; the k=64 band
      // map keeps its numbered spread below
      graft.util.Iterate.withSizedShuffle(s, docs.count()) {
      // the three setup reads (exact-fp index write, band-key index
      // write, the takedown target row) share no state — concurrent
      // jobs (guide §2.6), each internally unchanged. The k=64 minhash
      // signature is the per-doc hot map and the doc scan is one small
      // parquet split — the spread (never AQE-coalesced) puts the
      // measured 6 s serial stage across the cluster; index CONTENT is
      // per-row md5-derived, so partitioning cannot change it
      val Seq(_, _, target: Row) = Concurrent.all(s)(
        () => docs.select(md5(col("text")).as("fp"))
          .write.mode("overwrite").parquet(s"$root/fp/batch=0"),
        () => NearDupStream.bandKeys(Tables.spread(s, d, "documents", "doc_id")
            .select("doc_id", "text"))
          .select("doc_id", "band", "bucket", "sig")
          .write.mode("overwrite").parquet(s"$root/band/batch=0"),
        () => docs.orderBy("doc_id").limit(1).collect()(0))
      import s.implicits._
      val probe = Seq((10000000L, target.getString(1))).toDF("doc_id", "text")
      val probeFp = probe.select(col("doc_id"), md5(col("text")).as("fp"))
      def fpHitF(p: DataFrame): DataFrame = p
        .join(CurateStream.readFpIndex(s, s"$root/fp"), Seq("fp"),
          "left_semi").agg(count(lit(1)).as("_c"))
      def bandKeepF(p: DataFrame): DataFrame = NearDupStream
        .dedupAgainstIndex(s, p, s"$root/band", n = 3, k = 64,
          bands = 16, threshold = 0.5)
        .filter(col("keep")).agg(count(lit(1)).as("_c"))
      // every gate probe is a one-row count — batched probes read in
      // ONE action per audit point (the counts are computed by the
      // identical subplans; only the job count changes)
      def gateCounts(legs: (String, DataFrame)*): Map[String, Long] =
        legs.map { case (tag, df) =>
          df.select(lit(tag).as("_g"), col("_c")) }
          .reduce(_.unionByName(_))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val pre = gateCounts("fp" -> fpHitF(probeFp), "band" -> bandKeepF(probe))
      val preGated = pre("fp") == 1L && pre("band") == 0L
      val idx = NearDupStream.readIndex(s, s"$root/band", k = 64)
      // materialized to the driver BEFORE the delete (bounded: one
      // doc's verified band-bucket family) — the lazy plan reads the
      // band directory the delete is about to rewrite
      val family = NearDupStream.bandKeys(probe)
        .join(idx.select(col("band"), col("bucket"),
          col("doc_id").as("_pid"), col("sig").as("_psig")),
          Seq("band", "bucket"))
        .filter(round(graft.pipeline.Dedup
          .sigJaccard(col("sig"), col("_psig")), 6) >= 0.5)
        .select(col("_pid")).distinct()
        .collect().map(_.getLong(0)).toSeq
      val controlText = docs.filter(!col("doc_id").isin(family: _*))
        .orderBy(desc("doc_id")).limit(1).collect()(0).getString(1)
      val control = Seq((20000000L, controlText)).toDF("doc_id", "text")
      val reports = IndexDelete.forgetDocs(s,
        docs.filter(col("doc_id").isin(family: _*)),
        fpIndexDir = Some(s"$root/fp"),
        bandIndexDir = Some(s"$root/band"))
      // the four post-delete gate probes (subject fp/band + control
      // fp/band) all read the post-delete indexes and share no state —
      // one batched action for all four (was four jobs)
      val post = gateCounts(
        "fp_p" -> fpHitF(probeFp), "band_p" -> bandKeepF(probe),
        "fp_c" -> fpHitF(control.select(col("doc_id"),
          md5(col("text")).as("fp"))),
        "band_c" -> bandKeepF(control))
      val fpForgotten = post("fp_p") == 0L
      val bandReadmits = post("band_p") == 1L
      val controlStillGated = post("fp_c") == 1L && post("band_c") == 0L
      val reportsOk = reports("band").rowsDeleted > 0L &&
        reports("fp").rowsDeleted >= 1L
      Seq((preGated, fpForgotten, bandReadmits, controlStillGated,
        reportsOk))
        .toDF("pre_gated", "fp_forgotten", "band_readmits",
          "control_still_gated", "reports_ok")
      }
    }),

    // Metadata-FILTERED ANN (r12, r11 verdict #4): "top-k among refs
    // WHERE label = 2" — the filter-then-search problem every
    // production vector store solves. The index is WRITTEN with the
    // label column riding inside the list partitions
    // (assignOnIngestWithMeta), read back from disk, and probed with
    // the predicate applied INSIDE the probed-list scan (PlanSpec pins
    // PartitionFilters + PushedFilters on this exact shape). Invariant
    // oracle (the q204 pattern) + filter_ok (no returned ref may
    // violate the predicate — the guarantee post-filtering a top-k
    // cannot give) + recall vs the brute-on-filtered twin. Operating
    // point from ProbeAnnRecall (r12): filtering RAISES the probe
    // count a rung needs — the allowed true neighbors sit at lower
    // cosine, spread across more lists, so nProbe=3 measures only
    // 0.524/0.532 (under q41's unfiltered 0.676 at the same probes)
    // while nProbe=6 measures 0.888 (sf0.01) / 0.884 (sf0.1);
    // floor 0.7 (the q206 margin: a probe-coverage regression to the
    // unfiltered operating point fails the gate, a broken filter or
    // shortlist reads ≈0).
    "q213_filtered_ann" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val root = graft.util.TempRoots.create(s, "graft_q213")
      val centers = Similarity.ivfTrainCentroids(s, e, nLists = 8)
      graft.streaming.IvfStream
        .assignOnIngestWithMeta(e, centers, metaCols = Seq("label"))
        .write.partitionBy("list").mode("overwrite")
        .parquet(s"$root/idx/batch=0")
      val idx = s.read.parquet(s"$root/idx")
      val pred = col("label") === 2
      val got = Similarity.ivfTopKFromIndex(s, e, idx.filter(pred),
        centers, 5, nProbe = 6).cache()
      val labels = e.select(col("vec_id").as("rid"), col("label"))
      val filterOk = got.join(labels, "rid")
        .filter(col("label") =!= 2).count() == 0L
      val brute = Similarity.bruteForceTopK(e.filter(col("vec_id") < 50),
        e.filter(pred), k = 5).select("qid", "rid")
      val nb = brute.count()
      val nh = got.filter(col("qid") < 50).select("qid", "rid")
        .join(brute, Seq("qid", "rid"), "left_semi").count()
      val recall = if (nb == 0) 1.0 else nh.toDouble / nb
      annTopKAudit(e, got, k = 5, recall, floor = 0.7)
        .withColumn("filter_ok", lit(filterOk))
    }),

    // IVF-BQ composition (r11): inverted lists whose entries are the
    // 1-bit sign codes — a probe reads nProbe/nLists of an index 32×
    // smaller than the float corpus, the cheapest composition on the
    // ladder. Invariant oracle (the q204/q205/q206 pattern: k-means
    // lists aren't SQL-replayable). ASYMMETRIC stage 1 since r12 (the
    // flat rung's r11-verdict-#3 signed-dot scoring, composed with
    // the probe pruning): ProbeAnnRecall at nLists=8/nProbe=6/
    // shortlist=80 measures recall@5 0.900 (sf0.01) / 0.816 (sf0.1)
    // vs the symmetric route's 0.784/0.636 at identical index bytes.
    // Floor 0.65 — above the symmetric ceiling, so a regression to
    // thrown-away query magnitudes fails the gate; a broken shortlist
    // reads ≈ shortlist/n ≈ 0.04.
    "q211_ivfbq_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val (centers, index) = Similarity.ivfBqBuildIndex(s, e, nLists = 8)
      val bq = Similarity.ivfBqTopKFromIndex(s, e, index, centers, e,
        k = 5, shortlist = 80, nProbe = 6, asymmetric = true).cache()
      val (bruteFull, nb) = BruteTruth.topK(s, d)
      val brute = bruteFull.select("qid", "rid")
      val nh = bq.filter(col("qid") < 50).select("qid", "rid")
        .join(brute, Seq("qid", "rid"), "left_semi").count()
      val recall = if (nb == 0) 1.0 else nh.toDouble / nb
      annTopKAudit(e, bq, k = 5, recall, floor = 0.65)
    }),

    // Binary-quantization retrieval (1-bit sign codes, 32× smaller
    // than float32 — the bottom codec-ladder rung modern vector
    // stores ship for billion-scale first passes): ASYMMETRIC stage 1
    // (r11 verdict #3 — the faiss convention: the full-precision
    // query scores dot(q, sign(r)) against the stored bits, keeping
    // the query's per-dim magnitudes at identical index bytes) +
    // exact re-rank. EXACT oracle: DuckDB re-derives every signed
    // term from the floats, replays the rounded-score shortlist
    // (score DESC, rid ASC), the exact re-rank, and the recall
    // boolean. Operating point from ProbeAnnRecall (r12):
    // shortlist=50 measures recall@5 0.912 (sf0.01) / 0.764 (sf0.1)
    // vs the symmetric route's 0.700 / 0.480 on the NEAR-RANDOM
    // synthetic vectors (true neighbors sit at cos≈0.4-0.5, where
    // 1-bit codes blur most; production near-dup targets at cos≈1
    // have near-identical sign patterns). Floor 0.5 — above the
    // symmetric ceiling, so a regression to thrown-away magnitudes
    // fails the gate, and far above the broken-shortlist reading
    // ≈ shortlist/n ≈ 0.03.
    "q210_bq_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val qs = e.filter(col("vec_id") < 50)
      val bq = Similarity.bqTopK(s, qs, e, k = 5, shortlist = 50,
        asymmetric = true).cache()
      val (bruteFull, nb) = BruteTruth.topK(s, d)
      val brute = bruteFull.select("qid", "rid")
      val nh = bq.select("qid", "rid")
        .join(brute, Seq("qid", "rid"), "left_semi").count()
      val recall = if (nb == 0) 1.0 else nh.toDouble / nb
      bq.withColumn("recall_ok", lit(recall >= 0.5)).orderBy("qid", "rn")
    }),

    // Hybrid lexical+vector retrieval via reciprocal-rank fusion
    // (Cormack et al. 2009, kRrf=60): the q70 BM25 top-20 fused with
    // the exact cosine top-20 for the vec_id-0 query vector (doc_id ≡
    // vec_id, the established alignment). EXACT oracle: DuckDB replays
    // the BM25 ranks (the q70 replica), the vector ranks (the q29
    // pattern), the full-outer rank join, the 1/(60+rank) sum, and the
    // rounded-score fused ordering.
    "q208_hybrid_rrf" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val lex = graft.pipeline.TextAnalysis
        .bm25TopK(Tables.documents(s, d), "spark table join", k = 20)
        .withColumn("rank_a", row_number().over(Window
          .partitionBy(lit(0)) // ≤20 rows by construction
          .orderBy(col("bm25").desc, col("doc_id").asc)))
        .select(col("doc_id"), col("rank_a"))
      val e = Tables.embeddings(s, d)
      val vec = Similarity
        .bruteForceTopK(e.filter(col("vec_id") === 0), e, k = 20)
        .select(col("rid").as("doc_id"), col("rn").as("rank_b"))
      Similarity.rrfFuse(lex, vec, kRrf = 60).orderBy("fused_rank")
    }),

    // MMR diversity re-rank (Carbonell & Goldstein 1998, λ=0.7) of the
    // vec_id-0 query's exact top-20 down to 5 — the anti-redundancy
    // selection a curation/RAG pipeline runs after retrieval. EXACT
    // oracle: the greedy trajectory replays as 5 chained argmax CTEs
    // (the q184 pattern) over the same rounded cosines and the same
    // rounded composite score; the oracle casts its λ constants to
    // DOUBLE so (1 − λ) is the identical IEEE double in both engines.
    "q209_mmr_rerank" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val cands = Similarity
        .bruteForceTopK(e.filter(col("vec_id") === 0), e, k = 20)
        .select("qid", "rid", "cos")
      Similarity.mmrRerank(s, cands, e, k = 5, lambda = 0.7)
        .orderBy("mmr_rank")
    }),
  )

  def oracleSql: Map[String, String] = Map(
    // Maintenance-cycle invariant oracle: one row, every contract
    // boolean pinned TRUE (see the q207 query body — refresh ≡ fresh,
    // valve, compaction, self-heal, PQ refresh, staleness cycle).
    "q207_index_maint" ->
      """SELECT TRUE AS refresh_eq_fresh, TRUE AS refresh_valve_ok,
        |  TRUE AS compact_preserves, TRUE AS heal_ok,
        |  TRUE AS pq_refresh_eq_fresh, TRUE AS staleness_rises,
        |  TRUE AS staleness_resets, TRUE AS policy_fired,
        |  TRUE AS cadence_fired""".stripMargin,

    // Index-deletion invariant oracle: one row, every contract
    // boolean pinned TRUE (see the q212 query body — delete removes,
    // survivors byte-identical, untouched leaves untouched, cost
    // tracks deleted partitions, re-add searchable).
    "q212_index_delete" ->
      """SELECT TRUE AS delete_removes, TRUE AS survivors_identical,
        |  TRUE AS untouched_leaves_ok, TRUE AS cost_tracks_deleted,
        |  TRUE AS readd_searchable, TRUE AS concurrent_read_ok""".stripMargin,

    // Snapshot-manifest invariant oracle: one row, every contract
    // boolean pinned TRUE (see the q215 query body — pinned reads
    // byte-stable under delete+compaction, current generation exact,
    // probe parity, generation monotonicity, vacuum reclaim).
    "q215_snapshot_index" ->
      """SELECT TRUE AS pinned_stable, TRUE AS current_excludes,
        |  TRUE AS probe_parity, TRUE AS gen_monotone,
        |  TRUE AS vacuum_reclaims, TRUE AS refresh_pin_ok""".stripMargin,

    // Document-takedown invariant oracle: one row, every contract
    // boolean pinned TRUE (see the q214 query body — both gates catch
    // the copy pre-delete, re-admit it post-delete, a non-family
    // control stays gated, reports count real rows).
    "q214_doc_takedown" ->
      """SELECT TRUE AS pre_gated, TRUE AS fp_forgotten,
        |  TRUE AS band_readmits, TRUE AS control_still_gated,
        |  TRUE AS reports_ok""".stripMargin,

    // Filtered ANN: the q204-family contract booleans plus the
    // predicate guarantee (filter_ok) the operator enforces.
    "q213_filtered_ann" ->
      """SELECT vec_id AS qid, TRUE AS k_ok, TRUE AS distinct_ok,
        |  TRUE AS no_self_ok, TRUE AS range_ok, TRUE AS sorted_ok,
        |  TRUE AS recall_ok, TRUE AS filter_ok
        |FROM embeddings""".stripMargin,

    // IVF-OPQ: the q204-family contract booleans plus the rotation
    // orthogonality pin.
    // Delta-manifest invariant oracle: one row, every contract
    // boolean pinned TRUE (see the q217 query body — exact
    // incremental resolution, fullEvery re-anchors, replayed
    // remove+re-add keeps the leaf, vacuum keeps whole chains,
    // minAge pin horizon, duplicate-commit loud-fail).
    "q217_delta_manifest" ->
      """SELECT TRUE AS delta_resolves, TRUE AS reanchor_ok,
        |  TRUE AS replay_readd_ok, TRUE AS chain_vacuum_ok,
        |  TRUE AS min_age_ok, TRUE AS dup_commit_loud""".stripMargin,

    "q216_ivfopq_topk" ->
      """SELECT vec_id AS qid, TRUE AS k_ok, TRUE AS distinct_ok,
        |  TRUE AS no_self_ok, TRUE AS range_ok, TRUE AS sorted_ok,
        |  TRUE AS recall_ok, TRUE AS rotation_ok
        |FROM embeddings""".stripMargin,

    // IVF-BQ composition: the same per-query contract booleans.
    "q211_ivfbq_topk" ->
      """SELECT vec_id AS qid, TRUE AS k_ok, TRUE AS distinct_ok,
        |  TRUE AS no_self_ok, TRUE AS range_ok, TRUE AS sorted_ok,
        |  TRUE AS recall_ok
        |FROM embeddings""".stripMargin,

    // BQ: asymmetric stage 1 re-derived from the floats — score =
    // Σᵢ qᵢ·(rᵢ>0 ? +1 : −1), summed left-to-right in doubles and
    // rounded 6dp like the Scala loop, cut (score DESC, rid ASC) —
    // then the exact re-rank and the recall boolean (the q203 oracle
    // structure with the signed dot as stage 1).
    "q210_bq_topk" ->
      """WITH sl AS (
        |  SELECT qid, rid FROM (
        |    SELECT q.vec_id AS qid, r.vec_id AS rid,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        round(list_sum(list_transform(
        |          generate_series(1, len(q.embedding)),
        |          i -> CASE WHEN r.embedding[i] > 0
        |               THEN q.embedding[i]::DOUBLE
        |               ELSE -(q.embedding[i]::DOUBLE) END)), 6) DESC,
        |        r.vec_id ASC) AS rn
        |    FROM embeddings q JOIN embeddings r ON q.vec_id <> r.vec_id
        |    WHERE q.vec_id < 50)
        |  WHERE rn <= 50),
        |rr AS (
        |  SELECT qid, rid, cos,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY cos DESC, rid ASC) AS rn
        |  FROM (
        |    SELECT sl.qid, sl.rid,
        |      round(list_cosine_similarity(q.embedding::DOUBLE[],
        |        r.embedding::DOUBLE[]), 6) AS cos
        |    FROM sl
        |    JOIN embeddings q ON q.vec_id = sl.qid
        |    JOIN embeddings r ON r.vec_id = sl.rid)),
        |two AS (SELECT * FROM rr WHERE rn <= 5),
        |fullk AS (
        |  SELECT qid, rid FROM (
        |    SELECT q.vec_id AS qid, r.vec_id AS rid,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        round(list_cosine_similarity(q.embedding::DOUBLE[],
        |          r.embedding::DOUBLE[]), 6) DESC, r.vec_id ASC) AS rn
        |    FROM embeddings q JOIN embeddings r ON q.vec_id <> r.vec_id
        |    WHERE q.vec_id < 50)
        |  WHERE rn <= 5),
        |rec AS (
        |  SELECT (SELECT count(*) FROM two t JOIN fullk f
        |      ON f.qid = t.qid AND f.rid = t.rid)::DOUBLE
        |    / nullif((SELECT count(*) FROM fullk), 0) >= 0.5 AS r_ok)
        |SELECT two.qid, two.rid, two.cos, two.rn,
        |  coalesce(rec.r_ok, TRUE) AS recall_ok
        |FROM two, rec
        |ORDER BY qid, rn""".stripMargin,

    // RRF: BM25 ranks (the q70 replica), exact-cosine vector ranks
    // (the q29 pattern, qid 0), full-outer rank join, the 1/(60+rank)
    // sum rounded 6dp, fused rank on (score DESC, id ASC).
    "q208_hybrid_rrf" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |l AS (SELECT doc_id, len(ts) AS dl FROM t),
        |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM l),
        |tok AS (SELECT doc_id, unnest(ts) AS term FROM t),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
        |  WHERE term IN ('spark', 'table', 'join') GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS dfq FROM tf GROUP BY 1),
        |sc AS (SELECT tf.doc_id, sum(
        |    ln(1 + (stats.n - dfreq.dfq + 0.5) / (dfreq.dfq + 0.5)) *
        |    tf.tf * (1.2 + 1) /
        |    (tf.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / stats.avgdl))) AS score
        |  FROM tf JOIN dfreq USING (term) JOIN l USING (doc_id), stats
        |  GROUP BY 1),
        |lex AS (SELECT doc_id, row_number() OVER (
        |    ORDER BY round(score, 6) DESC, doc_id ASC) AS rank_a
        |  FROM (SELECT doc_id, score FROM sc
        |        ORDER BY round(score, 6) DESC, doc_id LIMIT 20)),
        |vec AS (SELECT rid AS doc_id, rn AS rank_b FROM (
        |    SELECT r.vec_id AS rid,
        |      row_number() OVER (ORDER BY
        |        round(list_cosine_similarity(q.embedding::DOUBLE[],
        |          r.embedding::DOUBLE[]), 6) DESC, r.vec_id ASC) AS rn
        |    FROM embeddings q JOIN embeddings r ON r.vec_id <> q.vec_id
        |    WHERE q.vec_id = 0)
        |  WHERE rn <= 20),
        |fused AS (SELECT coalesce(lex.doc_id, vec.doc_id) AS doc_id,
        |    lex.rank_a, vec.rank_b,
        |    round(coalesce(1.0 / (60 + lex.rank_a), 0.0) +
        |          coalesce(1.0 / (60 + vec.rank_b), 0.0), 6) AS rrf_score
        |  FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id)
        |SELECT doc_id, rank_a, rank_b, rrf_score,
        |  row_number() OVER (ORDER BY rrf_score DESC, doc_id ASC)
        |    AS fused_rank
        |FROM fused
        |ORDER BY fused_rank""".stripMargin,

    // MMR: candidates = exact top-20 for qid 0 (q29 rounding
    // discipline); pairwise candidate cosines rounded 6dp; five
    // chained argmax CTEs replay the greedy with the rid tie-break.
    // Constants are CAST(0.7 AS DOUBLE) so both engines compute the
    // identical IEEE doubles (a bare 0.7 is DECIMAL in DuckDB and
    // (1 - 0.7) would be exactly 0.3, one ulp from Spark's 1 - 0.7).
    "q209_mmr_rerank" ->
      """WITH cand AS (SELECT rid, cos FROM (
        |    SELECT r.vec_id AS rid,
        |      round(list_cosine_similarity(q.embedding::DOUBLE[],
        |        r.embedding::DOUBLE[]), 6) AS cos,
        |      row_number() OVER (ORDER BY
        |        round(list_cosine_similarity(q.embedding::DOUBLE[],
        |          r.embedding::DOUBLE[]), 6) DESC, r.vec_id ASC) AS rn
        |    FROM embeddings q JOIN embeddings r ON r.vec_id <> q.vec_id
        |    WHERE q.vec_id = 0)
        |  WHERE rn <= 20),
        |ps AS (SELECT a.rid AS ra, b.rid AS rb,
        |    round(list_cosine_similarity(ea.embedding::DOUBLE[],
        |      eb.embedding::DOUBLE[]), 6) AS s
        |  FROM cand a JOIN cand b ON a.rid <> b.rid
        |  JOIN embeddings ea ON ea.vec_id = a.rid
        |  JOIN embeddings eb ON eb.vec_id = b.rid),
        |p1 AS (SELECT rid, cos, round(CAST(0.7 AS DOUBLE) * cos, 6) AS score FROM cand
        |  ORDER BY score DESC, rid LIMIT 1),
        |p2 AS (SELECT c.rid, c.cos, round(CAST(0.7 AS DOUBLE) * c.cos - (1 - CAST(0.7 AS DOUBLE)) *
        |    (SELECT max(s) FROM ps WHERE ps.ra = c.rid
        |      AND ps.rb IN (SELECT rid FROM p1)), 6) AS score
        |  FROM cand c WHERE c.rid NOT IN (SELECT rid FROM p1)
        |  ORDER BY score DESC, c.rid LIMIT 1),
        |p3 AS (SELECT c.rid, c.cos, round(CAST(0.7 AS DOUBLE) * c.cos - (1 - CAST(0.7 AS DOUBLE)) *
        |    (SELECT max(s) FROM ps WHERE ps.ra = c.rid
        |      AND ps.rb IN (SELECT rid FROM p1
        |        UNION SELECT rid FROM p2)), 6) AS score
        |  FROM cand c WHERE c.rid NOT IN (SELECT rid FROM p1
        |    UNION SELECT rid FROM p2)
        |  ORDER BY score DESC, c.rid LIMIT 1),
        |p4 AS (SELECT c.rid, c.cos, round(CAST(0.7 AS DOUBLE) * c.cos - (1 - CAST(0.7 AS DOUBLE)) *
        |    (SELECT max(s) FROM ps WHERE ps.ra = c.rid
        |      AND ps.rb IN (SELECT rid FROM p1 UNION SELECT rid FROM p2
        |        UNION SELECT rid FROM p3)), 6) AS score
        |  FROM cand c WHERE c.rid NOT IN (SELECT rid FROM p1
        |    UNION SELECT rid FROM p2 UNION SELECT rid FROM p3)
        |  ORDER BY score DESC, c.rid LIMIT 1),
        |p5 AS (SELECT c.rid, c.cos, round(CAST(0.7 AS DOUBLE) * c.cos - (1 - CAST(0.7 AS DOUBLE)) *
        |    (SELECT max(s) FROM ps WHERE ps.ra = c.rid
        |      AND ps.rb IN (SELECT rid FROM p1 UNION SELECT rid FROM p2
        |        UNION SELECT rid FROM p3 UNION SELECT rid FROM p4)), 6)
        |      AS score
        |  FROM cand c WHERE c.rid NOT IN (SELECT rid FROM p1
        |    UNION SELECT rid FROM p2 UNION SELECT rid FROM p3
        |    UNION SELECT rid FROM p4)
        |  ORDER BY score DESC, c.rid LIMIT 1)
        |SELECT CAST(0 AS BIGINT) AS qid, rid, 1 AS mmr_rank, score AS mmr_score, cos
        |  FROM p1
        |UNION ALL SELECT 0, rid, 2, score, cos FROM p2
        |UNION ALL SELECT 0, rid, 3, score, cos FROM p3
        |UNION ALL SELECT 0, rid, 4, score, cos FROM p4
        |UNION ALL SELECT 0, rid, 5, score, cos FROM p5
        |ORDER BY mmr_rank""".stripMargin,

    // PCA invariant oracle over the enumerable projection slice.
    "q90_pca" ->
      """SELECT vec_id, TRUE AS finite_ok, TRUE AS orthonormal_ok,
        |  TRUE AS evals_sorted_ok, TRUE AS var_matches_eigenvalue
        |FROM embeddings WHERE vec_id < 100""".stripMargin,

    // k-means invariant oracle: the dual-route argmin agreement and
    // Lloyd monotonicity are Spark-side booleans pinned TRUE per row.
    "q134_kmeans" ->
      """SELECT vec_id, TRUE AS assign_ok, TRUE AS inertia_ok
        |FROM embeddings""".stripMargin,

    // Same 0-based dim explode, same conditional means off the SAME
    // rounded columns.
    "q171_embedding_drift" ->
      """WITH x AS (
        |  SELECT vec_id % 2 = 0 AS a, CAST(u.i AS INT) AS pos,
        |    embedding[u.i + 1] AS v
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(range(0, 64)) AS i) u),
        |m AS (
        |  SELECT pos,
        |    round(avg(CASE WHEN a THEN v END), 6) AS mean_ref,
        |    round(avg(CASE WHEN NOT a THEN v END), 6) AS mean_cand
        |  FROM x GROUP BY 1)
        |SELECT pos, mean_ref, mean_cand,
        |  round(abs(mean_ref - mean_cand), 6) AS abs_diff,
        |  round(abs(mean_ref - mean_cand), 6) > 0.1 AS drifted
        |FROM m""".stripMargin,

    // Same bounded-anchor pair frame, same per-polarity windows.
    "q170_contrastive" ->
      """WITH e AS (SELECT vec_id, embedding, label FROM embeddings
        |  WHERE vec_id < 100),
        |p AS (
        |  SELECT a.vec_id AS aid, b.vec_id AS bid,
        |    a.label AS alab, b.label AS blab,
        |    round(list_cosine_similarity(a.embedding::DOUBLE[],
        |      b.embedding::DOUBLE[]), 6) AS cos
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |n AS (SELECT aid, bid AS hard_neg_id, cos AS hard_neg_cos,
        |    row_number() OVER (PARTITION BY aid
        |      ORDER BY cos DESC, bid ASC) AS rn
        |  FROM p WHERE alab <> blab),
        |q AS (SELECT aid, bid AS hard_pos_id, cos AS hard_pos_cos,
        |    row_number() OVER (PARTITION BY aid
        |      ORDER BY cos ASC, bid ASC) AS rn
        |  FROM p WHERE alab = blab)
        |SELECT e.vec_id AS aid, n.hard_neg_id, n.hard_neg_cos,
        |  q.hard_pos_id, q.hard_pos_cos,
        |  round(q.hard_pos_cos - n.hard_neg_cos, 6) AS margin
        |FROM e
        |LEFT JOIN (SELECT * FROM n WHERE rn = 1) n ON e.vec_id = n.aid
        |LEFT JOIN (SELECT * FROM q WHERE rn = 1) q ON e.vec_id = q.aid""".stripMargin,

    // Same centroid/d²/z algebra with the same rounding points; DuckDB
    // stddev is sample stddev like Spark's.
    "q187_label_outliers" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
        |  FROM embeddings),
        |x AS (SELECT vec_id, label, g.i AS pos, v[g.i] AS x
        |  FROM e, LATERAL (SELECT unnest(generate_series(1, 64)) AS i)
        |    g),
        |c AS (SELECT label, pos, avg(x) AS m FROM x GROUP BY 1, 2),
        |d AS (SELECT x.vec_id, x.label,
        |    round(sum((x.x - c.m) * (x.x - c.m)), 6) AS d2
        |  FROM x JOIN c ON x.label = c.label AND x.pos = c.pos
        |  GROUP BY 1, 2),
        |s AS (SELECT label, avg(d2) AS mu, stddev(d2) AS sd FROM d
        |  GROUP BY 1)
        |SELECT d.vec_id, d.label, d.d2,
        |  round((d.d2 - s.mu) / s.sd, 6) AS z,
        |  round((d.d2 - s.mu) / s.sd, 6) > 2.4931 AS is_outlier
        |FROM d JOIN s USING (label)""".stripMargin,

    // Every coordinate from the same md5 sign algebra (0-based i:j
    // keys, first hex digit 0-7 → +1); casts keep DOUBLE throughout.
    "q185_jl_project" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |  FROM embeddings),
        |j AS (SELECT CAST(unnest(generate_series(0, 15)) AS INTEGER)
        |  AS dim)
        |SELECT e.vec_id, j.dim,
        |  round(list_sum(list_transform(generate_series(1, 64),
        |    i -> e.v[i] * (CASE WHEN substr(md5((i - 1) || ':' ||
        |        j.dim), 1, 1) BETWEEN '0' AND '7'
        |      THEN CAST(1.0 AS DOUBLE)
        |      ELSE CAST(-1.0 AS DOUBLE) END)))
        |    / sqrt(CAST(16 AS DOUBLE)), 6) AS coord
        |FROM e, j""".stripMargin,

    // The greedy trajectory as chained argmax CTEs: c1 = min id,
    // m_t = per-point min rounded d² to the first t centers,
    // c_{t+1} = argmax(m_t) with id tiebreak — identical rounding
    // points to the Scala loop.
    "q184_kcenter_coreset" ->
      """WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
        |  FROM embeddings WHERE vec_id < 200),
        |c1 AS (SELECT id, v FROM e ORDER BY id LIMIT 1),
        |m1 AS (SELECT e.id, e.v,
        |    round(list_sum(list_transform(generate_series(1, 64),
        |      i -> (e.v[i] - c1.v[i]) * (e.v[i] - c1.v[i]))), 6) AS md
        |  FROM e, c1),
        |c2 AS (SELECT id, v, md FROM m1 ORDER BY md DESC, id LIMIT 1),
        |m2 AS (SELECT m1.id, m1.v, least(m1.md,
        |    round(list_sum(list_transform(generate_series(1, 64),
        |      i -> (m1.v[i] - c2.v[i]) * (m1.v[i] - c2.v[i]))), 6))
        |      AS md
        |  FROM m1, c2),
        |c3 AS (SELECT id, v, md FROM m2 ORDER BY md DESC, id LIMIT 1),
        |m3 AS (SELECT m2.id, m2.v, least(m2.md,
        |    round(list_sum(list_transform(generate_series(1, 64),
        |      i -> (m2.v[i] - c3.v[i]) * (m2.v[i] - c3.v[i]))), 6))
        |      AS md
        |  FROM m2, c3),
        |c4 AS (SELECT id, v, md FROM m3 ORDER BY md DESC, id LIMIT 1)
        |SELECT 1 AS rank, (SELECT id FROM c1) AS vec_id,
        |  CAST(0.0 AS DOUBLE) AS radius
        |UNION ALL SELECT 2, (SELECT id FROM c2), (SELECT md FROM c2)
        |UNION ALL SELECT 3, (SELECT id FROM c3), (SELECT md FROM c3)
        |UNION ALL SELECT 4, (SELECT id FROM c4), (SELECT md FROM c4)"""
        .stripMargin,

    // PQ codec invariant oracle: one row per vector, booleans pinned.
    "q176_pq_codec" ->
      """SELECT vec_id, TRUE AS codes_ok, TRUE AS better_than_mean
        |FROM embeddings""".stripMargin,

    // SemDeDup invariant oracle: one row per input vector, decision
    // contract booleans pinned TRUE (see the q62 query body).
    "q62_semdedup" ->
      """SELECT vec_id, TRUE AS one_keeper_ok, TRUE AS group_min_ok,
        |  TRUE AS witness_ok, TRUE AS range_ok, TRUE AS recall_ok
        |FROM embeddings""".stripMargin,

    // ANN-ladder invariant oracles (annTopKAudit): one row per input
    // vector, every contract boolean pinned TRUE. A dropped query
    // vector changes the row count; any broken invariant flips a
    // boolean; a recall collapse below the enforced floor flips
    // recall_ok — all caught by the driver's hash compare.
    "q30_lsh_topk" ->
      """SELECT vec_id AS qid, TRUE AS k_ok, TRUE AS distinct_ok,
        |  TRUE AS no_self_ok, TRUE AS range_ok, TRUE AS sorted_ok,
        |  TRUE AS recall_ok
        |FROM embeddings""".stripMargin,

    "q41_ivf_topk" ->
      """SELECT vec_id AS qid, TRUE AS k_ok, TRUE AS distinct_ok,
        |  TRUE AS no_self_ok, TRUE AS range_ok, TRUE AS sorted_ok,
        |  TRUE AS recall_ok
        |FROM embeddings""".stripMargin,

    // Matryoshka-IVF two-stage: the same per-query contract booleans
    // (stage-1 lists are k-means artifacts; recall_ok carries the
    // enforced floor).
    "q205_mrl_ivf_topk" ->
      """SELECT vec_id AS qid, TRUE AS k_ok, TRUE AS distinct_ok,
        |  TRUE AS no_self_ok, TRUE AS range_ok, TRUE AS sorted_ok,
        |  TRUE AS recall_ok
        |FROM embeddings""".stripMargin,

    // IVF-SQ8 composition: the same per-query contract booleans.
    "q206_ivfsq_topk" ->
      """SELECT vec_id AS qid, TRUE AS k_ok, TRUE AS distinct_ok,
        |  TRUE AS no_self_ok, TRUE AS range_ok, TRUE AS sorted_ok,
        |  TRUE AS recall_ok
        |FROM embeddings""".stripMargin,

    // IvfStream index route: the same per-query contract booleans.
    "q204_ivf_index_topk" ->
      """SELECT vec_id AS qid, TRUE AS k_ok, TRUE AS distinct_ok,
        |  TRUE AS no_self_ok, TRUE AS range_ok, TRUE AS sorted_ok,
        |  TRUE AS recall_ok
        |FROM embeddings""".stripMargin,

    "q56_ivfpq_topk" ->
      """SELECT vec_id AS qid, TRUE AS k_ok, TRUE AS distinct_ok,
        |  TRUE AS no_self_ok, TRUE AS range_ok, TRUE AS sorted_ok,
        |  TRUE AS recall_ok
        |FROM embeddings""".stripMargin,

    "q29_ann_topk" ->
      """WITH pairs AS (
        |  SELECT q.vec_id AS qid, r.vec_id AS rid,
        |    round(list_cosine_similarity(q.embedding::DOUBLE[], r.embedding::DOUBLE[]), 6) AS cos
        |  FROM embeddings q JOIN embeddings r ON q.vec_id <> r.vec_id
        |  WHERE q.vec_id < 50),
        |ranked AS (SELECT qid, rid, cos,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, rid ASC) AS rn
        |  FROM pairs)
        |SELECT qid, rid, cos, rn FROM ranked WHERE rn <= 5""".stripMargin,

    // Planted-duplicate ground truth: images are doc_id % 3 = 0 (the
    // synthetic media modality rule); every planted copy must come back
    // recovered at distance 0 through the decode→aHash→bucket pipeline.
    "q72_image_dup_pairs" ->
      """SELECT doc_id AS id_a, doc_id + 1000000 AS id_b,
        |  TRUE AS recovered, 0 AS dist
        |FROM documents WHERE doc_id % 3 = 0 AND doc_id < 60""".stripMargin,

    "q38_cosine_pairs" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.35""".stripMargin,

    // SQ8: identical fixed-order double arithmetic —
    // floor((x−mn)·255/(mx−mn)+0.5) clamped — replays every code. The
    // series bound is the row's OWN array length (lateral unnest), so
    // a fixture dim change can never desync the two engines.
    "q200_sq8_codec" ->
      """WITH u AS (
        |  SELECT vec_id, CAST(g.i - 1 AS INTEGER) AS pos,
        |    embedding[g.i]::DOUBLE AS x
        |  FROM embeddings, unnest(generate_series(1, len(embedding))) g(i)),
        |s AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM u GROUP BY 1),
        |c AS (
        |  SELECT u.vec_id, u.pos, u.x, s.mn, s.mx,
        |    CASE WHEN s.mx = s.mn THEN CAST(0 AS BIGINT)
        |      ELSE CAST(least(255.0, greatest(0.0,
        |        floor((u.x - s.mn) * 255.0 / (s.mx - s.mn) + 0.5))) AS BIGINT)
        |      END AS code
        |  FROM u JOIN s USING (pos))
        |SELECT vec_id, pos, code,
        |  abs(mn + CAST(code AS DOUBLE) * (mx - mn) / 255.0 - x)
        |    <= (mx - mn) / 255.0 * 0.5 + 1e-9 AS within_half_step
        |FROM c""".stripMargin,

    // Matryoshka: both top-5 sets under the q29 rounding discipline
    // (round-6 cosine DESC, rid ASC), then the integer overlap.
    "q201_matryoshka" ->
      """WITH fullk AS (
        |  SELECT qid, rid FROM (
        |    SELECT q.vec_id AS qid, r.vec_id AS rid,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        round(list_cosine_similarity(q.embedding::DOUBLE[],
        |          r.embedding::DOUBLE[]), 6) DESC, r.vec_id ASC) AS rn
        |    FROM embeddings q JOIN embeddings r ON q.vec_id <> r.vec_id
        |    WHERE q.vec_id < 50)
        |  WHERE rn <= 5),
        |tk AS (
        |  SELECT qid, rid FROM (
        |    SELECT q.vec_id AS qid, r.vec_id AS rid,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        round(list_cosine_similarity(
        |          (q.embedding::DOUBLE[])[1:16],
        |          (r.embedding::DOUBLE[])[1:16]), 6) DESC,
        |        r.vec_id ASC) AS rn
        |    FROM embeddings q JOIN embeddings r ON q.vec_id <> r.vec_id
        |    WHERE q.vec_id < 50)
        |  WHERE rn <= 5),
        |ov AS (
        |  SELECT t.qid, count(*) AS n_common
        |  FROM tk t JOIN fullk f ON f.qid = t.qid AND f.rid = t.rid
        |  GROUP BY 1)
        |SELECT e.vec_id AS qid,
        |  coalesce(ov.n_common, 0) AS n_common,
        |  round(coalesce(ov.n_common, 0) / 5.0, 6) AS recall_at_k
        |FROM embeddings e LEFT JOIN ov ON ov.qid = e.vec_id
        |WHERE e.vec_id < 50
        |ORDER BY qid""".stripMargin,

    // Two-stage Matryoshka: the 32-dim-prefix shortlist (rn <= 50),
    // the exact full-dim re-rank, AND the global recall-vs-brute
    // boolean, all replayed (q29 rounding discipline throughout).
    "q202_matryoshka_topk" ->
      """WITH sl AS (
        |  SELECT qid, rid FROM (
        |    SELECT q.vec_id AS qid, r.vec_id AS rid,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        round(list_cosine_similarity((q.embedding::DOUBLE[])[1:32],
        |          (r.embedding::DOUBLE[])[1:32]), 6) DESC, r.vec_id ASC) AS rn
        |    FROM embeddings q JOIN embeddings r ON q.vec_id <> r.vec_id
        |    WHERE q.vec_id < 50)
        |  WHERE rn <= 50),
        |rr AS (
        |  SELECT qid, rid, cos,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY cos DESC, rid ASC) AS rn
        |  FROM (
        |    SELECT sl.qid, sl.rid,
        |      round(list_cosine_similarity(q.embedding::DOUBLE[],
        |        r.embedding::DOUBLE[]), 6) AS cos
        |    FROM sl
        |    JOIN embeddings q ON q.vec_id = sl.qid
        |    JOIN embeddings r ON r.vec_id = sl.rid)),
        |two AS (SELECT * FROM rr WHERE rn <= 5),
        |fullk AS (
        |  SELECT qid, rid FROM (
        |    SELECT q.vec_id AS qid, r.vec_id AS rid,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        round(list_cosine_similarity(q.embedding::DOUBLE[],
        |          r.embedding::DOUBLE[]), 6) DESC, r.vec_id ASC) AS rn
        |    FROM embeddings q JOIN embeddings r ON q.vec_id <> r.vec_id
        |    WHERE q.vec_id < 50)
        |  WHERE rn <= 5),
        |rec AS (
        |  SELECT (SELECT count(*) FROM two t JOIN fullk f
        |      ON f.qid = t.qid AND f.rid = t.rid)::DOUBLE
        |    / nullif((SELECT count(*) FROM fullk), 0) >= 0.55 AS r_ok)
        |SELECT two.qid, two.rid, two.cos, two.rn,
        |  coalesce(rec.r_ok, TRUE) AS recall_ok
        |FROM two, rec
        |ORDER BY qid, rn""".stripMargin,

    // SQ8 two-stage: codes re-derived (the q200 algebra), decoded,
    // asymmetric shortlist (rn <= 10), exact re-rank, recall boolean.
    "q203_sq_topk" ->
      """WITH u AS (
        |  SELECT vec_id, CAST(g.i - 1 AS INTEGER) AS pos,
        |    embedding[g.i]::DOUBLE AS x
        |  FROM embeddings, unnest(generate_series(1, len(embedding))) g(i)),
        |s AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM u GROUP BY 1),
        |dec AS (
        |  SELECT u.vec_id, array_agg(
        |      s.mn + (CASE WHEN s.mx = s.mn THEN 0.0
        |        ELSE least(255.0, greatest(0.0,
        |          floor((u.x - s.mn) * 255.0 / (s.mx - s.mn) + 0.5)))
        |        END) * (s.mx - s.mn) / 255.0
        |      ORDER BY u.pos) AS dv
        |  FROM u JOIN s USING (pos) GROUP BY u.vec_id),
        |sl AS (
        |  SELECT qid, rid FROM (
        |    SELECT q.vec_id AS qid, d.vec_id AS rid,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        round(list_cosine_similarity(q.embedding::DOUBLE[], d.dv), 6)
        |          DESC, d.vec_id ASC) AS rn
        |    FROM embeddings q JOIN dec d ON q.vec_id <> d.vec_id
        |    WHERE q.vec_id < 50)
        |  WHERE rn <= 10),
        |rr AS (
        |  SELECT qid, rid, cos,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY cos DESC, rid ASC) AS rn
        |  FROM (
        |    SELECT sl.qid, sl.rid,
        |      round(list_cosine_similarity(q.embedding::DOUBLE[],
        |        r.embedding::DOUBLE[]), 6) AS cos
        |    FROM sl
        |    JOIN embeddings q ON q.vec_id = sl.qid
        |    JOIN embeddings r ON r.vec_id = sl.rid)),
        |two AS (SELECT * FROM rr WHERE rn <= 5),
        |fullk AS (
        |  SELECT qid, rid FROM (
        |    SELECT q.vec_id AS qid, r.vec_id AS rid,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        round(list_cosine_similarity(q.embedding::DOUBLE[],
        |          r.embedding::DOUBLE[]), 6) DESC, r.vec_id ASC) AS rn
        |    FROM embeddings q JOIN embeddings r ON q.vec_id <> r.vec_id
        |    WHERE q.vec_id < 50)
        |  WHERE rn <= 5),
        |rec AS (
        |  SELECT (SELECT count(*) FROM two t JOIN fullk f
        |      ON f.qid = t.qid AND f.rid = t.rid)::DOUBLE
        |    / nullif((SELECT count(*) FROM fullk), 0) >= 0.9 AS r_ok)
        |SELECT two.qid, two.rid, two.cos, two.rn,
        |  coalesce(rec.r_ok, TRUE) AS recall_ok
        |FROM two, rec
        |ORDER BY qid, rn""".stripMargin,
  )
}
