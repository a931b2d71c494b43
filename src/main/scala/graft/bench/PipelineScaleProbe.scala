package graft.bench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.pipeline.{Dedup, TextAnalysis}

/** Scale probe for the PIPELINE operators — measures the dedup/text
  * family on a corpus replicated K× so the scaling slope is a number,
  * not an argument (the pipeline twin of [[ScaleProbe]]'s layout
  * slope). Run:
  *
  *   SPARK_GRAFT_CPUS=16 sbt "runMain graft.bench.PipelineScaleProbe /root/testdata/sf0.1 4"
  *
  * Replicas get every token prefixed with `r<k>_` (one codegen'd
  * regexp, narrow map), which makes replica shingle spaces DISJOINT:
  * each replica reproduces the base corpus's exact near-dup pair
  * structure and contributes zero cross-replica candidates, so a
  * linear-scaling operator must show linear wall time in K. Exact
  * dedup, MinHash+LSH end-to-end (candidates + true-Jaccard verify),
  * passage dedup, and the quality scan are probed; emits one JSON
  * line per run; slopes recorded in BASELINE.md. */
object PipelineScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 4
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time[T](b: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = b; (r, (System.nanoTime() - t0) / 1e9)
    }
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val corpus = (0 until reps).map { k =>
      base.select((col("doc_id") + lit(k * 10000000L)).as("doc_id"),
        regexp_replace(col("text"), "(^| )", "$1r" + k + "_").as("text"))
    }.reduce(_ union _).cache()
    val nDocs = corpus.count()
    val (nExact, tExact) = time(Dedup.exact(corpus).count())
    val (nMh, tMh) = time(
      Dedup.minhashLsh(corpus, n = 3, k = 64, bands = 16, threshold = 0.5).count())
    // the md5 Kirsch–Mitzenmacher family (q27's oracle-checkable path)
    // probed separately: one digest per shingle + 64 wrap mul-adds vs
    // one xxhash64 per (i, shingle) — its slope must stay linear too
    val (nMh5, tMh5) = time(
      Dedup.minhashLsh(corpus, n = 3, k = 64, bands = 16, threshold = 0.5,
        md5Based = true).count())
    val (nPass, tPass) = time(Dedup.dedupPassages(corpus).count())
    val (_, tQual) = time(
      TextAnalysis.qualityScore(corpus).agg(avg("quality")).head)
    // corpus-stats family: replica-disjoint tokens keep the gram/pair
    // structure per replica identical to the base corpus, so the top-k
    // cut stays k rows and PMI's surviving-bigram set scales by reps —
    // linear-scaling operators must show linear wall time here too
    val (_, tNg) = time(TextAnalysis.topKNgrams(corpus, n = 2, k = 25).count())
    val (nPmi, tPmi) = time(
      TextAnalysis.pmiCollocations(corpus, k = 25, minCount = 5).count())
    val (_, tBnll) = time(
      TextAnalysis.bigramLogLik(corpus).agg(avg("avg_nll")).head)
    // BPE: train cost is bounded by the maxWords cap (the replicated
    // vocab exceeds it — exactly the at-scale regime); encode is the
    // narrow map whose slope must be linear
    val (mg, tTrain) = time(graft.pipeline.Bpe.train(corpus, nMerges = 200,
      maxWords = 5000))
    val (_, tEnc) = time(
      graft.pipeline.Bpe.encode(corpus, mg).agg(sum("n_pieces")).head)
    // chunking: a pure narrow map — its slope is the scan slope
    val (nChunks, tChunk) = time(
      TextAnalysis.chunkDocuments(corpus).count())
    // edit-distance join on replica-prefixed customer names. The
    // prefix repeats the replica digit (r00_, r11_, …) so any two
    // replicas differ in ≥2 characters — single-char prefixes would
    // put every cross-replica copy of the same name at distance 1 and
    // add C(reps,2)·|names| real-but-unintended pairs. With distance-2
    // prefixes the replica pair structures are disjoint and a lossless
    // deletion-key join must scale linearly in K.
    val (nEd, tEd) = time {
      val names = spark.read.parquet(s"$sfDir/customer.parquet")
        .select(col("c_custkey").as("id"), col("c_name").as("s"))
      val repNames = (0 until reps).map { k =>
        names.select((col("id") + lit(k * 10000000L)).as("id"),
          concat(lit(s"r$k${k}_"), col("s")).as("s"))
      }.reduce(_ union _)
      Dedup.editDistanceJoin(repNames).count()
    }
    // r6 corpus-analysis family. Source labels stay ORIGINAL (replicas
    // only grow each source), so the JSD pair count is constant and its
    // cost is vocabulary-bound — the linear regime; keyness likewise.
    val corpusSrc = {
      val b = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "source", "text")
      (0 until reps).map { k =>
        b.select((col("doc_id") + lit(k * 10000000L)).as("doc_id"),
          col("source"),
          regexp_replace(col("text"), "(^| )", "$1r" + k + "_").as("text"))
      }.reduce(_ union _).cache()
    }
    corpusSrc.count()
    val (_, tGini) = time(TextAnalysis.giniTokens(corpusSrc).count())
    val (nJsd, tJsd) = time(TextAnalysis.jsDivergence(corpusSrc).count())
    val (_, tKey) = time(TextAnalysis.keyness(corpusSrc, k = 10).count())
    val (_, tVg) = time(TextAnalysis.vocabGrowth(corpusSrc)
      .agg(max("cum_vocab")).head)
    val (_, tCms) = time(
      graft.pipeline.Sketches.countMinAudit(spark, corpus).head)
    val (_, tScript) = time(TextAnalysis.scriptProfile(corpus).count())
    val (_, tGz) = time(TextAnalysis.compressRatio(corpus)
      .agg(avg("ratio")).head)
    // JW join on replica-prefixed part names; blockLen covers the
    // replica tag + the base 4-char block, so replica blocks mirror the
    // base block structure and a linear op shows a linear slope
    val (nJw, tJw) = time {
      val names = spark.read.parquet(s"$sfDir/part.parquet")
        .filter(col("p_partkey") < 500)
        .select(col("p_partkey").as("id"), col("p_name").as("s"))
      val repNames = (0 until reps).map { k =>
        names.select((col("id") + lit(k * 10000000L)).as("id"),
          concat(lit(s"r$k${k}_"), col("s")).as("s"))
      }.reduce(_ union _)
      Dedup.jaroWinklerJoin(repNames, threshold = 0.92, blockLen = 8).count()
    }
    // r6c family. Replica-disjoint tokens keep gram/term spaces
    // disjoint: each replica reproduces the base corpus's duplicated-
    // gram load and cosine-pair structure exactly, so both ops must
    // scale linearly in K. Unigram mirrors BPE's regime (train bounded
    // by maxWords, encode a narrow map).
    val (nDup, tDup) = time(Dedup.dupNgramStats(corpus, n = 8).count())
    val (nTc, tTc) = time(TextAnalysis.tfidfCosinePairs(corpus,
      threshold = 0.3, maxDf = 0.25).count())
    val (um, tUtrain) = time(graft.pipeline.Unigram.train(corpus,
      vocabSize = 1500, maxWords = 5000))
    val (_, tUenc) = time(
      graft.pipeline.Unigram.encode(corpus, um).agg(sum("n_pieces")).head)
    // FS linkage on replica-prefixed part names (the JW-probe replica
    // scheme: distance-2 tags, blockLen covers tag + base block)
    val (nFs, tFs) = time {
      val parts = spark.read.parquet(s"$sfDir/part.parquet")
        .filter(col("p_partkey") < 800)
      val repParts = (0 until reps).map { k =>
        parts.select((col("p_partkey") + lit(k * 10000000L)).as("p_partkey"),
          concat(lit(s"r$k${k}_"), col("p_name")).as("p_name"),
          col("p_brand"), col("p_type"))
      }.reduce(_ union _)
      Dedup.fellegiSunter(repParts, "p_partkey", "p_name",
        Seq("p_brand", "p_type"),
        Seq((0.9, 0.02), (0.9, 0.04), (0.85, 0.025)), blockLen = 8).count()
    }
    val (_, tWin) = time(TextAnalysis.winsorizedStats(
      corpusSrc.withColumn("n_chars", length(col("text")))).count())
    corpusSrc.unpersist()
    // exact duplicate-span removal (q179): replica-disjoint tokens keep
    // each replica's gram space separate, so the duplicated-gram load
    // and the coverage join scale linearly in K (r7 verdict #6)
    val (nSp, tSp) = time(Dedup.dedupSpans(corpus, L = 8).count())
    // k-center greedy (q184, incremental form): fixed k over a K×
    // replicated embedding table — the slope must be the k-scan linear
    // term, not the O(k²·n) recompute the r7 form paid (r7 verdict #5)
    val (nKc, tKc) = time {
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select("vec_id", "embedding")
      val repE = (0 until reps).map { k =>
        e.select((col("vec_id") + lit(k * 10000000L)).as("vec_id"),
          col("embedding"))
      }.reduce(_ union _)
      graft.pipeline.Similarity.kCenterGreedy(spark, repE, k = 16).count()
    }
    // two-stage retrieval rungs (r9): fixed 50-query side against a
    // K×-replicated embedding corpus — stage 1 is the 50×n prefix/code
    // scan (linear in K), stage 2 re-ranks a fixed 50×shortlist set,
    // so the rungs must show the scan's linear slope
    val repE = {
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select("vec_id", "embedding")
      (0 until reps).map { k =>
        e.select((col("vec_id") + lit(k * 10000000L)).as("vec_id"),
          col("embedding"))
      }.reduce(_ union _).cache()
    }
    val nVecs = repE.count()
    val q50 = repE.filter(col("vec_id") < 50)
    val (nMrl, tMrl) = time(graft.pipeline.Similarity
      .matryoshkaTopK(q50, repE, k = 5, dims = 32, shortlist = 50).count())
    val (nSq, tSq) = time(graft.pipeline.Similarity
      .sqTopK(spark, q50, repE, k = 5, shortlist = 10).count())
    // matryoshka-IVF (r10): the index is built ONCE outside the timer
    // (ingest-amortized in production — IvfStream.encode is the
    // streaming twin) and written list-partitioned; the timed probe
    // reads nProbe/nLists of the prefix bytes through partition
    // pruning. With nLists grown ~√n (the ivfPqParamsFor rule) the
    // probed fraction SHRINKS as the corpus grows — the stage-1 linear
    // term mrl_topk pays is gone from the probe wall.
    // SQ8 build-once/probe-many (r10): codec + codes built OUTSIDE the
    // timer (the sqTopK wall above pays train+encode per call — the
    // audit posture); the probe scans codes only, so its slope is the
    // 4×-fewer-bytes scan term
    val (sqCodec, sqCodes) = graft.pipeline.Similarity.sqBuildIndex(spark,
      repE)
    val sqCodesC = sqCodes.cache()
    sqCodesC.count()
    val (nSqIdx, tSqIdx) = time(graft.pipeline.Similarity
      .sqTopKFromIndex(spark, q50, sqCodesC, sqCodec, repE, k = 5,
        shortlist = 10).count())
    sqCodesC.unpersist()
    val mivfLists = math.max(8,
      math.round(math.sqrt(nVecs.toDouble)).toInt)
    val mivfDir = java.nio.file.Files.createTempDirectory("graft_mivf_probe")
      .toString
    val (mivfCenters, mivfIndex) = graft.pipeline.Similarity
      .matryoshkaIvfBuildIndex(spark, repE, dims = 32, nLists = mivfLists)
    val (_, tMivfBuild) = time(mivfIndex.write.partitionBy("list")
      .mode("overwrite").parquet(s"$mivfDir/batch=0"))
    val mivfOnDisk = spark.read.parquet(mivfDir)
      .select("vec_id", "embedding", "list")
    val (nMivf, tMivf) = time(graft.pipeline.Similarity
      .matryoshkaIvfTopKFromIndex(spark, q50, mivfOnDisk, mivfCenters,
        repE, k = 5, dims = 32, shortlist = 50, nProbe = 6).count())
    // binary quantization (r11): symmetric Hamming over 1-bit codes —
    // the 50×n stage-1 scan touches 8 bytes/ref, so the slope is the
    // 32×-fewer-bytes linear term (the cheapest full-scan rung)
    val (nBq, tBq) = time(graft.pipeline.Similarity
      .bqTopK(spark, q50, repE, k = 5, shortlist = 50).count())
    repE.unpersist()
    // equi-depth AUC (r9): rank over a CALIBRATED-PILE score
    // distribution — sigmoid(12·(u−½)) piles scores against 0 and 1,
    // exactly the regime that skewed the old uniform-value bucket
    // cuts. Distinct scores grow ~linearly in K (replica-disjoint
    // texts), so the slope must be the scan + bucketed-window linear
    // term; the probe also reports the max bucket share so balance is
    // a measured number, not a spec-sized claim.
    val (aucStats, tAuc) = time {
      val scored = corpus.select(
        (abs(xxhash64(col("text"))) % 1000000L).cast("double").as("_u"),
        (abs(xxhash64(col("text"), lit(7))) % 2L).cast("double").as("label"))
        .withColumn("score", lit(1.0) /
          (lit(1.0) + exp(lit(-12.0) * (col("_u") / 1000000.0 - lit(0.5)))))
      val a = graft.pipeline.QualityClassifier.auc(scored)
      val g = graft.pipeline.QualityClassifier
        .distinctScores(scored, "score", "label")
      val byB = graft.pipeline.QualityClassifier.bucketRanked(g, 1024)
        .groupBy("_b").count().agg(max("count"), sum("count")).head()
      (a, byB.getLong(0).toDouble / byB.getLong(1))
    }
    println(s"""{"probe":"pipeline_scale","reps":$reps,"docs":$nDocs,""" +
      s""""exact_sec":$tExact,"exact_rows":$nExact,""" +
      s""""minhash_sec":$tMh,"minhash_pairs":$nMh,""" +
      s""""minhash_md5_sec":$tMh5,"minhash_md5_pairs":$nMh5,""" +
      s""""passages_sec":$tPass,"passages_rows":$nPass,""" +
      s""""quality_sec":$tQual,""" +
      s""""top_ngrams_sec":$tNg,"pmi_sec":$tPmi,"pmi_pairs":$nPmi,""" +
      s""""bigram_nll_sec":$tBnll,""" +
      s""""bpe_train_sec":$tTrain,"bpe_encode_sec":$tEnc,""" +
      s""""chunk_sec":$tChunk,"chunks":$nChunks,""" +
      s""""editdist_sec":$tEd,"editdist_pairs":$nEd,""" +
      s""""gini_sec":$tGini,"jsd_sec":$tJsd,"jsd_pairs":$nJsd,""" +
      s""""keyness_sec":$tKey,"vocab_growth_sec":$tVg,""" +
      s""""countmin_sec":$tCms,"script_sec":$tScript,"gzip_sec":$tGz,""" +
      s""""jw_sec":$tJw,"jw_pairs":$nJw,""" +
      s""""dupgram_sec":$tDup,"dupgram_rows":$nDup,""" +
      s""""tfidfcos_sec":$tTc,"tfidfcos_pairs":$nTc,""" +
      s""""uni_train_sec":$tUtrain,"uni_encode_sec":$tUenc,""" +
      s""""fs_sec":$tFs,"fs_pairs":$nFs,"winsor_sec":$tWin,""" +
      s""""dedupspans_sec":$tSp,"dedupspans_rows":$nSp,""" +
      s""""kcenter_sec":$tKc,"kcenter_rows":$nKc,""" +
      s""""auc_sec":$tAuc,"auc":${aucStats._1},""" +
      s""""auc_max_bucket_share":${aucStats._2},""" +
      s""""vecs":$nVecs,"mrl_topk_sec":$tMrl,"mrl_topk_rows":$nMrl,""" +
      s""""sq_topk_sec":$tSq,"sq_topk_rows":$nSq,""" +
      s""""sqidx_topk_sec":$tSqIdx,"sqidx_topk_rows":$nSqIdx,""" +
      s""""mivf_lists":$mivfLists,"mivf_build_sec":$tMivfBuild,""" +
      s""""mivf_topk_sec":$tMivf,"mivf_topk_rows":$nMivf,""" +
      s""""bq_topk_sec":$tBq,"bq_topk_rows":$nBq}""")
    spark.stop()
  }
}
