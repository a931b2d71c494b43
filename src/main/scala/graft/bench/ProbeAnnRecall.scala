package graft.bench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Tables
import graft.pipeline.Similarity
import graft.streaming.ModelStore.{BqCenters, FloatCenters, SqQuantizer}

/** One-off measurement of the capped-universe recall the q30/q41/q56
  * audits enforce — prints recall per tier for a given sf dir so the
  * enforced floors are set from data, not hope.
  *
  * Usage: runMain graft.bench.ProbeAnnRecall /root/testdata/sf0.01
  */
object ProbeAnnRecall {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val e = Tables.embeddings(spark, sfDir)
    val brute = Similarity.bruteForceTopK(e.filter(col("vec_id") < 50), e, k = 5)
      .select("qid", "rid").cache()
    val nb = brute.count()
    def recallOf(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val nh = df.filter(col("qid") < 50).select("qid", "rid")
        .join(brute, Seq("qid", "rid"), "left_semi").count()
      println(f"$name%-8s recall@5 = ${nh.toDouble / nb}%.4f ($nh/$nb)")
    }
    recallOf("lsh32x8", Similarity.lshTopK(e, k = 5, nBits = 32, bands = 8))
    recallOf("ivf8x3", Similarity.ivfTopK(spark, e, k = 5, nLists = 8, nProbe = 3))
    recallOf("pq_r40", Similarity.ivfPqTopK(spark, e, k = 5, nLists = 8,
      nProbe = 6, m = 8, nCodes = 32, refine = 40))
    recallOf("pq_m16", Similarity.ivfPqTopK(spark, e, k = 5, nLists = 8,
      nProbe = 6, m = 16, nCodes = 32, refine = 20))
    recallOf("pq_m16r40", Similarity.ivfPqTopK(spark, e, k = 5, nLists = 8,
      nProbe = 6, m = 16, nCodes = 32, refine = 40))
    // two-stage rungs (r9): prefix-dim / SQ8-code shortlist + exact re-rank
    val q50 = e.filter(col("vec_id") < 50)
    // OPQ (r13): learned rotation before the subspace split vs the
    // unrotated rung at IDENTICAL index bytes (same nLists/m/nCodes/
    // probe/refine). Low refine values expose stage-1 code quality —
    // a large exact re-rank would mask the difference the rotation
    // makes.
    for ((mm, rf) <- Seq((8, 2), (8, 4), (16, 2), (16, 4))) {
      val (pm, pidx) = Similarity.ivfPqBuildIndex(spark, e, nLists = 8,
        m = mm, nCodes = 32)
      recallOf(f"pq_m${mm}%-2dr$rf",
        Similarity.ivfPqTopKFromIndex(spark, q50, pidx, pm, e, k = 5,
          nProbe = 6, refine = rf))
      val (om, oidx) = Similarity.ivfOpqBuildIndex(spark, e, nLists = 8,
        m = mm, nCodes = 32)
      recallOf(f"opq_m${mm}%-1dr$rf",
        Similarity.ivfPqTopKFromIndex(spark, q50, oidx, om, e, k = 5,
          nProbe = 6, refine = rf))
    }
    for (sl <- Seq(15, 30, 50)) {
      recallOf(s"mrl16s$sl", Similarity.matryoshkaTopK(q50, e, k = 5,
        dims = 16, shortlist = sl))
      recallOf(s"mrl32s$sl", Similarity.matryoshkaTopK(q50, e, k = 5,
        dims = 32, shortlist = sl))
    }
    for (sl <- Seq(10, 30)) {
      recallOf(s"sq8s$sl", Similarity.sqTopK(spark, q50, e, k = 5,
        shortlist = sl))
    }
    // binary quantization (r11): 1-bit sign codes, symmetric Hamming
    // shortlist + exact re-rank — recall is bounded by how much angle
    // survives 1 bit/dim, so the shortlist is the knob
    for (sl <- Seq(10, 20, 30, 50)) {
      recallOf(s"bq_s$sl", Similarity.bqTopK(spark, q50, e, k = 5,
        shortlist = sl))
    }
    // asymmetric BQ (r12): full-precision query vs sign codes —
    // dot(q, sign(r)) keeps the query's per-dim magnitudes, the
    // standard recall lift at identical index bytes (r11 verdict #3)
    for (sl <- Seq(10, 20, 30, 50)) {
      recallOf(s"bqa_s$sl", Similarity.bqTopK(spark, q50, e, k = 5,
        shortlist = sl, asymmetric = true))
    }
    // IVF-SQ8 (r10): codes-resident inverted lists — coverage is the
    // IVF term (codes are near-faithful at 255 levels, the sq8s10
    // finding), so recall tracks the ivf rung at equal probes
    for ((nl, np) <- Seq((8, 3), (8, 4), (8, 6)); sl <- Seq(10, 30)) {
      recallOf(f"ivfsq${nl}x$np%ss$sl",
        Similarity.ivfSqTopK(spark, q50, e, k = 5, nLists = nl,
          nProbe = np, shortlist = sl))
    }
    // IVF-BQ (r11): recall compounds probe coverage × 1-bit signal
    for ((nl, np) <- Seq((8, 4), (8, 6)); sl <- Seq(50, 80)) {
      recallOf(f"ivfbq${nl}x$np%ss$sl",
        Similarity.ivfBqTopK(spark, q50, e, k = 5, nLists = nl,
          nProbe = np, shortlist = sl))
    }
    // asymmetric IVF-BQ (r12): the flat rung's signed-dot stage 1
    // inside the probed lists — the same recall lift at identical
    // index bytes, composed with the probe pruning
    for ((nl, np) <- Seq((8, 4), (8, 6)); sl <- Seq(30, 50, 80)) {
      recallOf(f"ivfbqa${nl}x$np%ss$sl",
        Similarity.ivfBqTopK(spark, q50, e, k = 5, nLists = nl,
          nProbe = np, shortlist = sl, asymmetric = true))
    }
    // matryoshka-IVF (r10): IVF probe on the 32-dim prefix + exact
    // full-dim re-rank — recall compounds prefix truncation × probe
    // coverage, so the operating point needs its own measurement
    for ((nl, np) <- Seq((8, 3), (8, 4), (8, 6), (16, 6));
         sl <- Seq(50, 80)) {
      recallOf(f"mivf${nl}x$np%ss$sl",
        Similarity.matryoshkaIvfTopK(spark, q50, e, k = 5, dims = 32,
          shortlist = sl, nLists = nl, nProbe = np))
    }
    // filtered ANN (r12): recall vs the brute-on-FILTERED twin at the
    // q213 operating point (label=2 universe, metadata in the index)
    {
      val pred = col("label") === 2
      val fb = Similarity.bruteForceTopK(q50, e.filter(pred), k = 5)
        .select("qid", "rid").cache()
      val nfb = fb.count()
      val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 8)
      val idx = graft.streaming.IvfStream.encode(e,
        FloatCenters(centers), metaCols = Seq("label"))
      for (np <- Seq(2, 3, 4, 6)) {
        val f = Similarity.ivfTopKFromIndex(spark, q50, idx.filter(pred),
          centers, 5, nProbe = np)
        val nh = f.select("qid", "rid")
          .join(fb, Seq("qid", "rid"), "left_semi").count()
        println(f"fivf8x$np%-2s filtered recall@5 = " +
          f"${nh.toDouble / nfb}%.4f ($nh/$nfb)")
      }
      // codes-tier filtered routes (r12g): the metadata rides inside
      // the COMPRESSED index (IvfStream.encode with metaCols) — recall
      // vs the same
      // brute-on-filtered twin, so the filtered compressed rungs'
      // operating points are measured, not inferred from the float row
      val codec = Similarity.sqTrain(spark, e)
      val sqIdx = graft.streaming.IvfStream
        .encode(e, SqQuantizer(centers, codec),
          metaCols = Seq("label"))
      val bqIdx = graft.streaming.IvfStream
        .encode(e, BqCenters(centers),
          metaCols = Seq("label"))
      for (np <- Seq(4, 6)) {
        val fsq = Similarity.ivfSqTopKFromIndex(spark, q50,
          sqIdx.filter(pred), centers, codec, e.filter(pred), 5,
          shortlist = 30, nProbe = np)
        val nhSq = fsq.select("qid", "rid")
          .join(fb, Seq("qid", "rid"), "left_semi").count()
        println(f"fivfsq8x$np%-2s filtered recall@5 = " +
          f"${nhSq.toDouble / nfb}%.4f ($nhSq/$nfb)")
        val fbq = Similarity.ivfBqTopKFromIndex(spark, q50,
          bqIdx.filter(pred), centers, e.filter(pred), 5, shortlist = 50,
          nProbe = np, asymmetric = true)
        val nhBq = fbq.select("qid", "rid")
          .join(fb, Seq("qid", "rid"), "left_semi").count()
        println(f"fivfbqa8x$np%-1s filtered recall@5 = " +
          f"${nhBq.toDouble / nfb}%.4f ($nhBq/$nfb)")
      }
      fb.unpersist()
    }

    // q62 pair recall on the capped universe, by cluster count
    val bp = Similarity.cosinePairsBrute(e.filter(col("vec_id") < 200),
      threshold = 0.35).select("id_a", "id_b").cache()
    val nbp = bp.count()
    for (k <- Seq(4, 8, 16)) {
      val sp = Similarity.semDedupPairs(spark, e, threshold = 0.35, nClusters = k)
        .filter(col("id_a") < 200 && col("id_b") < 200).select("id_a", "id_b")
        .join(bp, Seq("id_a", "id_b"), "left_semi").count()
      println(f"semdedup K=$k%-3d pair recall = ${sp.toDouble / nbp}%.4f ($sp/$nbp)")
    }
    spark.stop()
  }
}
