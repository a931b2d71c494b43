package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.pipeline.{Similarity, VectorIndex}
import graft.streaming.IvfStream

/** Every ANN rung's probe output pinned by digest: the SHA-256 of its
  * sorted (qid, rid, cos, rn) rows on the sf0.001 embeddings, each rung
  * once over the whole corpus and once under a metadata predicate (the
  * index and the refs both filtered), and the four [[VectorIndex]]
  * probe doors on every tier. The digests were taken from the
  * per-rung probes before they shared one implementation, so a change
  * to one row, one rounding or one tie-break of any rung fails here.
  * Two job counts pin the probe plans (one IVF, one flat). */
class RungDigestSpec extends SparkSpec {

  // shortlists near k, so every rung's stage-1 order decides its rows
  private val k = 5
  private val sl = 8
  private val pred: Column = col("label") < 5
  private lazy val e = {
    val df = Tables.embeddings(spark, sf).cache()
    df.count()
    df
  }
  private lazy val qs = e.filter(col("vec_id") < 40)

  private def digest(df: DataFrame): String = {
    val rows = df.select(col("qid").cast("long"), col("rid").cast("long"),
        col("cos").cast("double"), col("rn").cast("int")).collect()
      .map(r => s"${r.getLong(0)},${r.getLong(1)},${r.getDouble(2)},${r.getInt(3)}")
      .sorted
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(rows.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** Compare every named probe's digest; one failure lists them all. */
  private def assertDigests(probes: Seq[(String, () => DataFrame)]): Unit = {
    val wrong = probes.flatMap { case (name, probe) =>
      val got = digest(probe())
      if (expected.get(name).contains(got)) None
      else Some(s"\"$name\" -> \"$got\"")
    }
    assert(wrong.isEmpty, wrong.mkString("digest mismatch:\n", ",\n", ""))
  }

  private val expected: Map[String, String] = Map(
    "flat.sq8" -> "02fce5a37e34c54ea376cfd8929f0d68a828b5d68865ba19207b7169faf9c17b",
    "flat.sq8.filtered" -> "e3c1113236510e845824671b082fdcc9a836415115886a259316f7fff660ad88",
    "flat.bq" -> "97e984b61a92592b75acf6b0b2e1668bf91b87ccf52563e17f30c1d05e8cae4a",
    "flat.bq.filtered" -> "c32ae8fa0082ef3feb2cef942cc996d454d17629ff9ae9b22c965a024962c118",
    "flat.bq.asym" -> "4d4762244a7c109c78e95ba6f8c4d769b1fae0abc71e22658a45087a88a98c2c",
    "flat.bq.asym.filtered" -> "0042ef8ff99238e37dbc120b85c3aa2049c31389080687d38f0975355171a96d",
    "flat.matryoshka" -> "95d974cd43823e82ac73bae16c5c4c881230a9a4b2d7806ae44689794663b123",
    "flat.matryoshka.filtered" -> "69c84879ef777dab87246ea5af632739504f319a5a405ff4cb2613f5977620eb",
    "ivf.float" -> "ffaeeee9e8331d83881fd6b113b5cb3f7f2fdf4b3d8567b675199441ef4c3d97",
    "ivf.float.filtered" -> "db7e32ffe2a2686c5760a26c368f756fe3f4b8f05923f169716690a710925b05",
    "ivf.sq8" -> "ffaeeee9e8331d83881fd6b113b5cb3f7f2fdf4b3d8567b675199441ef4c3d97",
    "ivf.sq8.filtered" -> "db7e32ffe2a2686c5760a26c368f756fe3f4b8f05923f169716690a710925b05",
    "ivf.bq" -> "1c731f9494a0e491943f7f512c8845f32e08bac0eb4406dee697b930282bad8e",
    "ivf.bq.filtered" -> "9c10ec1b9422b18b6a74fffe9d90a5812bf62371dbcfed90e9e4fa2331c2c526",
    "ivf.bq.asym" -> "378a5d3e23aeebf79c20e2a6278a22c229cab50bf9b7938f340fe8690c8a3d96",
    "ivf.bq.asym.filtered" -> "dc3df84b79c56944a09c78d51508b24aa2d23b2b78b42cc9c8622ddd06b4d478",
    "ivf.pq" -> "de30bb4187cb29809ba031add60b7f2af466357c96210fb745a991c339d2e9b3",
    "ivf.pq.filtered" -> "01eaddc8bf6996bd9e6da8aa933f23be69effda1166a5dc6239d36cf7365ed1a",
    "ivf.opq" -> "5b6a429939a772c604439a0cdcc5e58ab2636da00825bc7fbf42834e0f16af52",
    "ivf.opq.filtered" -> "666f84595e8b72f38ea4d30ff072fc66ae965f2dfeda94ac736b222f677e8022",
    "ivf.matryoshka" -> "0e000efbb4470f89f6db5b4d267b9ff7714bf1cacda73c623b498f06e30786d2",
    "ivf.matryoshka.filtered" -> "635fec1b717ffbd9647d87cd3887e6dc65dd040a4c1ee36e60f46145fd84391a",
    "vi.float.topK" -> "ffaeeee9e8331d83881fd6b113b5cb3f7f2fdf4b3d8567b675199441ef4c3d97",
    "vi.float.topKFiltered" -> "db7e32ffe2a2686c5760a26c368f756fe3f4b8f05923f169716690a710925b05",
    "vi.float.topKPinned" -> "ffaeeee9e8331d83881fd6b113b5cb3f7f2fdf4b3d8567b675199441ef4c3d97",
    "vi.float.topKFilteredPinned" -> "db7e32ffe2a2686c5760a26c368f756fe3f4b8f05923f169716690a710925b05",
    "vi.sq8.topK" -> "ffaeeee9e8331d83881fd6b113b5cb3f7f2fdf4b3d8567b675199441ef4c3d97",
    "vi.sq8.topKFiltered" -> "db7e32ffe2a2686c5760a26c368f756fe3f4b8f05923f169716690a710925b05",
    "vi.sq8.topKPinned" -> "ffaeeee9e8331d83881fd6b113b5cb3f7f2fdf4b3d8567b675199441ef4c3d97",
    "vi.sq8.topKFilteredPinned" -> "db7e32ffe2a2686c5760a26c368f756fe3f4b8f05923f169716690a710925b05",
    "vi.bq.topK" -> "378a5d3e23aeebf79c20e2a6278a22c229cab50bf9b7938f340fe8690c8a3d96",
    "vi.bq.topKFiltered" -> "dc3df84b79c56944a09c78d51508b24aa2d23b2b78b42cc9c8622ddd06b4d478",
    "vi.bq.topKPinned" -> "378a5d3e23aeebf79c20e2a6278a22c229cab50bf9b7938f340fe8690c8a3d96",
    "vi.bq.topKFilteredPinned" -> "dc3df84b79c56944a09c78d51508b24aa2d23b2b78b42cc9c8622ddd06b4d478",
    "vi.pq.topK" -> "de30bb4187cb29809ba031add60b7f2af466357c96210fb745a991c339d2e9b3",
    "vi.pq.topKFiltered" -> "01eaddc8bf6996bd9e6da8aa933f23be69effda1166a5dc6239d36cf7365ed1a",
    "vi.pq.topKPinned" -> "de30bb4187cb29809ba031add60b7f2af466357c96210fb745a991c339d2e9b3",
    "vi.pq.topKFilteredPinned" -> "01eaddc8bf6996bd9e6da8aa933f23be69effda1166a5dc6239d36cf7365ed1a",
    "vi.opq.topK" -> "5b6a429939a772c604439a0cdcc5e58ab2636da00825bc7fbf42834e0f16af52",
    "vi.opq.topKFiltered" -> "666f84595e8b72f38ea4d30ff072fc66ae965f2dfeda94ac736b222f677e8022",
    "vi.opq.topKPinned" -> "5b6a429939a772c604439a0cdcc5e58ab2636da00825bc7fbf42834e0f16af52",
    "vi.opq.topKFilteredPinned" -> "666f84595e8b72f38ea4d30ff072fc66ae965f2dfeda94ac736b222f677e8022",
    "vi.matryoshka.topK" -> "0e000efbb4470f89f6db5b4d267b9ff7714bf1cacda73c623b498f06e30786d2",
    "vi.matryoshka.topKFiltered" -> "635fec1b717ffbd9647d87cd3887e6dc65dd040a4c1ee36e60f46145fd84391a",
    "vi.matryoshka.topKPinned" -> "0e000efbb4470f89f6db5b4d267b9ff7714bf1cacda73c623b498f06e30786d2",
    "vi.matryoshka.topKFilteredPinned" -> "635fec1b717ffbd9647d87cd3887e6dc65dd040a4c1ee36e60f46145fd84391a"
  )

  private val expectedJobs: Map[String, Int] = Map(
    "ivf.sq8" -> 14, "flat.sq8" -> 11)

  test("flat rungs: SQ8, BQ symmetric, BQ asymmetric, Matryoshka — " +
    "whole and filtered") {
    val (codec, codes) = Similarity.sqBuildIndex(spark, e)
    val metaCodes = codes.join(e.select("vec_id", "label"), "vec_id")
    val ef = e.filter(pred)
    assertDigests(Seq(
      "flat.sq8" -> (() => Similarity.sqTopKFromIndex(spark, qs, codes,
        codec, e, k, sl)),
      "flat.sq8.filtered" -> (() => Similarity.sqTopKFromIndex(spark, qs,
        metaCodes.filter(pred), codec, ef, k, sl)),
      "flat.bq" -> (() => Similarity.bqTopK(spark, qs, e, k, sl)),
      "flat.bq.filtered" -> (() => Similarity.bqTopK(spark, qs, ef, k, sl)),
      "flat.bq.asym" -> (() => Similarity.bqTopK(spark, qs, e, k, sl,
        asymmetric = true)),
      "flat.bq.asym.filtered" -> (() => Similarity.bqTopK(spark, qs, ef, k,
        sl, asymmetric = true)),
      "flat.matryoshka" -> (() => Similarity.matryoshkaTopK(qs, e, k,
        shortlist = sl)),
      "flat.matryoshka.filtered" -> (() => Similarity.matryoshkaTopK(qs, ef,
        k, shortlist = sl))))
  }

  test("IVF rungs: float, SQ8, BQ symmetric, BQ asymmetric, PQ, OPQ, " +
    "Matryoshka — whole and filtered") {
    val meta = Seq("label")
    val ef = e.filter(pred)
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 4)
    val codec = Similarity.sqTrain(spark, e)
    val pq = Similarity.ivfPqTrainModel(spark, e, nLists = 4, m = 8,
      nCodes = 16)
    val opq = Similarity.ivfOpqTrainModel(spark, e, nLists = 4, m = 8,
      nCodes = 16, iters = 3)
    val (mCenters, _) = Similarity.matryoshkaIvfBuildIndex(spark, e,
      dims = 32, nLists = 4)
    val floatIdx = IvfStream.assignOnIngestWithMeta(e, centers,
      metaCols = meta)
    val sqIdx = IvfStream.assignAndEncodeOnIngestWithMeta(e, centers, codec,
      metaCols = meta)
    val bqIdx = IvfStream.assignAndBqEncodeOnIngestWithMeta(e, centers,
      metaCols = meta)
    val pqIdx = IvfStream.assignAndPqEncodeOnIngestWithMeta(e, pq,
      metaCols = meta)
    val opqIdx = IvfStream.assignAndPqEncodeOnIngestWithMeta(e, opq,
      metaCols = meta)
    val mIdx = IvfStream.assignOnIngestWithMeta(
      e.withColumn("embedding", slice(col("embedding"), 1, 32)), mCenters,
      metaCols = meta)
    def both(name: String)(probe: (DataFrame, DataFrame) => DataFrame,
                           idx: DataFrame) = Seq(
      name -> (() => probe(idx, e)),
      s"$name.filtered" -> (() => probe(idx.filter(pred), ef)))
    assertDigests(
      both("ivf.float")((i, _) => Similarity.ivfTopKFromIndex(spark, qs, i,
        centers, k), floatIdx) ++
      both("ivf.sq8")((i, r) => Similarity.ivfSqTopKFromIndex(spark, qs, i,
        centers, codec, r, k, sl), sqIdx) ++
      both("ivf.bq")((i, r) => Similarity.ivfBqTopKFromIndex(spark, qs, i,
        centers, r, k, sl), bqIdx) ++
      both("ivf.bq.asym")((i, r) => Similarity.ivfBqTopKFromIndex(spark, qs,
        i, centers, r, k, sl, asymmetric = true), bqIdx) ++
      both("ivf.pq")((i, r) => Similarity.ivfPqTopKFromIndex(spark, qs, i,
        pq, r, k, refine = 2), pqIdx) ++
      both("ivf.opq")((i, r) => Similarity.ivfPqTopKFromIndex(spark, qs, i,
        opq, r, k, refine = 2), opqIdx) ++
      both("ivf.matryoshka")((i, r) => Similarity
        .matryoshkaIvfTopKFromIndex(spark, qs, i, mCenters, r, k,
          shortlist = sl, nProbe = 2), mIdx))
  }

  test("VectorIndex: topK, topKFiltered, topKPinned and " +
    "topKFilteredPinned on every tier") {
    val tiers: Seq[(String, VectorIndex.Tier)] = Seq(
      ("float", VectorIndex.FloatTier),
      ("sq8", VectorIndex.Sq8Tier),
      ("bq", VectorIndex.BqTier),
      ("pq", VectorIndex.PqTier(m = 8, nCodes = 16)),
      ("opq", VectorIndex.PqTier(m = 8, nCodes = 16, opq = true,
        opqIters = 3)),
      ("matryoshka", VectorIndex.MatryoshkaTier(prefixDims = 32)))
    val cols = e.select("vec_id", "embedding", "label")
    assertDigests(tiers.flatMap { case (name, tier) =>
      val dir = tempDir(s"digest_$name").toString
      val params = VectorIndex.Params(tier, nLists = 4, nProbe = 2,
        shortlist = sl, refine = 2, metaCols = Seq("label"))
      val vi = VectorIndex.train(spark, e, params, s"$dir/idx")
      vi.enrollSnapshots(spark)
      vi.ingest(spark, cols.filter(col("vec_id") % 2 === 0), 0L)
      vi.ingest(spark, cols.filter(col("vec_id") % 2 =!= 0), 1L)
      val snap = vi.pin(spark)
      Seq(
        s"vi.$name.topK" -> (() => vi.topK(spark, qs, e, k)),
        s"vi.$name.topKFiltered" -> (() => vi.topKFiltered(spark, qs, e, k,
          pred)),
        s"vi.$name.topKPinned" -> (() => vi.topKPinned(spark, snap, qs, e,
          k)),
        s"vi.$name.topKFilteredPinned" -> (() => vi.topKFilteredPinned(spark,
          snap, qs, e, k, pred)))
    })
  }

  test("job counts: one IVF probe and one flat probe run as many Spark " +
    "jobs as before the probes were shared") {
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 4)
    val (codec, codes) = Similarity.sqBuildIndex(spark, e)
    val sqIdx = IvfStream.assignAndEncodeOnIngest(e, centers, codec)
    val (_, ivfJobs) = countingJobs(Similarity.ivfSqTopKFromIndex(spark, qs,
      sqIdx, centers, codec, e, k, sl).collect())
    val (_, flatJobs) = countingJobs(Similarity.sqTopKFromIndex(spark, qs,
      codes, codec, e, k, sl).collect())
    val got = Map("ivf.sq8" -> ivfJobs, "flat.sq8" -> flatJobs)
    assert(got === expectedJobs)
  }
}
