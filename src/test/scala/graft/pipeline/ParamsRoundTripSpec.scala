package graft.pipeline

/** [[VectorIndex]] Params persistence (`_vectorindex.properties`):
  * the serialization contract behind [[VectorIndex.load]], pinned at
  * the file layer so exotic-but-legal column names can be exercised
  * without building a full index around them. The r14 ADVICE case: a
  * metadata column name containing a comma used to round-trip through
  * the comma-joined `metaCols` value as TWO wrong names and fail much
  * later as an unresolved column inside a filtered probe. */
class ParamsRoundTripSpec extends graft.SparkSpec {

  private def roundTrip(p: VectorIndex.Params): VectorIndex.Params = {
    val tmp = tempDir("graft_vp").toString
    VectorIndex.writeParams(spark, tmp, p)
    VectorIndex.readParams(spark, tmp).getOrElse(
      fail("params file written but not readable back"))
  }

  test("metaCols with commas, spaces, and unicode round-trip exactly") {
    val p = VectorIndex.Params(VectorIndex.PqTier(m = 4, nCodes = 16,
      opqAuto = true), nLists = 7, nProbe = 3, shortlist = 40,
      refine = 5, seed = 7L, idCol = "doc id", vecCol = "emb,vec",
      dim = 48, trainCap = 1234, asymmetric = false,
      metaCols = Seq("lang,script", "source", "日付", "a=b c"))
    assert(roundTrip(p) === p)
  }

  test("empty metaCols and every tier round-trip") {
    val tiers = Seq(VectorIndex.FloatTier, VectorIndex.Sq8Tier,
      VectorIndex.BqTier, VectorIndex.PqTier(m = 8, nCodes = 32,
        opq = true, opqIters = 4),
      VectorIndex.MatryoshkaTier(prefixDims = 16))
    tiers.foreach { t =>
      val p = VectorIndex.Params(t)
      assert(roundTrip(p) === p, s"tier $t must round-trip")
    }
  }

  test("the r14 comma-joined legacy format still loads") {
    val tmp = tempDir("graft_vpl").toString
    // forge an r14-era properties file: comma-joined metaCols, no
    // metaCols.count key
    val props = new java.util.Properties()
    Seq("tier" -> "float", "nLists" -> "16", "nProbe" -> "2",
      "shortlist" -> "50", "refine" -> "4", "seed" -> "42",
      "idCol" -> "vec_id", "vecCol" -> "embedding", "dim" -> "64",
      "trainCap" -> "20000", "asymmetric" -> "true",
      "metaCols" -> "lang,source").foreach { case (k, v) =>
      props.setProperty(k, v)
    }
    val path = new org.apache.hadoop.fs.Path(tmp,
      "_vectorindex.properties")
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(path, true)
    try props.store(out, "legacy") finally out.close()
    val p = VectorIndex.readParams(spark, tmp).get
    assert(p.metaCols === Seq("lang", "source"),
      "legacy comma-joined metaCols must still parse")
    assert(p.tier === VectorIndex.FloatTier)
  }
}
