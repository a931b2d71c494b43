package graft

import org.apache.spark.sql.functions._
import graft.pipeline.Similarity
import graft.streaming.IvfStream

/** Metadata-FILTERED ANN (r11 verdict #4): the filtered rungs return
  * top-k AGAINST THE FILTERED UNIVERSE — never a disallowed ref,
  * exactly k when the universe allows it, and ≡ brute-on-filtered
  * when the probe covers every list. */
class FilteredAnnSpec extends SparkSpec {

  test("assignOnIngestWithMeta: same (id, list) assignment as " +
    "assignOnIngest, metadata rides along") {
    val e = Tables.embeddings(spark, sf)
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 4)
    val plain = IvfStream.assignOnIngest(e, centers)
      .select("vec_id", "list")
    val withMeta = IvfStream.assignOnIngestWithMeta(e, centers,
      metaCols = Seq("label"))
    assert(withMeta.columns.toSeq ===
      Seq("vec_id", "embedding", "label", "list"))
    val a = withMeta.select("vec_id", "list")
    assert(a.exceptAll(plain).isEmpty && plain.exceptAll(a).isEmpty)
    // the label column is the table's own, untouched
    val lbl = withMeta.select("vec_id", "label")
    val src = e.select("vec_id", "label")
    assert(lbl.exceptAll(src).isEmpty && src.exceptAll(lbl).isEmpty)
  }

  test("ivfTopKFromIndex over a filtered index: never a disallowed " +
    "ref; nProbe=nLists " +
    "degenerates to brute-on-filtered exactly; pads to exactly k " +
    "against the FILTERED universe") {
    val e = Tables.embeddings(spark, sf).cache()
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 4)
    val index = IvfStream.assignOnIngestWithMeta(e, centers,
      metaCols = Seq("label"))
    val pred = col("label") === 2
    val qs = e.filter(col("vec_id") < 30)

    val got = Similarity.ivfTopKFromIndex(spark, qs, index.filter(pred),
      centers, 3, nProbe = 4).cache()
    // the predicate guarantee post-filtering cannot give
    val labels = e.select(col("vec_id").as("rid"), col("label"))
    assert(got.join(labels, "rid").filter(col("label") =!= 2)
      .count() === 0L)
    // exactly k per query, vs the FILTERED universe
    val allowed = e.filter(pred).count()
    assert(allowed > 3, s"fixture needs >k allowed refs, got $allowed")
    val perQ = got.groupBy("qid").count().collect()
    assert(perQ.length === 30 && perQ.forall(_.getLong(1) === 3L))
    // full probe coverage ≡ brute over the allowed refs
    val brute = Similarity.bruteForceTopK(qs, e.filter(pred), k = 3)
    assert(got.exceptAll(brute).isEmpty && brute.exceptAll(got).isEmpty)
    e.unpersist()
  }

  test("filtered rung under a HIGHLY selective predicate: the pad " +
    "brute-forces against allowed refs only, still exactly k") {
    val e = Tables.embeddings(spark, sf)
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 4)
    val index = IvfStream.assignOnIngestWithMeta(e, centers,
      metaCols = Seq("label"))
    // a universe of barely more than k vectors: most probes come back
    // short and the padShortQueries fallback must fill from the
    // allowed set only
    val pred = col("label") === 2 && col("vec_id") < 100
    val allowedIds = e.filter(pred).select("vec_id").collect()
      .map(_.getLong(0)).toSet
    assert(allowedIds.size > 3 && allowedIds.size < 20,
      s"fixture expects a thin universe, got ${allowedIds.size}")
    val qs = e.filter(col("vec_id") < 10)
    val got = Similarity.ivfTopKFromIndex(spark, qs, index.filter(pred),
      centers, 3, nProbe = 1).cache()
    val perQ = got.groupBy("qid").count().collect()
    assert(perQ.length === 10 && perQ.forall(_.getLong(1) === 3L))
    assert(got.select("rid").collect()
      .forall(r => allowedIds.contains(r.getLong(0))))
  }

  test("codes WithMeta ingest twins: same (id, codes, list) as the " +
    "plain twins, metadata rides along") {
    val e = Tables.embeddings(spark, sf)
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 4)
    val codec = Similarity.sqTrain(spark, e)

    val plainSq = IvfStream.assignAndEncodeOnIngest(e, centers, codec)
    val metaSq = IvfStream.assignAndEncodeOnIngestWithMeta(e, centers,
      codec, metaCols = Seq("label"))
    assert(metaSq.columns.toSeq === Seq("vec_id", "codes", "label", "list"))
    val aSq = metaSq.select("vec_id", "codes", "list")
    assert(aSq.exceptAll(plainSq).isEmpty && plainSq.exceptAll(aSq).isEmpty)

    val plainBq = IvfStream.assignAndBqEncodeOnIngest(e, centers)
    val metaBq = IvfStream.assignAndBqEncodeOnIngestWithMeta(e, centers,
      metaCols = Seq("label"))
    assert(metaBq.columns.toSeq === Seq("vec_id", "codes", "label", "list"))
    val aBq = metaBq.select("vec_id", "codes", "list")
    assert(aBq.exceptAll(plainBq).isEmpty && plainBq.exceptAll(aBq).isEmpty)

    // the label column is the table's own, untouched
    val lbl = metaSq.select("vec_id", "label")
    val src = e.select("vec_id", "label")
    assert(lbl.exceptAll(src).isEmpty && src.exceptAll(lbl).isEmpty)
  }

  test("metadata predicate on a DISK-BACKED codes index: the SQ and BQ " +
    "filtered rungs run a real label filter, ≡ pre-filtered route") {
    val e = Tables.embeddings(spark, sf)
    val tmp = tempDir("graft_fcodes").toString
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 4)
    val codec = Similarity.sqTrain(spark, e)
    val pred = col("label") === 2
    val qs = e.filter(col("vec_id") < 20)
    // the pre-filtered route: the payload alone, cut to the allowed ids
    val allowed = e.filter(pred).select("vec_id")
    def semi(df: org.apache.spark.sql.DataFrame) =
      df.join(allowed, Seq("vec_id"), "left_semi")

    IvfStream.assignAndEncodeOnIngestWithMeta(e, centers, codec,
        metaCols = Seq("label"))
      .write.partitionBy("list").mode("overwrite")
      .parquet(s"$tmp/sq/batch=0")
    val sqIdx = spark.read.parquet(s"$tmp/sq")
    val gotSq = Similarity.ivfSqTopKFromIndex(spark, qs, sqIdx.filter(pred),
      centers, codec, e.filter(pred), 3, shortlist = 10, nProbe = 4)
    val wantSq = Similarity.ivfSqTopKFromIndex(spark, qs,
      semi(sqIdx.select("vec_id", "codes", "list")), centers, codec, semi(e),
      k = 3, shortlist = 10, nProbe = 4)
    assert(gotSq.exceptAll(wantSq).isEmpty && wantSq.exceptAll(gotSq).isEmpty)
    val labels = e.select(col("vec_id").as("rid"), col("label"))
    assert(gotSq.join(labels, "rid").filter(col("label") =!= 2)
      .count() === 0L)

    IvfStream.assignAndBqEncodeOnIngestWithMeta(e, centers,
        metaCols = Seq("label"))
      .write.partitionBy("list").mode("overwrite")
      .parquet(s"$tmp/bq/batch=0")
    val bqIdx = spark.read.parquet(s"$tmp/bq")
    val gotBq = Similarity.ivfBqTopKFromIndex(spark, qs, bqIdx.filter(pred),
      centers, e.filter(pred), 3, shortlist = 10, nProbe = 4,
      asymmetric = true)
    val wantBq = Similarity.ivfBqTopKFromIndex(spark, qs,
      semi(bqIdx.select("vec_id", "codes", "list")), centers, semi(e), k = 3,
      shortlist = 10, nProbe = 4, asymmetric = true)
    assert(gotBq.exceptAll(wantBq).isEmpty && wantBq.exceptAll(gotBq).isEmpty)
    assert(gotBq.join(labels, "rid").filter(col("label") =!= 2)
      .count() === 0L)
  }

  test("SQ8 / BQ / PQ / Matryoshka IVF rungs over id-filtered frames " +
    "≡ the same rungs over id-semi-joined frames") {
    val e = Tables.embeddings(spark, sf)
    val pred = col("label") === 2
    val (centers, codec, sqIdxAll) = Similarity.ivfSqBuildIndex(spark,
      e, nLists = 4)
    // the codes index carries no metadata; an id predicate stands in
    // (the contract: the predicate must be evaluable on index AND refs)
    val allowed = e.filter(pred).select("vec_id").collect()
      .map(_.getLong(0)).toSeq
    val idPred = col("vec_id").isin(allowed: _*)
    val ids = e.filter(pred).select("vec_id")
    def semi(df: org.apache.spark.sql.DataFrame) =
      df.join(ids, Seq("vec_id"), "left_semi")
    val qs = e.filter(col("vec_id") < 20)
    val gotSq = Similarity.ivfSqTopKFromIndex(spark, qs,
      sqIdxAll.filter(idPred), centers, codec, e.filter(idPred), k = 3,
      shortlist = 10, nProbe = 4)
    val wantSq = Similarity.ivfSqTopKFromIndex(spark, qs, semi(sqIdxAll),
      centers, codec, semi(e), k = 3, shortlist = 10, nProbe = 4)
    assert(gotSq.exceptAll(wantSq).isEmpty &&
      wantSq.exceptAll(gotSq).isEmpty)
    assert(gotSq.select("rid").collect()
      .forall(r => allowed.contains(r.getLong(0))))

    val (centersB, bqIdx) = Similarity.ivfBqBuildIndex(spark, e,
      nLists = 4)
    val gotBq = Similarity.ivfBqTopKFromIndex(spark, qs,
      bqIdx.filter(idPred), centersB, e.filter(idPred), k = 3,
      shortlist = 10, nProbe = 4)
    val wantBq = Similarity.ivfBqTopKFromIndex(spark, qs, semi(bqIdx),
      centersB, semi(e), k = 3, shortlist = 10, nProbe = 4)
    assert(gotBq.exceptAll(wantBq).isEmpty &&
      wantBq.exceptAll(gotBq).isEmpty)
    assert(gotBq.select("rid").collect()
      .forall(r => allowed.contains(r.getLong(0))))

    val (pqModel, pqIdx) = Similarity.ivfPqBuildIndex(spark, e,
      nLists = 4, m = 8, nCodes = 16)
    val gotPq = Similarity.ivfPqTopKFromIndex(spark, qs,
      pqIdx.filter(idPred), pqModel, e.filter(idPred), k = 3,
      nProbe = 4, refine = 4)
    val wantPq = Similarity.ivfPqTopKFromIndex(spark, qs, semi(pqIdx),
      pqModel, semi(e), k = 3, nProbe = 4, refine = 4)
    assert(gotPq.exceptAll(wantPq).isEmpty &&
      wantPq.exceptAll(gotPq).isEmpty)
    assert(gotPq.select("rid").collect()
      .forall(r => allowed.contains(r.getLong(0))))

    val (mCenters, mIdx) = Similarity.matryoshkaIvfBuildIndex(spark, e,
      dims = 32, nLists = 4)
    val gotM = Similarity.matryoshkaIvfTopKFromIndex(spark, qs,
      mIdx.filter(idPred), mCenters, e.filter(idPred), k = 3, dims = 32,
      shortlist = 10, nProbe = 4)
    val wantM = Similarity.matryoshkaIvfTopKFromIndex(spark, qs, semi(mIdx),
      mCenters, semi(e), k = 3, dims = 32, shortlist = 10, nProbe = 4)
    assert(gotM.exceptAll(wantM).isEmpty && wantM.exceptAll(gotM).isEmpty)
    assert(gotM.select("rid").collect()
      .forall(r => allowed.contains(r.getLong(0))))
  }
}
