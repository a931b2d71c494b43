package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.pipeline.{QualityClassifier, TextAnalysis}
import graft.streaming.ModelStore.{FloatCenters, SqQuantizer}

/** The FULL curation chain as one streaming entry point — the live
  * twin of [[graft.pipeline.Curate.corpus]], composed from the same
  * individually-oracled gates the ingest surface already ships:
  *
  *  1. RULE GATE — [[TextAnalysis.keepDecision]] (stateless map);
  *  2. MODEL GATE — a FROZEN [[QualityClassifier.TextScorer]]
  *     (trained offline; scoring is a stateless map — the
  *     [[DocsStream.classifierScoreOnIngest]] posture);
  *  3. EXACT DEDUP — md5 fingerprints against an accumulated
  *     cross-batch fingerprint index (16 bytes/doc state, like the
  *     band index — not the watermark-bounded `dropDuplicates` state
  *     store, because curation must dedup against the WHOLE corpus
  *     history, not a time window);
  *  4. NEAR-DUP GATE — [[NearDupStream.filterBatch]] against the
  *     accumulated band-key index;
  *  5. SPLIT STAMP — [[TextAnalysis.splitLabel]] on the doc id.
  *
  * Stream ≡ batch: when arrivals come in id order, the survivor set
  * equals `Curate.corpus(..., scorer = Some(sameScorer), verify =
  * "sig")` exactly — gates 1+2 are the same stateless expressions,
  * first-arrival exact dedup = min-id-per-text, the near-dup gate
  * agrees with minhashLsh("sig") + min-id clusters whenever dup-pairs
  * verify directly (the [[NearDupStream]] semantics note), and the
  * split stamp agrees because every batch-side SURVIVOR is its own
  * near-dup cluster representative, so `leakageSafeSplits` hashes the
  * survivor's own id — the same `splitLabel(doc_id)` the stream
  * stamps. PipelineSpec asserts keep-set AND split parity across
  * micro-batches on an ordered fixture.
  *
  * Scale: gates 1, 2 and 5 are narrow maps; gate 3 is one 16-byte-key
  * equi-join per batch; gate 4 is the measured-flat band-key join
  * (ProbeNearDupStream, r8b). Both indexes append per-batch
  * partitions and compact like [[NearDupStream.compactIndex]]. */
object CurateStream {

  /** One micro-batch of the chain. `exactIndex` holds the md5
    * fingerprints (column `fp`) of every PRIOR gated arrival;
    * `bandIndex` the accumulated (doc_id, band, bucket, sig) rows.
    * Returns (curated, fpAdd, bandAdd): the batch's surviving rows
    * with (score, split), and the rows to append to each index — ALL
    * gated arrivals index, kept or dropped, so chain-copies of a
    * dropped doc are still caught. Both index frames come back
    * PERSISTED (they were materialized once for the batch's own
    * joins); the caller selects its index columns, writes, and then
    * unpersists BOTH — [[attach]] does — so a long-running stream
    * holds zero cached frames between triggers. */
  def curateBatch(batch: DataFrame, scorer: QualityClassifier.TextScorer,
                  exactIndex: DataFrame, bandIndex: DataFrame,
                  minScore: Double = 0.5, n: Int = 3, k: Int = 64,
                  bands: Int = 16, threshold: Double = 0.5,
                  pTrain: Double = 0.8, pVal: Double = 0.1,
                  md5Based: Boolean = false, idCol: String = "doc_id",
                  textCol: String = "text")
      : (DataFrame, DataFrame, DataFrame) = {
    // 1+2: rule gate + frozen-scorer model gate — one stateless plan
    val scored = QualityClassifier.scoreText(batch, scorer, textCol)
      .select(col(idCol), col("keep"), round(col("score"), 6).as("score"))
    val gated = batch.join(
      scored.filter(col("keep") && col("score") >= minScore).select(idCol),
      Seq(idCol), "left_semi")
    // 3: exact dedup — prior-batch fingerprints ∪ earlier-id-in-batch
    val fp = gated.select(col(idCol), md5(col(textCol)).as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    fp.count() // materialize once: three consumers below
    val priorHit = fp.join(exactIndex.select("fp"), Seq("fp"), "left_semi")
      .select(idCol)
    val batchMin = fp.groupBy("fp").agg(min(col(idCol)).as("_min"))
    val selfDup = fp.join(batchMin, "fp")
      .filter(col(idCol) =!= col("_min")).select(idCol)
    val exacted = gated.join(priorHit.unionByName(selfDup).distinct(),
      Seq(idCol), "left_anti")
    // 4: near-dup gate against the accumulated band index
    val (survivors, bandAdd) = NearDupStream.filterBatch(exacted, bandIndex,
      n, k, bands, threshold, md5Based, idCol, textCol)
    // 5: score + split stamp on the survivors
    val curated = survivors
      .join(scored.select(col(idCol), col("score")), Seq(idCol))
      .withColumn("split",
        TextAnalysis.splitLabel(col(idCol), pTrain, pVal))
    (curated, fp, bandAdd)
  }

  /** Wire the chain into a running stream: foreachBatch maintains the
    * fingerprint index at `fpIndexDir` and the band-key index at
    * `bandIndexDir`, writing survivors to `outDir`. All three writes
    * use the [[NearDupStream.attach]] idempotency pattern — one
    * overwritten `batch=<batchId>` partition per trigger, index reads
    * excluding the replaying batch's own partition — so crash-replay
    * rewrites the same files and never drops a doc against its own
    * earlier write. Compact the indexes while quiesced with
    * [[NearDupStream.compactIndex]] (band) and [[compactFpIndex]]
    * (fp). */
  def attach(stream: DataFrame, scorer: QualityClassifier.TextScorer,
             fpIndexDir: String, bandIndexDir: String, outDir: String,
             checkpointDir: String, minScore: Double = 0.5, n: Int = 3,
             k: Int = 64, bands: Int = 16, threshold: Double = 0.5,
             pTrain: Double = 0.8, pVal: Double = 0.1,
             md5Based: Boolean = false): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val fpIdx = readFpIndex(spark, fpIndexDir, excludeBatch = batchId)
        val bandIdx = NearDupStream.readIndex(spark, bandIndexDir, k,
          excludeBatch = batchId)
        val (curated, fpAdd, bandAdd) = curateBatch(batch, scorer,
          fpIdx, bandIdx, minScore, n, k, bands, threshold, pTrain, pVal,
          md5Based)
        curated.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        // gate indexes stay IN-PLACE on replay — see the
        // [[NearDupStream.attach]] note: excludeBatch's self-gating
        // defense needs the prior attempt under its own `batch=` value
        fpAdd.select("fp")
          .write.mode("overwrite").parquet(s"$fpIndexDir/batch=$batchId")
        bandAdd.select("doc_id", "band", "bucket", "sig")
          .write.mode("overwrite").parquet(s"$bandIndexDir/batch=$batchId")
        IndexManifest.commitBatch(spark, fpIndexDir, batchId)
        IndexManifest.commitBatch(spark, bandIndexDir, batchId)
        // unpersist BOTH per-batch caches (r9 ADVICE: fp leaked one
        // cached frame per trigger — over the millions of triggers a
        // 100 TB ingest implies, unbounded block-manager growth)
        fpAdd.unpersist()
        bandAdd.unpersist()
        ()
      }
      .start()

  /** The FULL live pipeline in one foreachBatch — gate documents, then
    * make exactly the kept ones searchable: [[curateBatch]] curates
    * each arriving micro-batch and the SURVIVORS' embedding vectors
    * are assigned into the list-partitioned IVF index
    * ([[IvfStream.encode]] under the same frozen-model posture
    * as the scorer: centroids trained offline, broadcast, stateless
    * narrow assignment). The embedding column rides the document
    * stream (`embedCol`); all four writes use the per-batch
    * idempotent-partition pattern, so crash replay rewrites the same
    * files on every surface. Per trigger, the searchable id set
    * equals the curated id set BY CONSTRUCTION of the same `curated`
    * frame feeding both writes — PipelineSpec pins it end-to-end, plus
    * that an [[Similarity.ivfTopKFromIndex]] probe over the accrued
    * index only ever returns curated documents. */
  def attachWithIvf(stream: DataFrame, scorer: QualityClassifier.TextScorer,
                    centers: Array[Array[Double]], fpIndexDir: String,
                    bandIndexDir: String, ivfIndexDir: String,
                    outDir: String, checkpointDir: String,
                    minScore: Double = 0.5, n: Int = 3, k: Int = 64,
                    bands: Int = 16, threshold: Double = 0.5,
                    pTrain: Double = 0.8, pVal: Double = 0.1,
                    md5Based: Boolean = false, idCol: String = "doc_id",
                    embedCol: String = "embedding"): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val fpIdx = readFpIndex(spark, fpIndexDir, excludeBatch = batchId)
        val bandIdx = NearDupStream.readIndex(spark, bandIndexDir, k,
          excludeBatch = batchId)
        val (curated, fpAdd, bandAdd) = curateBatch(batch, scorer,
          fpIdx, bandIdx, minScore, n, k, bands, threshold, pTrain, pVal,
          md5Based, idCol)
        val kept = curated.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        kept.drop(embedCol).write.mode("overwrite")
          .parquet(s"$outDir/batch=$batchId")
        // the ivf index has no self-read inside the trigger, so its
        // replay routes copy-on-write (r14 installBatch); the two gate
        // indexes stay IN-PLACE — see the [[NearDupStream.attach]]
        // note on excludeBatch's self-gating defense
        graft.streaming.IvfStream.installBatch(batch.sparkSession,
          ivfIndexDir, batchId, graft.streaming.IvfStream.encode(
            kept.select(col(idCol), col(embedCol)), FloatCenters(centers), idCol,
            embedCol))
        fpAdd.select("fp")
          .write.mode("overwrite").parquet(s"$fpIndexDir/batch=$batchId")
        bandAdd.select("doc_id", "band", "bucket", "sig")
          .write.mode("overwrite").parquet(s"$bandIndexDir/batch=$batchId")
        IndexManifest.commitBatch(batch.sparkSession, fpIndexDir, batchId)
        IndexManifest.commitBatch(batch.sparkSession, bandIndexDir, batchId)
        kept.unpersist()
        fpAdd.unpersist()
        bandAdd.unpersist()
        ()
      }
      .start()

  /** [[attachWithIvf]] writing the 4×-COMPRESSED index: survivors'
    * vectors are assigned AND int8-encoded in the one
    * [[IvfStream.encode]] narrow pass (both
    * quantizers frozen broadcasts, the scorer posture), so the live
    * pipeline accrues the [[graft.pipeline.Similarity.ivfSqBuildIndex]]
    * codes layout instead of float vectors — at 100 TB of arriving
    * embeddings the difference between the searchable index fitting
    * the hot tier or not. Search the accrued directory with
    * [[graft.pipeline.Similarity.ivfSqTopKFromIndex]] over
    * [[IvfStream.readIndex]]; maintain it with
    * [[IvfStream.reassign]] / [[IvfStream.compactIndex]] while
    * quiesced. Same per-batch idempotent-partition pattern on all four
    * writes; searchable ids ≡ curated ids per trigger by construction
    * (PipelineSpec pins it end-to-end). */
  def attachWithIvfSq(stream: DataFrame,
                      scorer: QualityClassifier.TextScorer,
                      centers: Array[Array[Double]],
                      codec: graft.pipeline.Similarity.SqCodec,
                      fpIndexDir: String, bandIndexDir: String,
                      ivfIndexDir: String, outDir: String,
                      checkpointDir: String, minScore: Double = 0.5,
                      n: Int = 3, k: Int = 64, bands: Int = 16,
                      threshold: Double = 0.5, pTrain: Double = 0.8,
                      pVal: Double = 0.1, md5Based: Boolean = false,
                      idCol: String = "doc_id",
                      embedCol: String = "embedding"): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val fpIdx = readFpIndex(spark, fpIndexDir, excludeBatch = batchId)
        val bandIdx = NearDupStream.readIndex(spark, bandIndexDir, k,
          excludeBatch = batchId)
        val (curated, fpAdd, bandAdd) = curateBatch(batch, scorer,
          fpIdx, bandIdx, minScore, n, k, bands, threshold, pTrain, pVal,
          md5Based, idCol)
        val kept = curated.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        kept.drop(embedCol).write.mode("overwrite")
          .parquet(s"$outDir/batch=$batchId")
        // ivf replay copy-on-write; gate indexes in-place — see the
        // [[NearDupStream.attach]] excludeBatch note
        graft.streaming.IvfStream.installBatch(batch.sparkSession,
          ivfIndexDir, batchId,
          graft.streaming.IvfStream.encode(
            kept.select(col(idCol), col(embedCol)), SqQuantizer(centers, codec),
            idCol, embedCol))
        fpAdd.select("fp")
          .write.mode("overwrite").parquet(s"$fpIndexDir/batch=$batchId")
        bandAdd.select("doc_id", "band", "bucket", "sig")
          .write.mode("overwrite").parquet(s"$bandIndexDir/batch=$batchId")
        IndexManifest.commitBatch(batch.sparkSession, fpIndexDir, batchId)
        IndexManifest.commitBatch(batch.sparkSession, bandIndexDir, batchId)
        kept.unpersist()
        fpAdd.unpersist()
        bandAdd.unpersist()
        ()
      }
      .start()

  /** Compact the fingerprint index's per-batch partition litter into
    * one fp-sorted file set under `batch=-1` — the [[NearDupStream
    * .compactIndex]] twin the fp index was missing (r9 verdict #5: its
    * partition count otherwise grows one per trigger forever, and the
    * r8b probe showed per-batch probe drift tracks un-compacted file
    * count). Sorting by `fp` clusters each 16-byte key for the
    * per-batch left_semi probe; the swap is the [[IndexSwap]] crash
    * discipline (an interrupted run self-heals on the next read).
    * Run while the stream is quiesced. */
  /** Fragmentation-driven compaction for the fingerprint index — the
    * [[NearDupStream.compactIndexIfFragmented]] twin: compacts when
    * the `batch=` count exceeds `maxBatches`, no-ops otherwise;
    * returns whether it compacted. Run quiesced. */
  def compactFpIndexIfFragmented(spark: SparkSession, fpIndexDir: String,
                                 maxBatches: Int,
                                 partitions: Int = 32): Boolean = {
    val batches = IndexSwap.countBatches(spark, fpIndexDir)
    if (batches > maxBatches) { compactFpIndex(spark, fpIndexDir, partitions); true }
    else false
  }

  def compactFpIndex(spark: SparkSession, fpIndexDir: String,
                     partitions: Int = 32): Unit = {
    IndexSwap.requireLive(spark, fpIndexDir, "compactFpIndex")
    val content = readFpIndex(spark, fpIndexDir)
      .repartitionByRange(partitions, col("fp"))
      .sortWithinPartitions("fp")
    IndexManifest.current(spark, fpIndexDir) match {
      case Some(snap) =>
        // copy-on-write + commit (the [[NearDupStream.compactIndex]]
        // manifested route): pinned readers stay byte-stable
        content.write.mode("overwrite")
          .parquet(s"$fpIndexDir/batch=${snap.rewriteBatchId}")
        IndexManifest.commitRewrite(spark, fpIndexDir, snap, snap.leaves)
        ()
      case None =>
        val tmp = fpIndexDir + ".compact"
        content.write.mode("overwrite").parquet(s"$tmp/batch=-1")
        IndexSwap.swap(spark, fpIndexDir, tmp)
    }
  }

  /** Accumulated fingerprint rows (`fp`), or an empty typed frame
    * before the first write — the [[NearDupStream.readIndex]] shape
    * (Hadoop-FS existence check, `excludeBatch` replay scoping, the
    * interrupted-[[compactFpIndex]] self-heal). */
  def readFpIndex(spark: SparkSession, fpIndexDir: String,
                  excludeBatch: Long = Long.MinValue): DataFrame = {
    IndexSwap.restoreIfInterrupted(spark, fpIndexDir)
    // manifested index: plan from the pinned snapshot, never a listing
    IndexManifest.current(spark, fpIndexDir).foreach { snap =>
      return IndexManifest.readSnapshot(spark, fpIndexDir, snap)
        .map { raw =>
          val scoped =
            if (raw.columns.contains("batch"))
              raw.filter(col("batch") =!= lit(excludeBatch))
            else raw
          scoped.select("fp")
        }
        .getOrElse(emptyFpFrame(spark))
    }
    val path = new org.apache.hadoop.fs.Path(fpIndexDir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(path) && fs.listStatus(path).nonEmpty) {
      val raw = spark.read.parquet(fpIndexDir)
      val scoped =
        if (raw.columns.contains("batch"))
          raw.filter(col("batch") =!= lit(excludeBatch))
        else raw
      scoped.select("fp")
    } else emptyFpFrame(spark)
  }

  private def emptyFpFrame(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("fp",
          org.apache.spark.sql.types.StringType))))
}
