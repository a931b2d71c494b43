package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.pipeline.Similarity

/** Streaming VECTOR ingest into an IVF index — the embedding-side twin
  * of the document gates: a live pipeline that embeds arriving
  * documents needs its vectors SEARCHABLE without nightly re-indexing,
  * and IVF's structure is exactly what makes that a stateless stream:
  * the coarse quantizer is FROZEN at train time (the
  * [[DocsStream.classifierScoreOnIngest]] posture — centroids are
  * nLists·dim doubles, broadcast-sized anywhere), so assignment is one
  * narrow typed map per arrival, no aggregate, no state store, no
  * shuffle.
  *
  * The index accrues as list-partitioned parquet
  * (`indexDir/batch=<id>/list=<l>/`) with the [[NearDupStream.attach]]
  * idempotency pattern — one overwritten batch partition per trigger,
  * so crash replay rewrites the same files. Search goes through
  * [[Similarity.ivfTopKFromIndex]]: probed lists are a ≤nLists
  * driver-side set, so the probe filter lands in the parquet scan as
  * `PartitionFilters` and a query reads nProbe/nLists of the index
  * bytes — at 100 TB of accumulated vectors that pruning IS the
  * difference between an ANN index and a full scan. Route equality
  * with the batch [[Similarity.ivfTopK]] under shared centroids is
  * pinned by PipelineSpec; the assignment arithmetic is ONE definition
  * ([[Similarity.ivfNearest]]) for all three call sites.
  *
  * Re-train cadence is the caller's: k-means centroids drift as the
  * corpus distribution does, so production re-trains offline
  * ([[Similarity.ivfTrainCentroids]]) and re-attaches — the accrued
  * index re-assigns with one batch `assignOnIngest` pass, not a
  * re-shuffle (assignment is a narrow map at any size). */
object IvfStream {

  /** Stateless list assignment: (idCol, vecCol, list) — one plan
    * serves batch and readStream. */
  def assignOnIngest(vecs: DataFrame, centers: Array[Array[Double]],
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centers)
    vecs.select(col(idCol).cast("long").as(idCol), col(vecCol).as(vecCol))
      .as[(Long, Array[Float])]
      .map { case (id, v) => (id, v, Similarity.ivfNearest(bc.value, v, 1)(0)) }
      .toDF(idCol, vecCol, "list")
  }

  /** Wire vector ingest into a running stream: each micro-batch is
    * assigned against the frozen centroids and lands in its own
    * idempotent `batch=<id>` partition, sub-partitioned by list.
    *
    * `stalenessDir`: when set, each trigger also writes its
    * [[quantizerStaleness]] reading (one row) to an idempotent
    * `batch=<id>` partition there — the per-trigger drift log a
    * deployment alerts on to schedule [[reassign]] (one extra narrow
    * map + ≤nLists-row aggregate per trigger, the signal's documented
    * price).
    *
    * `metaCols`: extra columns to carry into the index rows
    * ([[assignOnIngestWithMeta]]) so a filtered
    * [[graft.pipeline.Similarity.ivfTopKFromIndex]] probe gets
    * `PushedFilters` on them — the same parameter the codec tiers
    * ([[attachSq]]/[[attachBq]]/[[attachPq]]) take (r12 ADVICE: the
    * float tier was the only wire-in without it).
    *
    * `maintainEvery` (r12 verdict #2): the hands-free maintenance
    * cadence — every N triggers, BEFORE the trigger's batch write
    * (r13 ADVICE: running it after folded the just-written batch into
    * the rewrite, so a crash-replayed trigger re-added its rows —
    * maintenance now folds only previously committed batches and the
    * replay stays idempotent), [[maintain]] consumes the staleness log
    * against `maintainPolicy` — this trigger's drift reading included,
    * its rows not yet indexed — and, when it fires, the RETURNED
    * centroids replace the frozen quantizer starting with THIS
    * trigger's write (assignment re-broadcasts per trigger, so the
    * swap is a driver-side variable). Requires
    * `stalenessDir` (the decision's evidence) and `maintainPolicy`.
    * The cadence counts THIS RUN's triggers — a restart resets the
    * phase, not the policy (the staleness log persists, so the
    * decision inputs survive restarts; only the modulo phase moves).
    * `onMaintain` sees every report a cadence check produces — wire
    * it to metrics in a deployment. Runs inside foreachBatch, so
    * triggers serialize with it; concurrent PROBES need the index
    * enrolled in [[IndexManifest]] (then the rewrite is copy-on-write
    * and pinned readers hold their snapshot — q215's contract). */
  def attach(stream: DataFrame, centers: Array[Array[Double]],
             indexDir: String, checkpointDir: String,
             idCol: String = "vec_id",
             vecCol: String = "embedding",
             stalenessDir: Option[String] = None,
             metaCols: Seq[String] = Seq.empty,
             maintainEvery: Option[Int] = None,
             maintainPolicy: Option[MaintainPolicy] = None,
             maintainMiniBatch: Boolean = false,
             maintainSeed: Long = 42,
             onMaintain: MaintainReport => Unit = _ => ()): StreamingQuery = {
    requireCadenceArgs("attach", maintainEvery, maintainPolicy,
      stalenessDir, refsNeeded = false, refsGiven = true)
    var curCenters = centers
    val triggers = new java.util.concurrent.atomic.AtomicLong(0L)
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // trigger order (r13 ADVICE, idempotency): (1) staleness — this
        // trigger's drift evidence enters the log BEFORE the cadence
        // decision reads it; (2) cadence/maintain — a firing rewrite
        // folds only PREVIOUSLY COMMITTED batches, so a crash-replayed
        // trigger never finds its own rows already folded (the old
        // write-then-maintain order silently duplicated every row of a
        // replayed trigger); (3) the batch write — assigned under the
        // possibly-just-refreshed quantizer, via the replay-safe
        // [[installBatch]].
        stalenessDir.foreach { dir =>
          quantizerStaleness(batch, curCenters, idCol, vecCol)
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$dir/batch=$batchId")
        }
        if (cadenceDue(triggers, maintainEvery)) {
          val (report, newCenters) = maintain(batch.sparkSession, indexDir,
            stalenessDir.get, curCenters, maintainPolicy.get, maintainSeed,
            idCol, vecCol, maintainMiniBatch)
          newCenters.foreach(curCenters = _)
          onMaintain(report)
        }
        installBatch(batch.sparkSession, indexDir, batchId,
          if (metaCols.isEmpty)
            assignOnIngest(batch, curCenters, idCol, vecCol)
          else
            assignOnIngestWithMeta(batch, curCenters, idCol, vecCol,
              metaCols))
        ()
      }
      .start()
  }

  /** Install one trigger's (or batch backfill's) `batch=<id>` tree
    * idempotently — the ONE write path all four attach wire-ins and
    * [[graft.pipeline.VectorIndex#ingest]] share. Un-manifested
    * indexes get the plain overwrite (replay rewrites the same files —
    * the original idempotency design). A MANIFESTED index whose
    * current manifest still references `batch=<id>` is seeing a
    * crash-REPLAYED committed trigger (r13 ADVICE: overwriting that
    * leaf in place would mutate live-referenced files, tearing a
    * reader pinned across the replay window and violating the
    * manifest's data-files-are-immutable contract) — the replay is
    * routed copy-on-write instead: the re-attempt lands in the
    * generation's fresh `batch=<rewriteId>` directory and a
    * commitRewrite retires the prior attempt's leaves, so pinned
    * readers keep their bytes and the current generation holds exactly
    * one copy of the trigger's rows. */
  def installBatch(spark: SparkSession, indexDir: String, batchId: Long,
                   content: DataFrame): Unit =
    IndexManifest.installBatch(spark, indexDir, batchId, content,
      partitionCols = Seq("list"))

  /** Shared cadence-argument valve for the four attach wire-ins:
    * `maintainEvery` needs the policy, the staleness log it decides
    * on, and — for the lossy codes tiers — the refs supplier the
    * re-encode needs. */
  private def requireCadenceArgs(op: String, maintainEvery: Option[Int],
                                 policy: Option[MaintainPolicy],
                                 stalenessDir: Option[String],
                                 refsNeeded: Boolean,
                                 refsGiven: Boolean): Unit =
    maintainEvery.foreach { n =>
      require(n >= 1, s"$op: maintainEvery must be >= 1, got $n")
      require(policy.nonEmpty,
        s"$op: maintainEvery set without a maintainPolicy — the cadence " +
          "needs thresholds to decide with")
      require(stalenessDir.nonEmpty,
        s"$op: maintainEvery set without a stalenessDir — the decision " +
          "consumes the per-trigger drift log")
      require(!refsNeeded || refsGiven,
        s"$op: maintainEvery set without maintainRefs — codes are lossy, " +
          "so a firing refresh must re-encode from the original corpus")
    }

  /** One trigger's cadence check: count this run's triggers, fire on
    * every `maintainEvery`-th. */
  private def cadenceDue(triggers: java.util.concurrent.atomic.AtomicLong,
                         maintainEvery: Option[Int]): Boolean = {
    val n = triggers.incrementAndGet()
    maintainEvery.exists(e => n % e == 0L)
  }

  /** [[assignOnIngest]] KEEPING metadata columns (r11 verdict #4):
    * (idCol, vecCol, metaCols…, list) — the frame shape a
    * metadata-FILTERED index needs. Written `partitionBy("list")`,
    * the metadata rides inside each list partition's parquet, so a
    * [[graft.pipeline.Similarity.ivfTopKFromIndex]] probe over
    * `index.filter(pred)` gets `PartitionFilters` on the probed lists
    * AND `PushedFilters` on the predicate in ONE scan (PlanSpec pins
    * both). Same
    * assignment arithmetic as [[assignOnIngest]]
    * ([[Similarity.ivfNearest]], spec-pinned equal), as a UDF so
    * arbitrary extra columns pass through untouched. */
  def assignOnIngestWithMeta(vecs: DataFrame,
                             centers: Array[Array[Double]],
                             idCol: String = "vec_id",
                             vecCol: String = "embedding",
                             metaCols: Seq[String] = Seq.empty): DataFrame = {
    val spark = vecs.sparkSession
    val bc = spark.sparkContext.broadcast(centers)
    val assign = udf((v: Seq[Float]) =>
      Similarity.ivfNearest(bc.value, v.toArray, 1)(0))
    vecs.select(col(idCol).cast("long").as(idCol) +:
        col(vecCol) +: metaCols.map(col): _*)
      .withColumn("list", assign(col(vecCol)))
  }

  /** Stateless assign-and-ENCODE: (idCol, codes, list) — the
    * [[assignOnIngest]] twin for the 4×-compressed IVF-SQ8 index
    * ([[Similarity.ivfSqBuildIndex]]'s frame shape). Both quantizers
    * are frozen broadcasts; the map is narrow, so the codes index
    * accrues from a stream exactly like the float index — but at a
    * quarter of the stored bytes, which at 100 TB of arriving
    * embeddings is the difference between the index fitting the hot
    * tier or not. */
  def assignAndEncodeOnIngest(vecs: DataFrame,
                              centers: Array[Array[Double]],
                              codec: Similarity.SqCodec,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding"): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val bcC = spark.sparkContext.broadcast(centers)
    val bcQ = spark.sparkContext.broadcast(codec)
    vecs.select(col(idCol).cast("long").as(idCol), col(vecCol).as(vecCol))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        (id, bcQ.value.encode(v), Similarity.ivfNearest(bcC.value, v, 1)(0)) }
      .toDF(idCol, "codes", "list")
  }

  /** [[assignAndEncodeOnIngest]] KEEPING metadata columns — the codes
    * twin of [[assignOnIngestWithMeta]], closing the filtered-ANN
    * story for the COMPRESSED tiers: (idCol, codes, metaCols…, list)
    * written `partitionBy("list")` gives a filtered
    * [[graft.pipeline.Similarity.ivfSqTopKFromIndex]] probe
    * `PartitionFilters` on the probed lists AND `PushedFilters` on
    * the metadata predicate in one scan of the 4×-compressed index
    * (without this, a streamed codes index could only be filtered by
    * an id set collected to the driver). Same assignment + encode
    * arithmetic as [[assignAndEncodeOnIngest]], as UDFs so arbitrary
    * extra columns pass through untouched (spec-pinned equal). */
  def assignAndEncodeOnIngestWithMeta(vecs: DataFrame,
                                      centers: Array[Array[Double]],
                                      codec: Similarity.SqCodec,
                                      idCol: String = "vec_id",
                                      vecCol: String = "embedding",
                                      metaCols: Seq[String] = Seq.empty)
      : DataFrame = {
    val spark = vecs.sparkSession
    val bcC = spark.sparkContext.broadcast(centers)
    val bcQ = spark.sparkContext.broadcast(codec)
    val enc = udf((v: Seq[Float]) => bcQ.value.encode(v.toArray))
    val assign = udf((v: Seq[Float]) =>
      Similarity.ivfNearest(bcC.value, v.toArray, 1)(0))
    vecs.select(col(idCol).cast("long").as(idCol) +:
        col(vecCol) +: metaCols.map(col): _*)
      .withColumn("codes", enc(col(vecCol)))
      .withColumn("list", assign(col(vecCol)))
      .select(col(idCol) +: col("codes") +: metaCols.map(col) :+
        col("list"): _*)
  }

  /** Wire CODES ingest into a running stream — the [[attach]] layout
    * (idempotent `batch=<id>` partitions, sub-partitioned by list) with
    * int8 codes as the stored payload. Search the accrued directory
    * with [[Similarity.ivfSqTopKFromIndex]] over [[readCodesIndex]];
    * the probed-list filter prunes the same way (PlanSpec pins the
    * float layout; the codes layout is identical). Route equality with
    * the batch [[Similarity.ivfSqBuildIndex]] is PipelineSpec-pinned. */
  def attachSq(stream: DataFrame, centers: Array[Array[Double]],
               codec: Similarity.SqCodec, indexDir: String,
               checkpointDir: String, idCol: String = "vec_id",
               vecCol: String = "embedding",
               stalenessDir: Option[String] = None,
               metaCols: Seq[String] = Seq.empty,
               maintainEvery: Option[Int] = None,
               maintainPolicy: Option[MaintainPolicy] = None,
               maintainRefs: Option[() => DataFrame] = None,
               maintainMiniBatch: Boolean = false,
               maintainSeed: Long = 42,
               onMaintain: MaintainReport => Unit = _ => ())
      : StreamingQuery = {
    requireCadenceArgs("attachSq", maintainEvery, maintainPolicy,
      stalenessDir, refsNeeded = true, refsGiven = maintainRefs.nonEmpty)
    var curCenters = centers
    var curCodec = codec
    val triggers = new java.util.concurrent.atomic.AtomicLong(0L)
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // staleness → cadence/maintain → replay-safe write: see
        // [[attach]]'s trigger-order note (r13 ADVICE idempotency fix)
        stalenessDir.foreach { dir =>
          quantizerStaleness(batch, curCenters, idCol, vecCol)
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$dir/batch=$batchId")
        }
        if (cadenceDue(triggers, maintainEvery)) {
          val (report, newQ) = maintainSq(batch.sparkSession, indexDir,
            stalenessDir.get, maintainRefs.get(), curCenters,
            maintainPolicy.get, maintainSeed, idCol, vecCol,
            maintainMiniBatch)
          newQ.foreach { case (c, q) => curCenters = c; curCodec = q }
          onMaintain(report)
        }
        installBatch(batch.sparkSession, indexDir, batchId,
          if (metaCols.isEmpty)
            assignAndEncodeOnIngest(batch, curCenters, curCodec, idCol,
              vecCol)
          else
            assignAndEncodeOnIngestWithMeta(batch, curCenters, curCodec,
              idCol, vecCol, metaCols))
        ()
      }
      .start()
  }

  /** Stateless assign-and-SIGN-encode: (idCol, codes, list) — the
    * [[assignAndEncodeOnIngest]] twin for the 32×-compressed IVF-BQ
    * index ([[Similarity.ivfBqBuildIndex]]'s frame shape, r11 verdict
    * #2: BQ was the one rung without a streaming story). The sign
    * transform (the shared [[Similarity]] sign packing, one definition with the batch build)
    * is parameter-free, so the only frozen model is the coarse
    * quantizer — the smallest member of the ingest family. */
  def assignAndBqEncodeOnIngest(vecs: DataFrame,
                                centers: Array[Array[Double]],
                                idCol: String = "vec_id",
                                vecCol: String = "embedding"): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centers)
    vecs.select(col(idCol).cast("long").as(idCol), col(vecCol).as(vecCol))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        (id, Similarity.bqBits(v), Similarity.ivfNearest(bc.value, v, 1)(0)) }
      .toDF(idCol, "codes", "list")
  }

  /** [[assignAndBqEncodeOnIngest]] KEEPING metadata columns — the
    * 1-bit member of the WithMeta ingest family (see
    * [[assignAndEncodeOnIngestWithMeta]]): the predicate of a filtered
    * [[graft.pipeline.Similarity.ivfBqTopKFromIndex]] probe
    * pushes into the scan of the 32×-compressed index. */
  def assignAndBqEncodeOnIngestWithMeta(vecs: DataFrame,
                                        centers: Array[Array[Double]],
                                        idCol: String = "vec_id",
                                        vecCol: String = "embedding",
                                        metaCols: Seq[String] = Seq.empty)
      : DataFrame = {
    val spark = vecs.sparkSession
    val bc = spark.sparkContext.broadcast(centers)
    val enc = udf((v: Seq[Float]) => Similarity.bqBits(v.toArray))
    val assign = udf((v: Seq[Float]) =>
      Similarity.ivfNearest(bc.value, v.toArray, 1)(0))
    vecs.select(col(idCol).cast("long").as(idCol) +:
        col(vecCol) +: metaCols.map(col): _*)
      .withColumn("codes", enc(col(vecCol)))
      .withColumn("list", assign(col(vecCol)))
      .select(col(idCol) +: col("codes") +: metaCols.map(col) :+
        col("list"): _*)
  }

  /** Wire 1-BIT codes ingest into a running stream — the [[attachSq]]
    * layout (idempotent `batch=<id>` partitions, sub-partitioned by
    * list) with sign codes as the stored payload: at dim=64 the
    * accrued searchable index is 32× smaller than the float corpus.
    * Search with [[Similarity.ivfBqTopKFromIndex]] over
    * [[readCodesIndex]] (the codes layouts are identical); maintain
    * with [[reassignBq]]/[[compactCodesIndex]]; route equality with
    * the batch [[Similarity.ivfBqBuildIndex]] is PipelineSpec-pinned.
    * The per-trigger staleness log flows exactly as in [[attach]]. */
  def attachBq(stream: DataFrame, centers: Array[Array[Double]],
               indexDir: String, checkpointDir: String,
               idCol: String = "vec_id",
               vecCol: String = "embedding",
               stalenessDir: Option[String] = None,
               metaCols: Seq[String] = Seq.empty,
               maintainEvery: Option[Int] = None,
               maintainPolicy: Option[MaintainPolicy] = None,
               maintainRefs: Option[() => DataFrame] = None,
               maintainMiniBatch: Boolean = false,
               maintainSeed: Long = 42,
               onMaintain: MaintainReport => Unit = _ => ())
      : StreamingQuery = {
    requireCadenceArgs("attachBq", maintainEvery, maintainPolicy,
      stalenessDir, refsNeeded = true, refsGiven = maintainRefs.nonEmpty)
    var curCenters = centers
    val triggers = new java.util.concurrent.atomic.AtomicLong(0L)
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // staleness → cadence/maintain → replay-safe write: see
        // [[attach]]'s trigger-order note (r13 ADVICE idempotency fix)
        stalenessDir.foreach { dir =>
          quantizerStaleness(batch, curCenters, idCol, vecCol)
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$dir/batch=$batchId")
        }
        if (cadenceDue(triggers, maintainEvery)) {
          val (report, newCenters) = maintainBq(batch.sparkSession,
            indexDir, stalenessDir.get, maintainRefs.get(), curCenters,
            maintainPolicy.get, maintainSeed, idCol, vecCol,
            maintainMiniBatch)
          newCenters.foreach(curCenters = _)
          onMaintain(report)
        }
        installBatch(batch.sparkSession, indexDir, batchId,
          if (metaCols.isEmpty)
            assignAndBqEncodeOnIngest(batch, curCenters, idCol, vecCol)
          else
            assignAndBqEncodeOnIngestWithMeta(batch, curCenters, idCol,
              vecCol, metaCols))
        ()
      }
      .start()
  }

  /** Offline quantizer refresh for the accrued 1-BIT codes index —
    * the [[reassignSq]] twin (sign codes are lossy too: the stored
    * bits cannot recover the float vector the LIST assignment needs,
    * even though the re-ENCODE would be a no-op). Same loud
    * incomplete-refs valve, same single narrow re-list pass, same
    * atomic [[IndexSwap]] (also compacts trigger litter into
    * `batch=-1`). Run while the ingest stream is quiesced; resume
    * [[attachBq]] with the new centers. */
  def reassignBq(spark: SparkSession, indexDir: String, refs: DataFrame,
                 newCenters: Array[Array[Double]],
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): Unit = {
    IndexSwap.requireLive(spark, indexDir, "IvfStream.reassignBq")
    val indexedIds = readCodesIndex(spark, indexDir, idCol).select(idCol)
    val src = refs.select(col(idCol).cast("long").as(idCol), col(vecCol))
    val missing = indexedIds.join(src.select(idCol), Seq(idCol), "left_anti")
      .count()
    require(missing == 0L,
      s"reassignBq: $missing indexed ids are absent from refs — " +
        "refreshing from an incomplete corpus would silently drop " +
        "indexed vectors. Pass the full original corpus (sign codes " +
        "are lossy; the index cannot re-list itself).")
    fullRewrite(spark, indexDir,
      Some(ModelStore.BqCenters(newCenters)))(
      withIndexMeta(spark, indexDir, idCol,
        assignAndBqEncodeOnIngest(src.join(indexedIds, Seq(idCol), "left_semi"),
          newCenters, idCol, vecCol), "IvfStream.reassignBq"))
  }

  /** Stateless assign-and-PQ-encode: (idCol, list, codes) — the
    * [[assignAndEncodeOnIngest]] twin for the top compression rung
    * ([[Similarity.ivfPqBuildIndex]]'s frame shape: m one-byte
    * residual codes per vector, 8 bytes/row at m=8). The frozen model
    * is the full quantizer PAIR (coarse centers + per-subspace
    * residual codebooks, one broadcast); every arithmetic step is the
    * model's own ([[Similarity.IvfPqModel]].unit/argminCenter/encode
    * — the batch build's exact map body), so streamed rows are
    * row-identical to [[Similarity.ivfPqBuildIndex]] on the same
    * corpus. */
  def assignAndPqEncodeOnIngest(vecs: DataFrame,
                                model: Similarity.IvfPqModel,
                                idCol: String = "vec_id",
                                vecCol: String = "embedding"): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    vecs.select(col(idCol).cast("long").as(idCol), col(vecCol).as(vecCol))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        val mm = bc.value
        val u = mm.unit(v)
        val list = mm.argminCenter(u)
        (id, list, mm.encode(u, list))
      }.toDF(idCol, "list", "codes")
  }

  /** [[assignAndPqEncodeOnIngest]] KEEPING metadata columns — the PQ
    * member of the WithMeta ingest family (see
    * [[assignAndEncodeOnIngestWithMeta]]): the predicate of a filtered
    * [[graft.pipeline.Similarity.ivfPqTopKFromIndex]] probe
    * pushes into the scan of the m-bytes-per-vector index. */
  def assignAndPqEncodeOnIngestWithMeta(vecs: DataFrame,
                                        model: Similarity.IvfPqModel,
                                        idCol: String = "vec_id",
                                        vecCol: String = "embedding",
                                        metaCols: Seq[String] = Seq.empty)
      : DataFrame = {
    val spark = vecs.sparkSession
    val bc = spark.sparkContext.broadcast(model)
    val assign = udf { (v: Seq[Float]) =>
      val mm = bc.value; mm.argminCenter(mm.unit(v.toArray)) }
    val enc = udf { (v: Seq[Float], list: Int) =>
      val mm = bc.value; mm.encode(mm.unit(v.toArray), list) }
    vecs.select(col(idCol).cast("long").as(idCol) +:
        col(vecCol) +: metaCols.map(col): _*)
      .withColumn("list", assign(col(vecCol)))
      .withColumn("codes", enc(col(vecCol), col("list")))
      .select(col(idCol) +: col("codes") +: metaCols.map(col) :+
        col("list"): _*)
  }

  /** Wire PQ codes ingest into a running stream — the [[attachSq]]
    * layout (idempotent `batch=<id>` partitions, sub-partitioned by
    * list) with m residual bytes as the stored payload: the LAST rung
    * of the ingest family (float / SQ8 / BQ / PQ — every codec tier
    * now accrues from a stream). Search the accrued directory with
    * [[Similarity.ivfPqTopKFromIndex]] over [[readCodesIndex]];
    * maintain with [[reassignPq]]/[[maintainPq]]/
    * [[compactCodesIndex]]. The per-trigger staleness log uses the
    * UNIT-space reading ([[quantizerStalenessPq]]) — PQ assigns on
    * normalized vectors, so a raw-space mean_d2 would drift with
    * arriving magnitudes, not with the quantizer's fit. */
  def attachPq(stream: DataFrame, model: Similarity.IvfPqModel,
               indexDir: String, checkpointDir: String,
               idCol: String = "vec_id",
               vecCol: String = "embedding",
               stalenessDir: Option[String] = None,
               metaCols: Seq[String] = Seq.empty,
               maintainEvery: Option[Int] = None,
               maintainPolicy: Option[MaintainPolicy] = None,
               maintainRefs: Option[() => DataFrame] = None,
               maintainSeed: Long = 42,
               onMaintain: MaintainReport => Unit = _ => ())
      : StreamingQuery = {
    requireCadenceArgs("attachPq", maintainEvery, maintainPolicy,
      stalenessDir, refsNeeded = true, refsGiven = maintainRefs.nonEmpty)
    var curModel = model
    val triggers = new java.util.concurrent.atomic.AtomicLong(0L)
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // staleness → cadence/maintain → replay-safe write: see
        // [[attach]]'s trigger-order note (r13 ADVICE idempotency fix)
        stalenessDir.foreach { dir =>
          quantizerStalenessPq(batch, curModel, idCol, vecCol)
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$dir/batch=$batchId")
        }
        if (cadenceDue(triggers, maintainEvery)) {
          val (report, newModel) = maintainPq(batch.sparkSession, indexDir,
            stalenessDir.get, maintainRefs.get(), curModel,
            maintainPolicy.get, maintainSeed, idCol, vecCol)
          newModel.foreach(curModel = _)
          onMaintain(report)
        }
        installBatch(batch.sparkSession, indexDir, batchId,
          if (metaCols.isEmpty)
            assignAndPqEncodeOnIngest(batch, curModel, idCol, vecCol)
          else
            assignAndPqEncodeOnIngestWithMeta(batch, curModel, idCol,
              vecCol, metaCols))
        ()
      }
      .start()
  }

  /** [[quantizerStaleness]] in the PQ model's UNIT space: mean squared
    * L2 from each NORMALIZED vector to its assigned coarse centroid
    * (the model's own [[Similarity.IvfPqModel]].unit/argminCenter
    * geometry — first strict min, identical tie-break) + the list-skew
    * reading. Same output schema, so the [[MaintainPolicy]] machinery
    * consumes both logs identically. */
  def quantizerStalenessPq(vecs: DataFrame, model: Similarity.IvfPqModel,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding"): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    val nLists = model.centers.length
    val assigned = vecs
      .select(col(idCol).cast("long").as(idCol), col(vecCol).as(vecCol))
      .as[(Long, Array[Float])]
      .map { case (_, v) =>
        val mm = bc.value
        val u = mm.unit(v)
        val cs = mm.centers
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < cs.length) {
          var s = 0.0; var i = 0
          while (i < u.length) { val d = u(i) - cs(c)(i); s += d * d; i += 1 }
          if (s < bd) { bd = s; best = c } // first strict min ≡ argminCenter
          c += 1
        }
        (best, bd)
      }.toDF("list", "d2")
    assigned.groupBy("list")
      .agg(count(lit(1)).as("_n"), sum("d2").as("_s"))
      .agg(coalesce(sum("_n"), lit(0L)).as("n_vecs"),
        coalesce(sum("_s") / sum("_n"), lit(0.0)).as("mean_d2"),
        coalesce(max("_n") / sum("_n"), lit(0.0)).as("max_list_frac"))
      .select(col("n_vecs"), round(col("mean_d2"), 6).as("mean_d2"),
        round(col("max_list_frac"), 6).as("max_list_frac"),
        lit(nLists).as("n_lists"))
  }

  /** Offline quantizer refresh for the accrued PQ codes index — the
    * [[reassignSq]] twin for the top rung (PQ codes are lossy: the
    * stored residual bytes cannot recover the float vector either the
    * re-LISTING or the re-ENCODE needs). Same loud incomplete-refs
    * valve, same single narrow re-encode pass under the NEW model
    * (coarse centers + codebooks move TOGETHER — a swapped index can
    * never hold codes under mismatched books), same atomic
    * [[IndexSwap]] (also compacts trigger litter into `batch=-1`).
    * Run while the ingest stream is quiesced; resume [[attachPq]]
    * with the new model. */
  def reassignPq(spark: SparkSession, indexDir: String, refs: DataFrame,
                 newModel: Similarity.IvfPqModel,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): Unit = {
    IndexSwap.requireLive(spark, indexDir, "IvfStream.reassignPq")
    val indexedIds = readCodesIndex(spark, indexDir, idCol).select(idCol)
    val src = refs.select(col(idCol).cast("long").as(idCol), col(vecCol))
    val missing = indexedIds.join(src.select(idCol), Seq(idCol), "left_anti")
      .count()
    require(missing == 0L,
      s"reassignPq: $missing indexed ids are absent from refs — " +
        "refreshing from an incomplete corpus would silently drop " +
        "indexed vectors. Pass the full original corpus (PQ codes " +
        "are lossy; the index cannot re-encode itself).")
    fullRewrite(spark, indexDir,
      Some(ModelStore.PqQuantizer(newModel)))(
      withIndexMeta(spark, indexDir, idCol,
        assignAndPqEncodeOnIngest(src.join(indexedIds, Seq(idCol), "left_semi"),
          newModel, idCol, vecCol), "IvfStream.reassignPq"))
  }

  /** [[maintain]] for the PQ codes tier: fires [[reassignPq]] with
    * the full quantizer PAIR retrained on `refs`
    * ([[Similarity.ivfPqTrainModel]]). No mini-batch rung here ON
    * PURPOSE: the residual codebooks are trained AGAINST the coarse
    * centers, so the cheap coarse-only nudge the other tiers offer
    * would silently mis-pair codes with books — PQ drift repair is a
    * pair retrain or nothing. */
  def maintainPq(spark: SparkSession, indexDir: String,
                 stalenessDir: String, refs: DataFrame,
                 model: Similarity.IvfPqModel, policy: MaintainPolicy,
                 seed: Long = 42, idCol: String = "vec_id",
                 vecCol: String = "embedding")
      : (MaintainReport, Option[Similarity.IvfPqModel]) =
    decide(spark, stalenessDir, policy) match {
      case Left(report) =>
        (fragmentationPass(spark, indexDir, stalenessDir, policy, report)(
          compactCodesIndex(spark, indexDir, idCol)), None)
      case Right(report) if readCodesIndex(spark, indexDir, idCol)
          .isEmpty =>
        (report.copy(fired = false,
          reason = report.reason + "; index empty — deferred"), None)
      case Right(report) =>
        // an OPQ model retrains WITH a fresh rotation (the rotation is
        // part of the quantizer pair's fit — keeping the old one under
        // new codebooks would silently re-create the drift the retrain
        // is repairing); a plain model retrains plain
        val nCodes = model.codebooks.headOption.map(_.length).getOrElse(32)
        val newModel =
          if (model.rotation.nonEmpty)
            Similarity.ivfOpqTrainModel(spark, refs, model.centers.length,
              model.m, nCodes, seed = seed, idCol = idCol, vecCol = vecCol,
              dim = model.dim)
          else
            Similarity.ivfPqTrainModel(spark, refs, model.centers.length,
              model.m, nCodes, seed, idCol, vecCol, model.dim)
        reassignPq(spark, indexDir, refs, newModel, idCol, vecCol)
        clearStaleness(spark, stalenessDir)
        (report.copy(compacted = true), Some(newModel))
    }

  /** Accumulated CODES index rows (idCol, codes, list), or an empty
    * typed frame before the first write. */
  def readCodesIndex(spark: SparkSession, indexDir: String,
                     idCol: String = "vec_id"): DataFrame = {
    IndexSwap.restoreIfInterrupted(spark, indexDir)
    // manifested index: plan from the pinned snapshot, never a listing
    // (retained pre-rewrite leaves would double-count in a listing)
    IndexManifest.current(spark, indexDir).foreach { snap =>
      return IndexManifest.readSnapshot(spark, indexDir, snap)
        .map(df => Similarity.requireBinaryCodes(df,
          "IvfStream.readCodesIndex").select(idCol, "codes", "list"))
        .getOrElse(emptyCodesFrame(spark, idCol))
    }
    val path = new org.apache.hadoop.fs.Path(indexDir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(path) && fs.listStatus(path).nonEmpty)
      Similarity.requireBinaryCodes(spark.read.parquet(indexDir),
        "IvfStream.readCodesIndex").select(idCol, "codes", "list")
    else emptyCodesFrame(spark, idCol)
  }

  private def emptyCodesFrame(spark: SparkSession,
                              idCol: String): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(idCol,
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("codes",
            org.apache.spark.sql.types.BinaryType),
          org.apache.spark.sql.types.StructField("list",
            org.apache.spark.sql.types.IntegerType))))

  /** Offline quantizer refresh for the ACCRUED index — the re-train
    * path the frozen-quantizer design prescribes (quantizer drift is
    * the known failure mode of frozen IVF as the corpus distribution
    * moves): train new centroids offline
    * ([[Similarity.ivfTrainCentroids]] over [[readIndex]] or a fresh
    * sample), then ONE [[assignOnIngest]] pass re-lists every indexed
    * vector and the directory is atomically replaced with the
    * compacted list-partitioned result (`batch=-1`, the
    * [[NearDupStream.compactIndex]] layout + [[IndexSwap]] crash
    * discipline — a crash mid-swap self-heals on the next read).
    * Assignment is a narrow map against broadcast centroids at any
    * index size — no shuffle; the rewritten layout keeps
    * [[Similarity.ivfTopKFromIndex]]'s `PartitionFilters` pruning.
    * Run while the ingest stream is quiesced, then resume [[attach]]
    * with the NEW centroids (one frozen quantizer per epoch). */
  def reassign(spark: SparkSession, indexDir: String,
               newCenters: Array[Array[Double]],
               idCol: String = "vec_id",
               vecCol: String = "embedding"): Unit = {
    IndexSwap.requireLive(spark, indexDir, "IvfStream.reassign")
    // metadata columns ride through the rewrite (r13): an index
    // ingested WithMeta must keep serving filtered probes after a
    // quantizer refresh — dropping them here would silently break the
    // PushedFilters route the metadata exists for
    val full = readAll(spark, indexDir, "IvfStream.reassign")
    val metaCols = full.columns.toSeq
      .filterNot(Seq(idCol, vecCol, "list").contains)
    fullRewrite(spark, indexDir,
      Some(ModelStore.FloatCenters(newCenters)))(
      if (metaCols.isEmpty)
        assignOnIngest(full.select(idCol, vecCol), newCenters, idCol,
          vecCol)
      else
        assignOnIngestWithMeta(full.drop("list"), newCenters, idCol,
          vecCol, metaCols))
  }

  /** Every column of the accrued index (manifest-routed when
    * enrolled), minus the top-level `batch` partition id — the frame
    * the full-rewrite maintenance ops consume so NON-payload columns
    * (filtered-ANN metadata) survive compaction and refresh. */
  private def readAll(spark: SparkSession, indexDir: String,
                      op: String): DataFrame =
    IndexManifest.routedRead(spark, indexDir).getOrElse(
      throw new IllegalArgumentException(
        s"$op: index at $indexDir is manifested and EMPTY — nothing " +
          "to rewrite")).drop("batch")

  /** Install a complete replacement of an accrued list-partitioned
    * index — BOTH routes behind one door: a manifested index
    * ([[IndexManifest]]) gets the copy-on-write path (write the new
    * content as a fresh `batch=<rewriteId>` tree, commit a manifest
    * naming only it; pinned readers keep the retained old leaves
    * byte-stable until [[IndexManifest.vacuum]]), a legacy index gets
    * the quiesced [[IndexSwap]] rename discipline exactly as before.
    *
    * `newModel` (r13 verdict #1): a rewrite that CHANGES the quantizer
    * (the reassign* family) passes the new model, persisted via
    * [[ModelStore]] at the generation this commit creates — BEFORE the
    * commit, so a pin at that generation always resolves its model.
    * Pure compactions pass None (the prior epoch's model still
    * governs; the ≤generation resolution rule finds it). Legacy
    * (un-manifested) indexes have no generations to version against —
    * the model stays the caller's variable, refreshes run quiesced. */
  private def fullRewrite(spark: SparkSession, indexDir: String,
                          newModel: Option[ModelStore.QuantizerModel] = None)
                         (content: DataFrame): Unit =
    IndexManifest.current(spark, indexDir) match {
      case Some(snap) =>
        content.write.partitionBy("list").mode("overwrite")
          .parquet(s"$indexDir/batch=${snap.rewriteBatchId}")
        newModel.foreach(m =>
          ModelStore.write(spark, indexDir, snap.gen + 1, m))
        IndexManifest.commitRewrite(spark, indexDir, snap, snap.leaves)
        ()
      case None =>
        val tmp = indexDir + ".compact"
        content.write.partitionBy("list").mode("overwrite")
          .parquet(s"$tmp/batch=-1")
        IndexSwap.swap(spark, indexDir, tmp)
    }

  /** Offline quantizer refresh for the accrued CODES index — the
    * [[reassign]] twin the compressed tier needs (r10 verdict: codes
    * are lossy, so re-listing/re-encoding cannot start from the stored
    * index; it needs the ORIGINAL vectors). `refs` supplies them; the
    * refreshed index keeps exactly the currently-indexed id set
    * (a `left_semi` against the index ids), re-assigned against
    * `newCenters` and re-encoded under `newCodec` in the ONE
    * [[assignAndEncodeOnIngest]] narrow pass, then atomically swapped
    * in (the [[IndexSwap]] discipline; also compacts the per-batch
    * litter into `batch=-1` as a side effect, like [[reassign]]).
    *
    * LOUD VALVE: refs that do not cover every indexed id would
    * silently shrink the searchable corpus — the refresh REFUSES with
    * the missing count instead. Run while the ingest stream is
    * quiesced; resume [[attachSq]] with the new (centers, codec). */
  def reassignSq(spark: SparkSession, indexDir: String, refs: DataFrame,
                 newCenters: Array[Array[Double]],
                 newCodec: Similarity.SqCodec,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): Unit = {
    IndexSwap.requireLive(spark, indexDir, "IvfStream.reassignSq")
    val indexedIds = readCodesIndex(spark, indexDir, idCol).select(idCol)
    val src = refs.select(col(idCol).cast("long").as(idCol), col(vecCol))
    val missing = indexedIds.join(src.select(idCol), Seq(idCol), "left_anti")
      .count()
    require(missing == 0L,
      s"reassignSq: $missing indexed ids are absent from refs — " +
        "refreshing from an incomplete corpus would silently drop " +
        "indexed vectors. Pass the full original corpus (codes are " +
        "lossy; the index cannot re-encode itself).")
    fullRewrite(spark, indexDir,
      Some(ModelStore.SqQuantizer(newCenters, newCodec)))(
      withIndexMeta(spark, indexDir, idCol,
        assignAndEncodeOnIngest(src.join(indexedIds, Seq(idCol), "left_semi"),
          newCenters, newCodec, idCol, vecCol), "IvfStream.reassignSq"))
  }

  /** Re-attach the index's metadata columns to a freshly re-encoded
    * (id, codes, list) frame — the codes-tier counterpart of
    * [[reassign]]'s pass-through: the stored codes cannot carry the
    * metadata through a re-encode (it is re-derived from `refs`), so
    * a refresh takes it from the INDEX by id. One id-keyed join, only
    * when metadata exists. */
  private def withIndexMeta(spark: SparkSession, indexDir: String,
                            idCol: String, encoded: DataFrame,
                            op: String): DataFrame = {
    val full = readAll(spark, indexDir, op)
    val metaCols = full.columns.toSeq
      .filterNot(Seq(idCol, "codes", "list").contains)
    if (metaCols.isEmpty) encoded
    else encoded
      .join(full.select((idCol +: metaCols).map(col): _*), Seq(idCol))
      .select((Seq(idCol, "codes") ++ metaCols :+ "list").map(col): _*)
  }

  /** Compact the accrued codes directory's per-batch partition litter
    * (one `batch=<id>` per trigger, the [[CurateStream.compactFpIndex]]
    * physics reborn one rung up — r10 verdict) into one
    * list-partitioned file set under `batch=-1`. The shuffle keys on
    * `list` so each inverted list lands contiguous; probes keep their
    * `PartitionFilters` pruning through the identical layout. Run
    * while the stream is quiesced. */
  def compactCodesIndex(spark: SparkSession, indexDir: String,
                        idCol: String = "vec_id"): Unit = {
    IndexSwap.requireLive(spark, indexDir, "IvfStream.compactCodesIndex")
    // ALL columns ride through (metadata included), not just the
    // (id, codes, list) payload — see [[reassign]]
    fullRewrite(spark, indexDir)(
      Similarity.requireBinaryCodes(
        readAll(spark, indexDir, "IvfStream.compactCodesIndex"),
        "IvfStream.compactCodesIndex").repartition(col("list")))
  }

  /** [[compactCodesIndex]] for the FLOAT layout: fold the per-trigger
    * `batch=<id>` litter into one `batch=-1` list-partitioned layout
    * WITHOUT touching the quantizer — a pure read+rewrite (no
    * assignment recompute: the stored lists are already correct),
    * cheaper than [[reassign]] when only fragmentation, not drift, is
    * the problem. Same [[IndexSwap]] crash discipline; run quiesced. */
  def compactIndex(spark: SparkSession, indexDir: String,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): Unit = {
    IndexSwap.requireLive(spark, indexDir, "IvfStream.compactIndex")
    // ALL columns ride through (metadata included) — see [[reassign]]
    fullRewrite(spark, indexDir)(
      readAll(spark, indexDir, "IvfStream.compactIndex")
        .repartition(col("list")))
  }

  /** Top-level `batch=` directory count — the fragmentation reading
    * the [[MaintainPolicy.maxBatches]] arm consumes (one directory
    * listing, no data read; the shared [[IndexSwap.countBatches]]). */
  def countBatches(spark: SparkSession, indexDir: String): Int =
    IndexSwap.countBatches(spark, indexDir)

  /** Quantizer-staleness signal — the metric that tells a deployment
    * WHEN to schedule [[reassign]]/[[reassignSq]] (r10 verdict: the
    * refresh existed, nothing signalled drift). One row per call:
    *
    *  - `n_vecs` — batch size;
    *  - `mean_d2` — mean squared L2 from each vector to its assigned
    *    centroid (the k-means inertia per vector): rises monotonically
    *    as the arriving distribution drifts away from the frozen
    *    quantizer's, and resets after a refresh re-trains on current
    *    data;
    *  - `max_list_frac` — the largest list's share of the batch
    *    (1/nLists when balanced, →1 as drift funnels arrivals into
    *    few lists — the probe-cost failure mode: a probe of a skewed
    *    list scans a constant fraction of the corpus).
    *
    * Cost: the same narrow assignment map as ingest (shared
    * [[Similarity.ivfNearest]] arithmetic via the d2-carrying twin)
    * plus a ≤nLists-row aggregate — safe to emit EVERY trigger.
    * Wire it inside foreachBatch next to [[assignOnIngest]] and alert
    * on a threshold; ProbeIndexMaint measures the rise-under-shift /
    * reset-after-reassign cycle. */
  def quantizerStaleness(vecs: DataFrame, centers: Array[Array[Double]],
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centers)
    val nLists = centers.length
    val assigned = vecs
      .select(col(idCol).cast("long").as(idCol), col(vecCol).as(vecCol))
      .as[(Long, Array[Float])]
      .map { case (_, v) =>
        val cs = bc.value
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < cs.length) {
          var s = 0.0; var i = 0
          while (i < v.length) { val d = v(i) - cs(c)(i); s += d * d; i += 1 }
          if (s < bd) { bd = s; best = c } // first strict min = ivfNearest tie-break
          c += 1
        }
        (best, bd)
      }.toDF("list", "d2")
    // an EMPTY trigger must emit (0, 0.0, 0.0), not an all-null row
    // (r11 ADVICE: the global agg over zero groups is null, and a null
    // n_vecs/mean_d2 row in the per-trigger log NPEs getDouble
    // consumers and corrupts sum-of-counts checks)
    assigned.groupBy("list")
      .agg(count(lit(1)).as("_n"), sum("d2").as("_s"))
      .agg(coalesce(sum("_n"), lit(0L)).as("n_vecs"),
        coalesce(sum("_s") / sum("_n"), lit(0.0)).as("mean_d2"),
        coalesce(max("_n") / sum("_n"), lit(0.0)).as("max_list_frac"))
      .select(col("n_vecs"), round(col("mean_d2"), 6).as("mean_d2"),
        round(col("max_list_frac"), 6).as("max_list_frac"),
        lit(nLists).as("n_lists"))
  }

  /** Mini-batch centroid refresh (Sculley 2010, "Web-Scale K-Means
    * Clustering" — the standard cheap rung below a full Lloyd
    * retrain): one narrow assignment pass over `vecs` (the staleness
    * pass's arithmetic, [[Similarity.ivfNearest]]), a (list, dim)-
    * keyed partial-sum aggregate (≤ nLists·dim result rows at ANY
    * input size — no driver-side k-means iterations, no trainCap
    * collect), then the blended update
    *
    *   c' = (priorWeight·c + Σ assigned) / (priorWeight + n_list)
    *
    * — with `priorWeight = 0` each refreshed center is exactly its
    * list's batch mean (ONE Lloyd step on the batch, spec-pinned);
    * a positive priorWeight damps the move for small batches (the
    * per-center learning-rate form of the paper). Lists that receive
    * no vectors keep their center. The refreshed centers REDUCE
    * mean_d2 on the data they were refreshed from (Lloyd's descent
    * step — spec-pinned on the r11c drift scenario); they are the
    * cheap `miniBatch = true` rung of [[maintain]], costing one
    * narrow pass where [[Similarity.ivfTrainCentroids]] costs a
    * sample collect + driver Lloyd. */
  def refreshCentroids(vecs: DataFrame, centers: Array[Array[Double]],
                       priorWeight: Double = 0.0,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding")
      : Array[Array[Double]] = {
    require(priorWeight >= 0.0, s"priorWeight must be >= 0, got $priorWeight")
    val spark = vecs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centers)
    val sums = vecs
      .select(col(idCol).cast("long").as(idCol), col(vecCol).as(vecCol))
      .as[(Long, Array[Float])]
      .map { case (_, v) =>
        (Similarity.ivfNearest(bc.value, v, 1)(0), v.map(_.toDouble)) }
      .toDF("list", "v")
      .select(col("list"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("list", "pos")
      .agg(count(lit(1)).as("n"), sum("x").as("s"))
      .collect()
    val out = centers.map(_.clone())
    sums.foreach { r =>
      val l = r.getInt(0); val pos = r.getInt(1)
      val n = r.getLong(2); val s = r.getDouble(3)
      out(l)(pos) = (priorWeight * centers(l)(pos) + s) / (priorWeight + n)
    }
    out
  }

  /** ONE-PASS fusion of [[quantizerStaleness]] and
    * [[refreshCentroids]] — the form a live ingest wires per trigger
    * when it wants the drift reading AND the quantizer nudge for the
    * price of one aggregate (r12): a single (list, pos)-keyed partial
    * pass computes n, Σx and Σx² per cell, from which
    *
    *   - per-list squared distance: Σ(x−c)² = Σx² − 2c·Σx + n·c²
    *     → `mean_d2` (and `max_list_frac` from the per-list n) — the
    *     staleness reading;
    *   - the blended center update (priorWeight·c + Σx)/(priorWeight
    *     + n) — the mini-batch refresh.
    *
    * Cost: one narrow assignment map + one explode to batch·dim rows
    * shuffled into ≤ nLists·dim groups — more than the staleness
    * reading alone (which needs no explode), less than running both
    * helpers; the batch here is a MICRO-BATCH, never the corpus.
    * Returns (one-row staleness frame in [[quantizerStaleness]]'s
    * schema — readings agree within float-summation tolerance, spec-
    * pinned — , refreshed centers ≡ [[refreshCentroids]]). */
  def stalenessAndRefresh(vecs: DataFrame, centers: Array[Array[Double]],
                          priorWeight: Double = 0.0,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding")
      : (DataFrame, Array[Array[Double]]) = {
    require(priorWeight >= 0.0, s"priorWeight must be >= 0, got $priorWeight")
    val spark = vecs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centers)
    val cells = vecs
      .select(col(idCol).cast("long").as(idCol), col(vecCol).as(vecCol))
      .as[(Long, Array[Float])]
      .map { case (_, v) =>
        (Similarity.ivfNearest(bc.value, v, 1)(0), v.map(_.toDouble)) }
      .toDF("list", "v")
      .select(col("list"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("list", "pos")
      .agg(count(lit(1)).as("n"), sum("x").as("s"),
        sum(col("x") * col("x")).as("s2"))
      .collect()
    val out = centers.map(_.clone())
    val nOf = Array.fill(centers.length)(0L)
    var totalD2 = 0.0
    cells.foreach { r =>
      val l = r.getInt(0); val pos = r.getInt(1)
      val n = r.getLong(2); val s = r.getDouble(3); val s2 = r.getDouble(4)
      val c = centers(l)(pos)
      // max over the list's cells, NOT "any cell's n" (r12 ADVICE): an
      // under-length embedding — accepted silently by ivfNearest, which
      // loops over v.length — contributes to low positions only, so
      // per-pos counts can differ within a list and an arbitrary cell
      // would silently skew n_vecs/max_list_frac. The max matches
      // quantizerStaleness's per-ROW count semantics (every vector
      // counts once, at the positions it has).
      nOf(l) = math.max(nOf(l), n)
      totalD2 += s2 - 2.0 * c * s + n * c * c
      out(l)(pos) = (priorWeight * c + s) / (priorWeight + n)
    }
    val nVecs = nOf.sum
    val round6 = (x: Double) => math.floor(x * 1e6 + 0.5) / 1e6
    val staleness = Seq((nVecs,
      if (nVecs == 0L) 0.0 else round6(totalD2 / nVecs),
      if (nVecs == 0L) 0.0 else round6(nOf.max.toDouble / nVecs),
      centers.length))
      .toDF("n_vecs", "mean_d2", "max_list_frac", "n_lists")
    (staleness, out)
  }

  /** WHEN-to-maintain thresholds for [[maintain]]/[[maintainSq]]/
    * [[maintainBq]]/[[maintainPq]] — the decision the r11 staleness
    * log recorded but nothing consumed (r11 verdict #5): fire when the
    * volume-weighted `mean_d2` since the last maintenance exceeds
    * `meanD2Max`, or any trigger's `max_list_frac` exceeded
    * `maxListFracMax` (the probe-cost failure mode: one list absorbing
    * the corpus). `minVecs` refuses to decide on thin evidence.
    * Calibrate `meanD2Max` from a healthy reading (e.g. 2× the
    * post-train mean_d2 — the r11c drift/reset measurements: 0.887
    * healthy vs 572.4 drifted).
    *
    * `maxBatches` is the FRAGMENTATION arm (r12): streamed ingest
    * writes one `batch=<id>` directory per trigger, so a long-lived
    * index accumulates thousands of small files — the classic
    * small-files failure mode where the probe's scan wall grows with
    * trigger count, not data size. When the quantizer is healthy but
    * the batch-directory count exceeds `maxBatches`, maintenance runs
    * a pure COMPACTION (one `batch=-1` layout, quantizers untouched,
    * staleness log KEPT — its rows still measure the live quantizer).
    *
    * The 256 default is tuned from measurement (r15,
    * ProbeGateIndexScale): compacting a 10⁷-row accrued index costs
    * ~28 s + ~17 s vacuum on 16 cores — pennies at any sane cadence —
    * while the accrued-leaf probe penalty is ~nil on a local FS at 64
    * leaf sets (r8b measured ~1.2× drift at 50) and the real pressure
    * is object-store LISTing, which grows with every leaf set. 256
    * keeps a trigger-per-minute ingest compacting ~6×/day. Set
    * Int.MaxValue to restore the pure drift-only policy. */
  final case class MaintainPolicy(meanD2Max: Double,
                                  maxListFracMax: Double = 1.0,
                                  minVecs: Long = 1L,
                                  maxBatches: Int = 256)

  /** What [[maintain]] decided and the reading it decided on.
    * `fired` = the quantizer was refreshed (reassign ran, new
    * quantizers returned); `compacted` = the layout was rewritten
    * (true for both a reassign — which compacts as a side effect —
    * and a fragmentation-only compaction, where `fired` stays
    * false and the quantizers are unchanged). */
  final case class MaintainReport(fired: Boolean, reason: String,
                                  nVecs: Long, meanD2: Double,
                                  maxListFrac: Double,
                                  compacted: Boolean = false)

  /** Volume-weighted reading of everything logged since the last
    * maintenance (firing CLEARS the log, so "all current rows" IS
    * "since the last maintenance" — and post-refresh readings measure
    * the NEW quantizer, never mixing epochs). */
  private def readStaleness(spark: SparkSession, stalenessDir: String)
      : Option[(Long, Double, Double)] = {
    val p = new org.apache.hadoop.fs.Path(stalenessDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p) || fs.listStatus(p).isEmpty) None
    else {
      val r = spark.read.parquet(stalenessDir).agg(
        coalesce(sum("n_vecs"), lit(0L)).as("n"),
        coalesce(sum(col("mean_d2") * col("n_vecs")) / sum("n_vecs"),
          lit(0.0)).as("d2"),
        coalesce(max("max_list_frac"), lit(0.0)).as("frac"))
        .collect()(0)
      Some((r.getLong(0), r.getDouble(1), r.getDouble(2)))
    }
  }

  private def clearStaleness(spark: SparkSession,
                             stalenessDir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(stalenessDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  /** Staleness-log RETENTION (r12 verdict #5): the log accrues one
    * `batch=<id>` directory per trigger forever on a healthy index
    * ([[maintain]] clears it only when it FIRES), which is the same
    * small-files arithmetic the data-side fragmentation arm fixes —
    * a year of 1-minute triggers is half a million directories the
    * next [[maintain]] call must list and read. Fold the whole log
    * into ONE row that preserves the volume-weighted decision inputs
    * EXACTLY: n_vecs = Σn, mean_d2 = Σ(d2·n)/Σn (what the policy
    * reads), max_list_frac = max (ditto), n_lists = max (constant
    * within a quantizer epoch). Same [[IndexSwap]] discipline as the
    * data compactions; run quiesced. No-op on a missing/empty log. */
  def compactStalenessLog(spark: SparkSession,
                          stalenessDir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(stalenessDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p) || fs.listStatus(p).isEmpty) return
    val tmp = stalenessDir + ".compact"
    spark.read.parquet(stalenessDir).agg(
        coalesce(sum("n_vecs"), lit(0L)).as("n_vecs"),
        round(coalesce(sum(col("mean_d2") * col("n_vecs")) / sum("n_vecs"),
          lit(0.0)), 6).as("mean_d2"),
        coalesce(max("max_list_frac"), lit(0.0)).as("max_list_frac"),
        coalesce(max("n_lists"), lit(0)).as("n_lists"))
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/batch=-1")
    IndexSwap.swap(spark, stalenessDir, tmp)
  }

  /** Staleness-DRIVEN maintenance for the float index: read the
    * [[attach]] drift log at `stalenessDir`, fire
    * [[reassign]] when `policy` is breached, no-op otherwise — the
    * hands-free form of the r11c manual cycle. On fire, new centroids
    * come from the INDEX's own current contents (the corpus the
    * quantizer must serve): a full [[Similarity.ivfTrainCentroids]]
    * retrain by default, or the one-pass [[refreshCentroids]] rung
    * with `miniBatch = true`; then the one-pass rewrite, then the
    * consumed log is cleared (its rows measured the retired
    * quantizer). Returns the decision and, when fired, the new
    * centers the resumed [[attach]] MUST use. Run quiesced, like
    * every maintenance helper. */
  def maintain(spark: SparkSession, indexDir: String, stalenessDir: String,
               centers: Array[Array[Double]], policy: MaintainPolicy,
               seed: Long = 42, idCol: String = "vec_id",
               vecCol: String = "embedding", miniBatch: Boolean = false)
      : (MaintainReport, Option[Array[Array[Double]]]) =
    decide(spark, stalenessDir, policy) match {
      case Left(report) =>
        (fragmentationPass(spark, indexDir, stalenessDir, policy, report)(
          compactIndex(spark, indexDir, idCol, vecCol)), None)
      case Right(report) if readIndex(spark, indexDir, idCol, vecCol)
          .isEmpty =>
        // fires-before-first-write guard (the cadence now runs BEFORE
        // the trigger's batch write): an empty index has nothing to
        // retrain from or rewrite — defer to the next cadence check
        (report.copy(fired = false,
          reason = report.reason + "; index empty — deferred"), None)
      case Right(report) =>
        val idx = readIndex(spark, indexDir, idCol, vecCol)
        val newCenters =
          if (miniBatch)
            refreshCentroids(idx.select(idCol, vecCol), centers, 0.0,
              idCol, vecCol)
          else
            Similarity.ivfTrainCentroids(spark, idx, centers.length, seed,
              idCol, vecCol)
        reassign(spark, indexDir, newCenters, idCol, vecCol)
        clearStaleness(spark, stalenessDir)
        (report.copy(compacted = true), Some(newCenters))
    }

  /** [[maintain]] for the SQ8 codes tier: fires
    * [[reassignSq]] (codes are lossy — `refs` must supply the full
    * original corpus, same loud valve) with centers AND codec
    * retrained on `refs`. */
  def maintainSq(spark: SparkSession, indexDir: String,
                 stalenessDir: String, refs: DataFrame,
                 centers: Array[Array[Double]], policy: MaintainPolicy,
                 seed: Long = 42, idCol: String = "vec_id",
                 vecCol: String = "embedding", miniBatch: Boolean = false)
      : (MaintainReport, Option[(Array[Array[Double]], Similarity.SqCodec)]) =
    decide(spark, stalenessDir, policy) match {
      case Left(report) =>
        (fragmentationPass(spark, indexDir, stalenessDir, policy, report)(
          compactCodesIndex(spark, indexDir, idCol)), None)
      case Right(report) if readCodesIndex(spark, indexDir, idCol)
          .isEmpty =>
        (report.copy(fired = false,
          reason = report.reason + "; index empty — deferred"), None)
      case Right(report) =>
        val newCenters =
          if (miniBatch) refreshCentroids(refs, centers, 0.0, idCol, vecCol)
          else Similarity.ivfTrainCentroids(spark, refs, centers.length,
            seed, idCol, vecCol)
        val newCodec = Similarity.sqTrain(spark, refs, vecCol)
        reassignSq(spark, indexDir, refs, newCenters, newCodec, idCol, vecCol)
        clearStaleness(spark, stalenessDir)
        (report.copy(compacted = true), Some((newCenters, newCodec)))
    }

  /** [[maintain]] for the 1-bit codes tier: fires [[reassignBq]]
    * (sign codes need no codec retrain — only the coarse quantizer
    * moves). */
  def maintainBq(spark: SparkSession, indexDir: String,
                 stalenessDir: String, refs: DataFrame,
                 centers: Array[Array[Double]], policy: MaintainPolicy,
                 seed: Long = 42, idCol: String = "vec_id",
                 vecCol: String = "embedding", miniBatch: Boolean = false)
      : (MaintainReport, Option[Array[Array[Double]]]) =
    decide(spark, stalenessDir, policy) match {
      case Left(report) =>
        (fragmentationPass(spark, indexDir, stalenessDir, policy, report)(
          compactCodesIndex(spark, indexDir, idCol)), None)
      case Right(report) if readCodesIndex(spark, indexDir, idCol)
          .isEmpty =>
        (report.copy(fired = false,
          reason = report.reason + "; index empty — deferred"), None)
      case Right(report) =>
        val newCenters =
          if (miniBatch) refreshCentroids(refs, centers, 0.0, idCol, vecCol)
          else Similarity.ivfTrainCentroids(spark, refs, centers.length,
            seed, idCol, vecCol)
        reassignBq(spark, indexDir, refs, newCenters, idCol, vecCol)
        clearStaleness(spark, stalenessDir)
        (report.copy(compacted = true), Some(newCenters))
    }

  /** Healthy-quantizer fragmentation arm (shared by the four maintain
    * tiers): when the drift decision no-oped but the index's
    * `batch=` directory count breaches [[MaintainPolicy.maxBatches]],
    * run the tier's pure compaction. The staleness log is KEPT — its
    * rows still measure the live (untouched) quantizer. */
  private def fragmentationPass(spark: SparkSession, indexDir: String,
                                stalenessDir: String,
                                policy: MaintainPolicy,
                                report: MaintainReport)(compact: => Unit)
      : MaintainReport = {
    val batches = countBatches(spark, indexDir)
    val r1 =
      if (batches > policy.maxBatches) {
        compact
        report.copy(compacted = true,
          reason = report.reason + s"; fragmentation: $batches batches > " +
            s"maxBatches=${policy.maxBatches} — compacted")
      } else report
    // the LOG's own fragmentation (r12 verdict #5): a healthy index
    // never clears it, so fold the trigger litter into the one
    // aggregated row that preserves the decision inputs exactly
    val logBatches = countBatches(spark, stalenessDir)
    if (logBatches > policy.maxBatches) {
      compactStalenessLog(spark, stalenessDir)
      r1.copy(reason = r1.reason + s"; staleness log: $logBatches " +
        s"batches > maxBatches=${policy.maxBatches} — compacted")
    } else r1
  }

  /** Shared policy evaluation: Left = no-op (with why), Right = fire
    * (with the breaching reading). */
  private def decide(spark: SparkSession, stalenessDir: String,
                     policy: MaintainPolicy)
      : Either[MaintainReport, MaintainReport] =
    readStaleness(spark, stalenessDir) match {
      case None =>
        Left(MaintainReport(fired = false,
          s"no staleness log at $stalenessDir", 0L, 0.0, 0.0))
      case Some((n, d2, frac)) if n < policy.minVecs =>
        Left(MaintainReport(fired = false,
          s"insufficient evidence: $n vecs < minVecs=${policy.minVecs}",
          n, d2, frac))
      case Some((n, d2, frac)) =>
        val why = Seq(
          if (d2 > policy.meanD2Max)
            Some(f"mean_d2 $d2%.4f > ${policy.meanD2Max}%.4f") else None,
          if (frac > policy.maxListFracMax)
            Some(f"max_list_frac $frac%.4f > ${policy.maxListFracMax}%.4f")
          else None).flatten
        if (why.isEmpty)
          Left(MaintainReport(fired = false, "within thresholds", n, d2,
            frac))
        else Right(MaintainReport(fired = true, why.mkString("; "), n, d2,
          frac))
    }

  /** Accumulated index rows (idCol, vecCol, list), or an empty typed
    * frame before the first write (the [[NearDupStream.readIndex]]
    * Hadoop-FS shape, including the interrupted-[[reassign]]
    * self-heal). */
  def readIndex(spark: SparkSession, indexDir: String,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    IndexSwap.restoreIfInterrupted(spark, indexDir)
    // manifested index: plan from the pinned snapshot, never a listing
    IndexManifest.current(spark, indexDir).foreach { snap =>
      return IndexManifest.readSnapshot(spark, indexDir, snap)
        .map(_.select(idCol, vecCol, "list"))
        .getOrElse(emptyFloatFrame(spark, idCol, vecCol))
    }
    val path = new org.apache.hadoop.fs.Path(indexDir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(path) && fs.listStatus(path).nonEmpty)
      spark.read.parquet(indexDir).select(idCol, vecCol, "list")
    else emptyFloatFrame(spark, idCol, vecCol)
  }

  private def emptyFloatFrame(spark: SparkSession, idCol: String,
                              vecCol: String): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(idCol,
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(vecCol,
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)),
        org.apache.spark.sql.types.StructField("list",
          org.apache.spark.sql.types.IntegerType))))
}
