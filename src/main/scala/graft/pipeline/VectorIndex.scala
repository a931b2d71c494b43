package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, slice}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.streaming.{IndexDelete, IndexManifest, IvfStream, ModelStore}
import graft.streaming.ModelStore.{BqCenters, FloatCenters, PqQuantizer, QuantizerModel, SqQuantizer}
import graft.util.SmallFiles

/** ONE façade over the vector-index tier matrix (r12 verdict #6): the
  * four codec tiers — float, SQ8 (4×), BQ (32×, asymmetric scoring),
  * PQ (m bytes/vector, optionally OPQ-rotated) — share the same
  * lifecycle (train → ingest/attach → probe → filtered probe →
  * maintain → delete → compact/vacuum) but each tier has its own
  * build and probe entry points. `VectorIndex` pins
  * the conventions once: tier and parameters are chosen at [[VectorIndex
  * .train]], and every subsequent call is tier-agnostic, so the whole
  * family is testable as ONE contract (VectorIndexSpec runs the same
  * scenario across all four tiers) and a deployment can switch
  * compression rungs by changing one constructor argument.
  *
  * The four probe doors (live or pinned, whole or filtered) resolve
  * the index frame and the quantizer once and make ONE tier match onto
  * the [[Similarity]] rung, whose stage-1 scan, shortlist cut, exact
  * re-rank and under-fill pad are the one shared probe.
  *
  * The write side needs no tier match at all: ingest, attach, read,
  * maintain and compact are the one [[graft.streaming.IvfStream]] path
  * over the facade's quantizer; only the Matryoshka tier slices its
  * vectors to the prefix first.
  *
  * NO new behavior lives here: every method delegates to the exact
  * operator the per-tier call sites use ([[Similarity]],
  * [[graft.streaming.IvfStream]], [[graft.streaming.IndexDelete]],
  * [[graft.streaming.IndexManifest]]), so the facade inherits their
  * specs, plans, and crash/snapshot discipline unchanged.
  *
  * The quantizer state (a [[graft.streaming.ModelStore.QuantizerModel]])
  * rides IN the immutable facade value; operations that retrain
  * ([[VectorIndex#maintain]]) return an UPDATED facade — the same
  * convention as [[graft.streaming.IvfStream.maintain]], made
  * unmissable by the type.
  */
object VectorIndex {

  /** Compression rung. The PQ tier optionally trains the OPQ rotation
    * (Ge et al., CVPR 2013) — same index bytes, better recall where
    * codes are the bottleneck; `opqAuto` (r13 verdict #8) trains BOTH
    * and keeps the rotation only when its code recall@k (vs an exact
    * unit-space twin under full ADC, on the train sample) beats plain
    * by a margin — NOT reconstruction error, which OPQ descends by
    * construction and therefore always "wins" even on isotropic
    * corpora where the rotation buys no recall. Anisotropic corpora
    * pick rotated, isotropic ones plain
    * ([[Similarity.ivfPqTrainModelAuto]] documents the measured A/B).
    * [[MatryoshkaTier]] stores the `prefixDims`-float PREFIX of every
    * vector (Kusupati et al. 2022): stage 1 probes the prefix index
    * (`prefixDims/dim` of the float bytes), stage 2 re-ranks the
    * shortlist at full dimension. */
  sealed trait Tier
  case object FloatTier extends Tier
  case object Sq8Tier extends Tier
  case object BqTier extends Tier
  final case class PqTier(m: Int = 8, nCodes: Int = 32,
                          opq: Boolean = false, opqIters: Int = 6,
                          opqAuto: Boolean = false)
      extends Tier
  final case class MatryoshkaTier(prefixDims: Int = 32) extends Tier

  /** Everything chosen ONCE, at train time. `asymmetric` applies to
    * the BQ tier's stage-1 scoring (the measured-better default);
    * `metaCols` ride into the index for filtered probes. */
  final case class Params(tier: Tier,
                          nLists: Int = 16,
                          nProbe: Int = 2,
                          shortlist: Int = 50,
                          refine: Int = 4,
                          seed: Long = 42,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding",
                          dim: Int = 64,
                          trainCap: Int = 20000,
                          asymmetric: Boolean = true,
                          metaCols: Seq[String] = Seq.empty)

  /** Reconstruct a facade from its index directory in a FRESH session
    * (r14): [[VectorIndex#save]] (called by
    * [[VectorIndex#enrollSnapshots]]) persists the Params next to the
    * index and the quantizers already live as the current
    * [[graft.streaming.ModelStore]] epoch, so a deployment restarts,
    * calls `load`, and probes/maintains/attaches without retraining —
    * previously the quantizer state died with the training JVM even
    * though every byte of it was on disk. Loud when either half is
    * missing. */
  def load(spark: SparkSession, indexDir: String): VectorIndex = {
    val p = readParams(spark, indexDir).getOrElse(
      throw new IllegalArgumentException(
        s"VectorIndex.load: no persisted params at $indexDir — save the " +
          "facade first (VectorIndex.save, or enrollSnapshots which " +
          "saves automatically)"))
    val model = ModelStore.currentModel(spark, indexDir).getOrElse(
      throw new IllegalArgumentException(
        s"VectorIndex.load: no quantizer epoch at $indexDir — enroll " +
          "through VectorIndex.enrollSnapshots (which persists the " +
          "quantizer)"))
    (p.tier, model) match {
      case (FloatTier | _: MatryoshkaTier, _: FloatCenters) |
           (Sq8Tier, _: SqQuantizer) | (BqTier, _: BqCenters) |
           (_: PqTier, _: PqQuantizer) =>
        new VectorIndex(p, indexDir, model)
      case (tier, other) => throw new IllegalStateException(
        s"VectorIndex.load: persisted params say tier $tier but the " +
          s"stored model epoch is a ${other.getClass.getSimpleName} — " +
          s"$indexDir was written inconsistently")
    }
  }

  /** The params file: `indexDir/_vectorindex.properties`, plain
    * java.util.Properties — engine-neutral, humanly editable, ignored
    * by parquet discovery (underscore prefix). */
  private def paramsPath(indexDir: String) =
    new org.apache.hadoop.fs.Path(indexDir, "_vectorindex.properties")

  private[pipeline] def writeParams(spark: SparkSession, indexDir: String,
                                    p: Params): Unit = {
    val props = new java.util.Properties()
    val tierName = p.tier match {
      case FloatTier => "float"
      case Sq8Tier => "sq8"
      case BqTier => "bq"
      case PqTier(m, nCodes, opq, opqIters, opqAuto) =>
        props.setProperty("pq.m", m.toString)
        props.setProperty("pq.nCodes", nCodes.toString)
        props.setProperty("pq.opq", opq.toString)
        props.setProperty("pq.opqIters", opqIters.toString)
        props.setProperty("pq.opqAuto", opqAuto.toString)
        "pq"
      case MatryoshkaTier(dims) =>
        props.setProperty("matryoshka.prefixDims", dims.toString)
        "matryoshka"
    }
    props.setProperty("tier", tierName)
    props.setProperty("nLists", p.nLists.toString)
    props.setProperty("nProbe", p.nProbe.toString)
    props.setProperty("shortlist", p.shortlist.toString)
    props.setProperty("refine", p.refine.toString)
    props.setProperty("seed", p.seed.toString)
    props.setProperty("idCol", p.idCol)
    props.setProperty("vecCol", p.vecCol)
    props.setProperty("dim", p.dim.toString)
    props.setProperty("trainCap", p.trainCap.toString)
    props.setProperty("asymmetric", p.asymmetric.toString)
    // Count + indexed keys, NOT a comma-join: a metadata column name
    // containing ',' must round-trip through load unchanged.
    props.setProperty("metaCols.count", p.metaCols.size.toString)
    p.metaCols.zipWithIndex.foreach { case (c, i) =>
      props.setProperty(s"metaCols.$i", c)
    }
    val bytes = new java.io.ByteArrayOutputStream()
    props.store(bytes, "graft VectorIndex params")
    val path = paramsPath(indexDir)
    SmallFiles.replace(SmallFiles.fsOf(spark, path), path, bytes.toByteArray)
  }

  private[pipeline] def readParams(spark: SparkSession,
                                   indexDir: String): Option[Params] = {
    val path = paramsPath(indexDir)
    val fs = SmallFiles.fsOf(spark, path)
    if (!fs.exists(path)) return None
    val props = new java.util.Properties()
    val in = fs.open(path)
    try props.load(in) finally in.close()
    def p(k: String) = Option(props.getProperty(k)).getOrElse(
      throw new IllegalStateException(
        s"VectorIndex.load: params at $indexDir missing key '$k'"))
    val tier = p("tier") match {
      case "float" => FloatTier
      case "sq8" => Sq8Tier
      case "bq" => BqTier
      case "pq" => PqTier(p("pq.m").toInt, p("pq.nCodes").toInt,
        p("pq.opq").toBoolean, p("pq.opqIters").toInt,
        p("pq.opqAuto").toBoolean)
      case "matryoshka" => MatryoshkaTier(p("matryoshka.prefixDims").toInt)
      case other => throw new IllegalStateException(
        s"VectorIndex.load: unknown tier '$other' at $indexDir")
    }
    Some(Params(tier, p("nLists").toInt, p("nProbe").toInt,
      p("shortlist").toInt, p("refine").toInt, p("seed").toLong,
      p("idCol"), p("vecCol"), p("dim").toInt, p("trainCap").toInt,
      p("asymmetric").toBoolean,
      // Indexed keys since r15; fall back to the r14 comma-join for
      // indexes saved before the format change.
      Option(props.getProperty("metaCols.count")) match {
        case Some(n) => (0 until n.toInt).map(i => p(s"metaCols.$i"))
        case None => p("metaCols").split(",").toSeq.filter(_.nonEmpty)
      }))
  }

  /** Train the tier's quantizers on `refs` and return the facade
    * (nothing is written until [[VectorIndex#ingest]] /
    * [[VectorIndex#attach]]). */
  def train(spark: SparkSession, refs: DataFrame, params: Params,
            indexDir: String): VectorIndex = {
    val p = params
    def centers(df: DataFrame) = Similarity.ivfTrainCentroids(spark, df,
      p.nLists, p.seed, p.idCol, p.vecCol, p.trainCap)
    new VectorIndex(p, indexDir, p.tier match {
      case FloatTier => FloatCenters(centers(refs))
      case Sq8Tier =>
        SqQuantizer(centers(refs), Similarity.sqTrain(spark, refs, p.vecCol))
      case BqTier => BqCenters(centers(refs))
      case PqTier(m, nCodes, opq, opqIters, opqAuto) =>
        PqQuantizer(
          if (opqAuto) Similarity.ivfPqTrainModelAuto(spark, refs,
            p.nLists, m, nCodes, opqIters, p.seed, p.idCol, p.vecCol,
            p.dim, p.trainCap)
          else if (opq) Similarity.ivfOpqTrainModel(spark, refs, p.nLists,
            m, nCodes, opqIters, p.seed, p.idCol, p.vecCol, p.dim,
            p.trainCap)
          else Similarity.ivfPqTrainModel(spark, refs, p.nLists, m,
            nCodes, p.seed, p.idCol, p.vecCol, p.dim, p.trainCap))
      case MatryoshkaTier(dims) =>
        // the prefix tier's quantizer is a FLOAT coarse quantizer over
        // the first-`dims` slice (matryoshkaIvfBuildIndex's training)
        FloatCenters(centers(refs.select(col(p.idCol),
          slice(col(p.vecCol), 1, dims).as(p.vecCol))))
    })
  }
}

final class VectorIndex private (val params: VectorIndex.Params,
                                 val indexDir: String,
                                 val quantizer: QuantizerModel)
    extends Serializable {
  import VectorIndex._
  private def p = params

  /** The vectors as the index stores them: the Matryoshka tier keeps
    * the `prefixDims`-float prefix, every other tier the vectors. */
  private def prefixed(vecs: DataFrame): DataFrame = p.tier match {
    case MatryoshkaTier(dims) =>
      vecs.withColumn(p.vecCol, slice(col(p.vecCol), 1, dims))
    case _ => vecs
  }

  /** Write one idempotent `batch=<id>` partition (the attach layout,
    * usable for batch backfills) and commit it to the snapshot
    * manifest when the index is enrolled. */
  def ingest(spark: SparkSession, batch: DataFrame, batchId: Long): Unit =
    IvfStream.installBatch(spark, indexDir, batchId, IvfStream.encode(
      prefixed(batch), quantizer, p.idCol, p.vecCol, p.metaCols))

  /** Wire a stream into the index ([[graft.streaming.IvfStream.attach]])
    * with the same staleness-log and hands-free-maintenance cadence
    * options. For the codes tiers a firing cadence needs `maintainRefs`
    * (codes are lossy); the float tiers retrain from the index itself.
    * The Matryoshka tier slices BEFORE the wire-in: staleness,
    * maintenance retrains and assignment all see the prefix space its
    * quantizer lives in. */
  def attach(stream: DataFrame, checkpointDir: String,
             stalenessDir: Option[String] = None,
             maintainEvery: Option[Int] = None,
             maintainPolicy: Option[IvfStream.MaintainPolicy] = None,
             maintainRefs: Option[() => DataFrame] = None,
             onMaintain: IvfStream.MaintainReport => Unit = _ => ())
      : StreamingQuery =
    IvfStream.attach(prefixed(stream), quantizer, indexDir, checkpointDir,
      p.idCol, p.vecCol, stalenessDir, p.metaCols, maintainEvery,
      maintainPolicy, maintainRefs, p.seed, onMaintain)

  /** The accrued index frame (manifest-routed when enrolled). */
  def read(spark: SparkSession): DataFrame =
    IvfStream.readIndex(spark, indexDir, p.idCol,
      IvfStream.payloadCol(quantizer, p.vecCol))

  /** Top-k over the accrued index at the params' operating point.
    * `refs` supplies the true vectors for the codes tiers' exact
    * re-rank (and the float tier ignores it). */
  def topK(spark: SparkSession, queries: DataFrame, refs: DataFrame,
           k: Int): DataFrame =
    probe(spark, read(spark), quantizer, queries, refs, k)

  /** Metadata-FILTERED top-k: the predicate reaches the index scan
    * (PushedFilters next to the probed-list PartitionFilters) and the
    * under-fill pad runs against the filtered universe — the rung over
    * `index.filter(refFilter)` and `refs.filter(refFilter)`. Requires
    * the index to have been ingested with the predicate's columns in
    * `params.metaCols` (the float tier evaluates it on the index alone;
    * codes tiers also on `refs`). */
  def topKFiltered(spark: SparkSession, queries: DataFrame,
                   refs: DataFrame, k: Int, refFilter: Column)
      : DataFrame = {
    // the FULL index frame (not read()'s payload projection): the
    // filtered probes evaluate the predicate on the metadata columns
    // riding in the index. Enrolled-and-empty is LOUD (r13 ADVICE):
    // falling back to read(spark)'s typed empty payload frame would
    // drop params.metaCols and fail later with an unresolved-column
    // AnalysisException instead of saying what happened.
    graft.streaming.IndexSwap.restoreIfInterrupted(spark, indexDir)
    val idx = IndexManifest.routedRead(spark, indexDir)
      .getOrElse(throw new IllegalArgumentException(
        s"VectorIndex.topKFiltered: index data at $indexDir is " +
          "manifested and EMPTY (every row deleted) — rebuild or " +
          "re-ingest before probing"))
    probe(spark, idx.filter(refFilter), quantizer, queries,
      refs.filter(refFilter), k)
  }

  /** The one tier dispatch of every topK* door: the tier's rung over
    * the resolved index frame under the resolved quantizer. */
  private def probe(spark: SparkSession, idx: DataFrame,
                    m: QuantizerModel,
                    queries: DataFrame, refs: DataFrame, k: Int)
      : DataFrame =
    (p.tier, m) match {
      case (FloatTier, FloatCenters(cs)) =>
        Similarity.ivfTopKFromIndex(spark, queries, idx, cs, k, p.nProbe,
          p.idCol, p.vecCol)
      case (MatryoshkaTier(dims), FloatCenters(cs)) =>
        Similarity.matryoshkaIvfTopKFromIndex(spark, queries, idx, cs, refs,
          k, dims, p.shortlist, p.nProbe, p.idCol, p.vecCol)
      case (Sq8Tier, SqQuantizer(cs, cc)) =>
        Similarity.ivfSqTopKFromIndex(spark, queries, idx, cs, cc, refs, k,
          p.shortlist, p.nProbe, p.idCol, p.vecCol)
      case (BqTier, BqCenters(cs)) =>
        Similarity.ivfBqTopKFromIndex(spark, queries, idx, cs, refs, k,
          p.shortlist, p.nProbe, p.idCol, p.vecCol, p.asymmetric)
      case (_: PqTier, PqQuantizer(mm)) =>
        Similarity.ivfPqTopKFromIndex(spark, queries, idx, mm, refs, k,
          p.nProbe, p.refine, p.idCol, p.vecCol)
      case (tier, other) => throw new IllegalStateException(
        s"VectorIndex: tier $tier cannot serve the stored model " +
          s"${other.getClass.getSimpleName} of $indexDir — the index was " +
          "written by a different tier's facade")
    }

  /** Staleness-driven maintenance ([[graft.streaming.IvfStream.maintain]])
    * consuming the drift log at `stalenessDir` against `policy`; `refs`
    * feeds the codes tiers' retrain and re-encode (the float tiers,
    * Matryoshka's prefix index included, retrain from the index
    * itself). Returns the report and the facade to use from here on
    * (the updated quantizer when it fired, `this` otherwise). */
  def maintain(spark: SparkSession, stalenessDir: String, refs: DataFrame,
               policy: IvfStream.MaintainPolicy)
      : (IvfStream.MaintainReport, VectorIndex) = {
    val (r, fresh) = IvfStream.maintain(spark, indexDir, stalenessDir,
      quantizer, policy, Some(refs), p.seed, p.idCol, p.vecCol)
    (r, fresh.map(new VectorIndex(params, indexDir, _)).getOrElse(this))
  }

  /** Targeted deletion ([[graft.streaming.IndexDelete.deleteIds]] —
    * partition-scoped, crash-safe, copy-on-write when enrolled). */
  def delete(spark: SparkSession, ids: DataFrame)
      : IndexDelete.DeleteReport =
    IndexDelete.deleteIds(spark, indexDir, ids, p.idCol)

  /** Fold the per-trigger batch litter into one layout (the pure
    * compaction — quantizer untouched). */
  def compact(spark: SparkSession): Unit =
    IvfStream.compactIndex(spark, indexDir)

  /** Opt into snapshot-manifest reads ([[IndexManifest.enroll]]):
    * rewrites become copy-on-write and concurrent probes hold their
    * pinned generation. The CURRENT quantizer is persisted at the
    * enrollment generation ([[graft.streaming.ModelStore]], r13
    * verdict #1), so from here every generation resolves the model
    * that listed its leaves — [[pin]]/[[topKPinned]] survive a
    * quantizer refresh byte-identically. */
  def enrollSnapshots(spark: SparkSession): IndexManifest.Snapshot = {
    val snap = IndexManifest.enroll(spark, indexDir)
    ModelStore.write(spark, indexDir, snap.gen, quantizer)
    save(spark) // params beside the epoch: VectorIndex.load needs both
    snap
  }

  /** Persist the facade's Params next to the index
    * (`_vectorindex.properties`) so [[VectorIndex.load]] can
    * reconstruct it in a fresh session. The quantizers themselves ride
    * in [[graft.streaming.ModelStore]] epochs — [[enrollSnapshots]]
    * writes both; call this directly only for an un-enrolled layout
    * you still want loadable (pair it with a ModelStore.write). */
  def save(spark: SparkSession): Unit =
    VectorIndex.writeParams(spark, indexDir, params)

  /** Pin the current generation for a long-lived concurrent probe. */
  def pin(spark: SparkSession): IndexManifest.Snapshot =
    IndexManifest.pin(spark, indexDir)

  /** Top-k AS OF a pinned generation: the probe plans over exactly the
    * snapshot's leaves AND the quantizer epoch that listed them — the
    * highest [[graft.streaming.ModelStore]] generation ≤ the pin. A
    * maintenance refresh installing a new model underneath changes
    * NOTHING this probe reads (r13 verdict #1: previously the pinned
    * leaves were served under the live — wrong — model, silently
    * probing lists the old quantizer never assigned). `refs` supplies
    * the codes tiers' exact re-rank vectors (the one input outside the
    * snapshot's control — hold it stable for byte-identical replays);
    * the float tier ignores it. */
  def topKPinned(spark: SparkSession, snap: IndexManifest.Snapshot,
                 queries: DataFrame, refs: DataFrame, k: Int): DataFrame = {
    val (idx, m) = pinned(spark, snap, "topKPinned")
    probe(spark, idx, m, queries, refs, k)
  }

  /** [[topKFiltered]] AS OF a pinned generation — the filtered-probe
    * twin of [[topKPinned]]: the metadata predicate evaluates against
    * the pinned leaves (their metaCols ride in the snapshot) and the
    * probe runs under the quantizer epoch that listed them, so a
    * filtered probe replays byte-identically across a refresh too.
    * Same `refs` caveat as [[topKPinned]] for the codes tiers. */
  def topKFilteredPinned(spark: SparkSession,
                         snap: IndexManifest.Snapshot,
                         queries: DataFrame, refs: DataFrame, k: Int,
                         refFilter: Column): DataFrame = {
    val (idx, m) = pinned(spark, snap, "topKFilteredPinned")
    probe(spark, idx.filter(refFilter), m, queries, refs.filter(refFilter), k)
  }

  /** The pinned generation's FULL frame (the metadata columns ride in
    * it) and the quantizer epoch that listed its leaves. */
  private def pinned(spark: SparkSession, snap: IndexManifest.Snapshot,
                     door: String)
      : (DataFrame, QuantizerModel) = {
    val m = ModelStore.readAt(spark, indexDir, snap.gen)
      .getOrElse(throw new IllegalArgumentException(
        s"VectorIndex.$door: no model epoch at or below generation " +
          s"${snap.gen} for $indexDir — enroll through " +
          "VectorIndex.enrollSnapshots (which persists the quantizer) " +
          "rather than IndexManifest.enroll"))
    val idx = IndexManifest.readSnapshot(spark, indexDir, snap).getOrElse(
      throw new IllegalArgumentException(
        s"VectorIndex.$door: pinned generation ${snap.gen} of " +
          s"$indexDir is EMPTY — nothing to probe"))
    (idx, m)
  }

  /** Reclaim leaves unreferenced by the kept generations. `minAgeMs`
    * spares every generation younger than the pin horizon
    * ([[IndexManifest.vacuum]]). */
  def vacuum(spark: SparkSession, keepGens: Int = 1,
             minAgeMs: Long = 0L, pendingOk: Boolean = false): Int =
    IndexManifest.vacuum(spark, indexDir, keepGens, minAgeMs, pendingOk)
}
