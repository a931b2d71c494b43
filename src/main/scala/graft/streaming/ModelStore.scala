package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.{FileSystem, Path}
import graft.pipeline.Similarity
import graft.util.SmallFiles
import graft.util.SmallFiles.fsOf

/** GENERATION-VERSIONED quantizer models for manifested indexes — the
  * last snapshot-isolation gap (r13 verdict #1): [[IndexManifest]]
  * pins DATA leaves per generation, but the quantizer (coarse centers
  * / SQ codec / PQ model) lived only in driver variables, so a refresh
  * ([[IvfStream.reassign]]/maintain) swapped the model out from under
  * a pinned reader — its retained leaves were listed under the OLD
  * quantizer's geometry while the probe assigned queries under the NEW
  * one, silently probing the wrong lists. Here each model epoch is
  * persisted under `indexDir/_models/gen-<%09d>/` keyed by the
  * manifest generation whose commit installed it, and a pinned probe
  * resolves THE MODEL THAT MATCHES ITS PINNED GENERATION: the highest
  * model generation ≤ the pinned one (commits that do not change the
  * model — trigger batches, deletes, compactions — write no model dir,
  * so resolution walks back to the epoch's install point).
  *
  * Commit discipline mirrors the manifest's: write into
  * `_models/.tmp-gen-N/`, rename to its final name (atomic dir rename
  * on HDFS/local), and write the model BEFORE the manifest generation
  * that references it commits — a crash in between leaves an orphan
  * model dir that the rewrite's retry overwrites (same target
  * generation) and [[IndexManifest.vacuum]] sweeps if never retried.
  * The `_models` name starts with an underscore, so parquet discovery
  * of the index directory ignores it. Serialization is plain parquet
  * rows ([[writeRows]], the vocabulary of the rungs' `*WriteIndex`
  * layouts too):
  * engine-neutral, humanly inspectable, a few KB per epoch.
  */
object ModelStore {

  /** One quantizer epoch — the tier-shaped state a probe needs.
    * `centers` are the coarse lists' centers (over unit, rotated vectors
    * for PQ); a flat SQ8 codec, which has no lists, has none. */
  sealed trait QuantizerModel {
    def centers: Array[Array[Double]]
  }
  final case class FloatCenters(centers: Array[Array[Double]])
      extends QuantizerModel
  final case class BqCenters(centers: Array[Array[Double]])
      extends QuantizerModel
  final case class SqQuantizer(centers: Array[Array[Double]],
                               codec: Similarity.SqCodec)
      extends QuantizerModel
  final case class PqQuantizer(model: Similarity.IvfPqModel)
      extends QuantizerModel {
    def centers: Array[Array[Double]] = model.centers
  }

  private def modelsDir(dir: String) = new Path(dir, "_models")

  private val GenName = "gen-(\\d{9})".r

  private def genOf(name: String): Option[Long] = name match {
    case GenName(n) => Some(n.toLong)
    case _ => None
  }

  private def nameOf(gen: Long): String = f"gen-$gen%09d"

  /** Committed model generations, ascending. */
  def listGens(spark: SparkSession, dir: String): Seq[Long] =
    listGens(fsOf(spark, new Path(dir)), dir)

  private def listGens(fs: FileSystem, dir: String): Seq[Long] = {
    val md = modelsDir(dir)
    if (!fs.exists(md)) Seq.empty
    else fs.listStatus(md).toSeq.filter(_.isDirectory)
      .flatMap(s => genOf(s.getPath.getName)).sorted
  }

  /** Persist `model` as the quantizer installed AT manifest generation
    * `gen` (call BEFORE committing that generation): its [[writeRows]]
    * plus a `meta` row (kind, dim, m). Idempotent: a retry at the same
    * generation replaces the orphan. */
  def write(spark: SparkSession, dir: String, gen: Long,
            model: QuantizerModel): Unit = {
    import spark.implicits._
    val md = modelsDir(dir)
    val fs = fsOf(spark, md)
    SmallFiles.mkdirs(fs, md)
    val tmp = new Path(md, s".tmp-${nameOf(gen)}")
    if (fs.exists(tmp)) { fs.delete(tmp, true); () }
    writeRows(spark, tmp.toString, model)
    val (kind, dim, m) = model match {
      case _: FloatCenters => ("float", -1, -1)
      case _: BqCenters => ("bq", -1, -1)
      case _: SqQuantizer => ("sq", -1, -1)
      case PqQuantizer(pq) => ("pq", pq.dim, pq.m)
    }
    Seq((kind, dim, m)).toDF("kind", "dim", "m")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/meta")
    val dest = new Path(md, nameOf(gen))
    if (fs.exists(dest)) { fs.delete(dest, true); () }
    require(fs.rename(tmp, dest),
      s"ModelStore.write: rename of model generation $gen failed for $dir")
  }

  /** THE writer of a quantizer's parquet rows under `dir`, one part per
    * subdirectory: an OPQ `rotation` (i, row), then `centers` (list,
    * center), the SQ8 `codec` (pos, mn, mx) and the PQ `books` (s, c,
    * vec). Model epochs, the rungs' `*WriteIndex` layouts and the IVF-PQ
    * top-level mirror all write through here. The rotation goes first
    * and a model without one deletes a stale one, so a reader that
    * catches an in-place rewrite midway sees rotation-vs-books skew
    * (detectable: codebooks are trained in the rotated space) rather
    * than a silent centers-vs-books tear. */
  private[graft] def writeRows(spark: SparkSession, dir: String,
                               model: QuantizerModel): Unit = {
    import spark.implicits._
    def put(part: String, rows: DataFrame): Unit = {
      rows.coalesce(1).write.mode("overwrite").parquet(s"$dir/$part"); ()
    }
    model match {
      case PqQuantizer(m) if m.rotation.nonEmpty =>
        val r = m.rotation.get
        put("rotation", r.indices.map(i => (i, r(i))).toDF("i", "row"))
      case _ =>
        val rotP = new Path(dir, "rotation")
        val fs = fsOf(spark, rotP)
        if (fs.exists(rotP)) { fs.delete(rotP, true); () }
    }
    val cs = model.centers
    if (cs.nonEmpty)
      put("centers", cs.indices.map(c => (c, cs(c))).toDF("list", "center"))
    model match {
      case SqQuantizer(_, codec) =>
        put("codec", codec.mins.indices
          .map(i => (i, codec.mins(i), codec.maxs(i))).toDF("pos", "mn", "mx"))
      case PqQuantizer(m) =>
        put("books", (for (s <- m.codebooks.indices;
                           c <- m.codebooks(s).indices)
          yield (s, c, m.codebooks(s)(c))).toDF("s", "c", "vec"))
      case _ => ()
    }
  }

  /** THE reader of [[writeRows]]'s parts: the model of `kind` ("float",
    * "bq", "sq" or "pq") under `dir`. PQ's dim and m follow from its
    * rows; a `sq` model without centers is the flat SQ8 codec. */
  private[graft] def readRows(spark: SparkSession, dir: String,
                              kind: String): QuantizerModel = {
    def rows(part: String) = spark.read.parquet(s"$dir/$part")
    def has(part: String) = {
      val p = new Path(dir, part)
      fsOf(spark, p).exists(p)
    }
    def centers: Array[Array[Double]] = rows("centers").orderBy("list")
      .collect().map(_.getSeq[Double](1).toArray)
    kind match {
      case "float" => FloatCenters(centers)
      case "bq" => BqCenters(centers)
      case "sq" =>
        val cs = if (has("centers")) centers else Array.empty[Array[Double]]
        val codec = rows("codec").orderBy("pos").collect()
        SqQuantizer(cs, Similarity.SqCodec(codec.map(_.getDouble(1)),
          codec.map(_.getDouble(2))))
      case "pq" =>
        val cs = centers
        val bookRows = rows("books").orderBy("s", "c").collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
        val m = bookRows.map(_._1).max + 1
        val books = Array.tabulate(m)(s =>
          bookRows.filter(_._1 == s).sortBy(_._2).map(_._3))
        val rotation =
          if (has("rotation")) Some(rows("rotation").orderBy("i").collect()
            .map(_.getSeq[Double](1).toArray))
          else None
        PqQuantizer(Similarity.IvfPqModel(cs(0).length, m, cs, books,
          rotation))
      case other => throw new IllegalStateException(
        s"ModelStore.readRows: unknown model kind '$other' at $dir")
    }
  }

  /** The model that governs reads of manifest generation `gen`: the
    * highest committed model generation ≤ `gen`, or None when the
    * index has no versioned models (pre-enrollment, or enrolled
    * without [[write]]). */
  def readAt(spark: SparkSession, dir: String,
             gen: Long): Option[QuantizerModel] = {
    val cands = listGens(spark, dir).filter(_ <= gen)
    if (cands.isEmpty) None else Some(read(spark, dir, cands.max))
  }

  /** The newest committed model, or None. */
  def currentModel(spark: SparkSession, dir: String): Option[QuantizerModel] =
    readAt(spark, dir, Long.MaxValue)

  private def read(spark: SparkSession, dir: String,
                   gen: Long): QuantizerModel = {
    val base = new Path(modelsDir(dir), nameOf(gen)).toString
    readRows(spark, base,
      spark.read.parquet(s"$base/meta").collect()(0).getString(0))
  }

  /** Reclaim model generations no kept manifest generation resolves to
    * — called by [[IndexManifest.vacuum]] with the kept generations.
    * For each kept manifest generation the resolving model (highest
    * model gen ≤ it) survives; everything else — retired epochs AND
    * orphans staged above the highest kept generation by a
    * never-retried crashed rewrite — is deleted. No-op when the index
    * has no versioned models. */
  def vacuumModels(spark: SparkSession, dir: String,
                   keptGens: Seq[Long]): Int =
    vacuumModels(fsOf(spark, new Path(dir)), dir, keptGens)

  private[streaming] def vacuumModels(fs: FileSystem, dir: String,
                                      keptGens: Seq[Long]): Int = {
    val gens = listGens(fs, dir)
    if (gens.isEmpty) return 0
    val keep: Set[Long] =
      keptGens.flatMap(g => gens.filter(_ <= g).lastOption).toSet
    val md = modelsDir(dir)
    var removed = 0
    gens.filterNot(keep).foreach { g =>
      fs.delete(new Path(md, nameOf(g)), true)
      removed += 1
    }
    // tmp litter from crashed model writes
    fs.listStatus(md).toSeq
      .filter(_.getPath.getName.startsWith(".tmp-"))
      .foreach(s => fs.delete(s.getPath, true))
    removed
  }
}
