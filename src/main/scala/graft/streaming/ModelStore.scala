package graft.streaming

import org.apache.spark.sql.SparkSession
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
  * rows (the [[Similarity.ivfPqWriteIndex]] layout vocabulary):
  * engine-neutral, humanly inspectable, a few KB per epoch.
  */
object ModelStore {

  /** One quantizer epoch — the tier-shaped state a probe needs. */
  sealed trait QuantizerModel
  final case class FloatCenters(centers: Array[Array[Double]])
      extends QuantizerModel
  final case class BqCenters(centers: Array[Array[Double]])
      extends QuantizerModel
  final case class SqQuantizer(centers: Array[Array[Double]],
                               codec: Similarity.SqCodec)
      extends QuantizerModel
  final case class PqQuantizer(model: Similarity.IvfPqModel)
      extends QuantizerModel

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
    * `gen` (call BEFORE committing that generation). Idempotent: a
    * retry at the same generation replaces the orphan. */
  def write(spark: SparkSession, dir: String, gen: Long,
            model: QuantizerModel): Unit = {
    import spark.implicits._
    val md = modelsDir(dir)
    val fs = fsOf(spark, md)
    SmallFiles.mkdirs(fs, md)
    val tmp = new Path(md, s".tmp-${nameOf(gen)}")
    if (fs.exists(tmp)) { fs.delete(tmp, true); () }
    val tmpS = tmp.toString
    def writeCenters(cs: Array[Array[Double]]): Unit = {
      cs.indices.map(c => (c, cs(c))).toDF("list", "center")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmpS/centers")
      ()
    }
    val kind = model match {
      case FloatCenters(cs) => writeCenters(cs); "float"
      case BqCenters(cs) => writeCenters(cs); "bq"
      case SqQuantizer(cs, codec) =>
        writeCenters(cs)
        codec.mins.indices.map(i => (i, codec.mins(i), codec.maxs(i)))
          .toDF("pos", "mn", "mx")
          .coalesce(1).write.mode("overwrite").parquet(s"$tmpS/codec")
        "sq"
      case PqQuantizer(m) =>
        writeCenters(m.centers)
        (for (s <- m.codebooks.indices; c <- m.codebooks(s).indices)
          yield (s, c, m.codebooks(s)(c))).toDF("s", "c", "vec")
          .coalesce(1).write.mode("overwrite").parquet(s"$tmpS/books")
        m.rotation.foreach { r =>
          r.indices.map(i => (i, r(i))).toDF("i", "row")
            .coalesce(1).write.mode("overwrite").parquet(s"$tmpS/rotation")
          ()
        }
        "pq"
    }
    model match {
      case PqQuantizer(m) =>
        Seq((kind, m.dim, m.m)).toDF("kind", "dim", "m")
          .coalesce(1).write.mode("overwrite").parquet(s"$tmpS/meta")
      case _ =>
        Seq((kind, -1, -1)).toDF("kind", "dim", "m")
          .coalesce(1).write.mode("overwrite").parquet(s"$tmpS/meta")
    }
    val dest = new Path(md, nameOf(gen))
    if (fs.exists(dest)) { fs.delete(dest, true); () }
    require(fs.rename(tmp, dest),
      s"ModelStore.write: rename of model generation $gen failed for $dir")
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
    val meta = spark.read.parquet(s"$base/meta").collect()(0)
    val kind = meta.getString(0)
    def centers: Array[Array[Double]] =
      spark.read.parquet(s"$base/centers").orderBy("list")
        .collect().map(_.getSeq[Double](1).toArray)
    kind match {
      case "float" => FloatCenters(centers)
      case "bq" => BqCenters(centers)
      case "sq" =>
        val rows = spark.read.parquet(s"$base/codec").orderBy("pos")
          .collect()
        SqQuantizer(centers, Similarity.SqCodec(
          rows.map(_.getDouble(1)), rows.map(_.getDouble(2))))
      case "pq" =>
        val cs = centers
        val bookRows = spark.read.parquet(s"$base/books").orderBy("s", "c")
          .collect().map(r => (r.getInt(0), r.getInt(1),
            r.getSeq[Double](2).toArray))
        val m = meta.getInt(2)
        val books = Array.tabulate(m)(s =>
          bookRows.filter(_._1 == s).sortBy(_._2).map(_._3))
        val rotP = new Path(s"$base/rotation")
        val rotation =
          if (fsOf(spark, rotP).exists(rotP))
            Some(spark.read.parquet(s"$base/rotation").orderBy("i")
              .collect().map(_.getSeq[Double](1).toArray))
          else None
        PqQuantizer(Similarity.IvfPqModel(meta.getInt(1), m, cs, books,
          rotation))
      case other => throw new IllegalStateException(
        s"ModelStore.read: unknown model kind '$other' at $base")
    }
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
