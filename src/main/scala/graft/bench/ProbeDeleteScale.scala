package graft.bench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.streaming.{IndexDelete, IvfStream}
import graft.streaming.ModelStore.FloatCenters

/** Targeted-deletion cost at the REALISTIC regime (r12 verdict #4):
  * ProbeIndexMaint's delete arm tops out at 32 k vectors and q212's
  * sf1eq point at 8 k, both with single-digit list counts — small
  * enough that "cost tracks the deleted partitions" is cheap to honor.
  * This probe re-runs deleteIds/forgetDocs against the r6-style
  * deterministic 1M×64 corpus with ~1k inverted lists (the
  * ivfPqParamsFor posture for n=1M) and prints the three readings the
  * contract lives on:
  *
  *  - ONE-LEAF delete: ids confined to a single (batch, list) leaf —
  *    the takedown-of-one-document shape; must cost a discovery scan
  *    (column-pruned: id + partition cols) plus ONE tiny rewrite;
  *  - SPREAD delete: ids hash-spread over hundreds of leaves — the
  *    right-to-be-forgotten-user shape; must stay ONE partition-pruned
  *    job (the r12b finding: per-leaf jobs pay N driver walls);
  *  - FULL-REWRITE yardstick: compactIndex over the same corpus — the
  *    cost a delete DEGENERATES to when rewritten/total → 1, i.e. the
  *    number the DeleteReport ratio routes against.
  *
  * Usage: runMain graft.bench.ProbeDeleteScale [n] [nLists] [batches]
  */
object ProbeDeleteScale {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(1000000)
    val nLists = args.drop(1).headOption.map(_.toInt).getOrElse(1024)
    val nBatches = args.drop(2).headOption.map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    def time[T](b: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = b
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val dim = 64
    // the ProfileIvfPqScale corpus, with the latent centers doubling as
    // the frozen coarse quantizer (their count IS the list count, and
    // they are the corpus's true clusters — no training cost, which is
    // not what this probe measures)
    val centers = Array.tabulate(nLists) { c =>
      val r = new java.util.Random(1000L + c)
      Array.fill(dim)(r.nextGaussian())
    }
    val bcC = spark.sparkContext.broadcast(centers)
    val vecs = spark.range(n).map { id =>
      val r = new java.util.Random(id * 2654435761L + 7L)
      val c = bcC.value((id % nLists).toInt)
      (id, Array.tabulate(dim)(i =>
        (c(i) + 0.35 * r.nextGaussian()).toFloat))
    }.toDF("vec_id", "embedding")
      .repartition(spark.sparkContext.defaultParallelism)
    val root = java.nio.file.Files
      .createTempDirectory("graft_delscale").toString

    // batch by (id / nLists) % nBatches: cluster c's members are
    // c, c+nLists, c+2·nLists, …, so this spreads EVERY list across
    // every batch (id % nBatches would alias list parity to batch when
    // nBatches divides nLists and leave each list in one batch). The
    // repartition(list) keeps ONE file per leaf — the steady-state
    // shape after any compaction; without it every leaf holds one file
    // per input partition and the comparison measures file-count, not
    // route.
    val (_, tBuild) = time {
      (0 until nBatches).foreach { b =>
        IvfStream.encode(
            vecs.filter((col("vec_id") / nLists).cast("long")
              % nBatches === b), FloatCenters(bcC.value))
          .repartition(col("list"))
          .write.partitionBy("list").mode("overwrite")
          .parquet(s"$root/idxA/batch=$b")
      }
    }
    // an identical twin for the manifested route (filesystem copy, so
    // both routes see the same bytes and leaf count)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(s"$root/idxA"), fs,
      new org.apache.hadoop.fs.Path(s"$root/idxB"), false,
      spark.sessionState.newHadoopConf())
    graft.streaming.IndexManifest.enroll(spark, s"$root/idxB")
    val leaves = nBatches * nLists
    println(f"[del-scale] n=$n nLists=$nLists batches=$nBatches " +
      f"leaves≈$leaves build=${tBuild}%.1fs (1 file/leaf)")

    def report(tag: String, r: IndexDelete.DeleteReport, t: Double): Unit =
      println(f"[del-scale] $tag: ${t}%.1fs rows=${r.rowsDeleted} " +
        f"rewritten=${r.partitionsRewritten}/${r.partitionsTotal} " +
        f"(ratio=${r.partitionsRewritten.toDouble / r.partitionsTotal}%.4f)")

    // ONE-LEAF: cluster 0 ids in batch 0 — id = k·nLists with
    // (k % nBatches) == 0
    val oneLeafIds = (0 until 5).map(_.toLong * nLists * nBatches)
    // SPREAD: 500 hash-spread ids → hundreds of distinct leaves
    val spreadIds = (0 until 500).map(i => (i * 2001L + 13L) % n)
    import org.apache.spark.sql.DataFrame
    def runBoth(tag: String, ids: Seq[Long], maxExact: Int = 1000)
        : (Double, Double) = {
      val (ra, ta) = time(IndexDelete.deleteIds(spark, s"$root/idxA",
        ids.toDF("vec_id"), "vec_id", maxExact))
      report(s"in-place $tag", ra, ta)
      val (rb, tb) = time(IndexDelete.deleteIds(spark, s"$root/idxB",
        ids.toDF("vec_id"), "vec_id", maxExact))
      report(s"snapshot $tag", rb, tb)
      (ta, tb)
    }
    val (t1a, t1b) = runBoth("one-leaf", oneLeafIds)
    val (t2a, t2b) = runBoth("spread-500", spreadIds)
    // the isin degrade at the same spread shape (superset scan, same
    // installed set) — the >maxExactLeafPredicates regime's cost
    val spreadIds2 = (0 until 500).map(i => (i * 4003L + 29L) % n)
    val (t3a, t3b) = runBoth("spread-500-isin", spreadIds2, maxExact = 0)

    // forgetDocs through a doc→vec mapping (10 chunk vectors per doc):
    // the vec-side sweep of a document-level takedown at this scale
    val docVec = spark.range(n / 10).select(col("id").as("doc_id"))
      .select(col("doc_id"), explode(sequence(col("doc_id") * 10,
        col("doc_id") * 10 + 9)).as("vec_id"))
    val doomedDocs = (0 until 20).map(i => (i * 9973L + 1L) % (n / 10))
    val (r4, t4) = time(IndexDelete.forgetDocs(spark,
      doomedDocs.toDF("doc_id"),
      vecIndexDirs = Seq(s"$root/idxB"),
      docVec = Some(docVec)))
    report("snapshot forgetDocs-20docs", r4(s"vec:$root/idxB"), t4)

    // FULL-REWRITE yardstick: what a delete degenerates to at
    // ratio → 1 (and what the DeleteReport ratio should route to)
    val (_, t5) = time(IvfStream.compactIndex(spark, s"$root/idxA"))
    println(f"[del-scale] full-rewrite yardstick (compactIndex): ${t5}%.1fs")
    val (nVac, t6) = time(graft.streaming.IndexManifest.vacuum(spark,
      s"$root/idxB"))
    println(f"[del-scale] vacuum: ${t6}%.1fs leaves_reclaimed=$nVac")

    println(f"[del-scale] SUMMARY one_leaf=${t1a}%.1fs/${t1b}%.1fs " +
      f"spread=${t2a}%.1fs/${t2b}%.1fs isin=${t3a}%.1fs/${t3b}%.1fs " +
      f"(in-place/snapshot) forget=${t4}%.1fs full_rewrite=${t5}%.1fs " +
      f"vacuum=${t6}%.1fs")
    spark.stop()
  }
}
