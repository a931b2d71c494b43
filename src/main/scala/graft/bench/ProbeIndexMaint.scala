package graft.bench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.streaming.{CurateStream, IvfStream}
import graft.pipeline.Similarity
import graft.streaming.ModelStore.{FloatCenters, SqQuantizer}

/** Index-maintenance cost probe (r10): the two offline helpers a
  * long-running ingest schedules while quiesced, measured against
  * grown state so their cost claims are numbers.
  *
  *  A) [[IvfStream.reassign]] wall vs accrued index size (sf0.1
  *     embeddings replicated 1/4/16×, the r9e scheme) — the quantizer
  *     refresh is one narrow assignment pass + a list-partitioned
  *     rewrite, so the slope must be the write's linear term.
  *  B) the exact-dedup gate's per-batch fp probe as the fingerprint
  *     index accrues one partition per trigger (the r8b drift physics)
  *     and after ONE [[CurateStream.compactFpIndex]] — the probe wall
  *     must drop back to the early-index level.
  *
  * Usage: runMain graft.bench.ProbeIndexMaint /root/testdata/sf0.1 [reps] [batches]
  */
object ProbeIndexMaint {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val maxReps = args.lift(1).map(_.toInt).getOrElse(16)
    val nBatches = args.lift(2).map(_.toInt).getOrElse(24)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time[T](b: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = b; (r, (System.nanoTime() - t0) / 1e9)
    }

    // A) reassign cost vs index size
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    Seq(1, 4, maxReps).distinct.filter(_ <= maxReps).foreach { reps =>
      val repE = (0 until reps).map { k =>
        e.select((col("vec_id") + lit(k * 10000000L)).as("vec_id"),
          col("embedding"))
      }.reduce(_ union _).cache()
      val n = repE.count()
      val dir = java.nio.file.Files.createTempDirectory("ivf_re").toString +
        "/idx"
      val centersA = Similarity.ivfTrainCentroids(spark, repE, nLists = 32,
        seed = 42)
      IvfStream.encode(repE, FloatCenters(centersA))
        .write.partitionBy("list").mode("overwrite").parquet(s"$dir/batch=0")
      val centersB = Similarity.ivfTrainCentroids(spark, repE, nLists = 32,
        seed = 7)
      val (_, tRe) = time(IvfStream.reassign(spark, dir, FloatCenters(centersB)))
      println(f"[ivf-reassign] vecs=$n wall=$tRe%.2fs " +
        f"(${n / tRe}%.0f vecs/s)")
      repE.unpersist()
    }

    // B) fp-index probe drift + compaction recovery. Replicated docs
    // (replica-disjoint texts → disjoint fingerprints) arrive in
    // nBatches triggers; each trigger probes the accumulated index
    // (the curateBatch exact-gate join) and appends its partition.
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val nBase = base.count()
    val docs = (0 until maxReps).map { k =>
      base.select((col("doc_id") + lit(k * nBase)).as("doc_id"),
        regexp_replace(col("text"), "(^| )", "$1r" + k + "_").as("text"))
    }.reduce(_ union _).cache()
    val n = docs.count()
    val fpDir = java.nio.file.Files.createTempDirectory("fp_idx").toString +
      "/fp"
    val batchRows = n / nBatches + 1
    def probeBatch(b: org.apache.spark.sql.DataFrame, id: Long): Double = {
      val idx = CurateStream.readFpIndex(spark, fpDir, excludeBatch = id)
      val fp = b.select(col("doc_id"), md5(col("text")).as("fp"))
      val (_, dt) = time(fp.join(idx, Seq("fp"), "left_semi").count())
      fp.select("fp").write.mode("overwrite").parquet(s"$fpDir/batch=$id")
      dt
    }
    var walls = Seq.empty[Double]
    (0L until nBatches.toLong).foreach { id =>
      val b = docs.filter(col("doc_id") >= id * batchRows &&
        col("doc_id") < (id + 1) * batchRows)
      walls :+= probeBatch(b, id)
    }
    println(f"[fp-probe] batches=$nBatches rows/batch=$batchRows " +
      f"first3=${walls.take(3).map(w => f"$w%.2f").mkString(",")}s " +
      f"last3=${walls.takeRight(3).map(w => f"$w%.2f").mkString(",")}s " +
      f"(files grow 1/trigger)")
    val (_, tCompact) = time(CurateStream.compactFpIndex(spark, fpDir))
    // one more arrival probes the COMPACTED index
    val extra = base.select((col("doc_id") + lit(maxReps * nBase))
      .as("doc_id"),
      regexp_replace(col("text"), "(^| )", "$1rX_").as("text"))
    val wAfter = probeBatch(extra, nBatches.toLong)
    println(f"[fp-probe] compact=$tCompact%.2fs post-compaction " +
      f"probe=$wAfter%.2fs (index ${n} fps in one sorted partition set)")

    // C) cached-memory footprint of the SQ8 codes frame vs the float
    // corpus — the claim the byte-width change (r11) makes true IN
    // MEMORY, not just in parquet: measure both frames' block-manager
    // bytes under the same storage level.
    docs.unpersist(blocking = true)
    def cachedBytes(df: org.apache.spark.sql.DataFrame,
                    name: String): Long = {
      val before = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      p.count()
      val sz = spark.sparkContext.getRDDStorageInfo
        .filter(i => !before.contains(i.id) && i.numCachedPartitions > 0)
        .map(_.memSize).sum
      println(f"[sq-mem] $name cached=${sz / 1048576.0}%.1f MiB")
      p.unpersist(blocking = true)
      sz
    }
    val floats = cachedBytes(e.select(col("vec_id"), col("embedding")),
      "float64d corpus")
    val codec = Similarity.sqTrain(spark, e)
    val bytes = cachedBytes(Similarity.sqEncode(spark, e, codec),
      "sq8 codes")
    println(f"[sq-mem] shrink=${floats.toDouble / bytes}%.2fx " +
      "(float array<float> rows vs binary byte-code rows)")

    // D) compressed-index maintenance costs (r11): the codes twins of
    // section A — a codes-tier reassign re-encodes from the original
    // corpus (the lossy-codes physics), compactIndex merges trigger litter,
    // ivfPqRefreshIndex rebuilds the persisted PQ layout atomically.
    Seq(1, 4, maxReps).distinct.filter(_ <= maxReps).foreach { reps =>
      val repE = (0 until reps).map { k =>
        e.select((col("vec_id") + lit(k * 10000000L)).as("vec_id"),
          col("embedding"))
      }.reduce(_ union _).cache()
      val n = repE.count()
      val root = java.nio.file.Files.createTempDirectory("sq_re").toString
      val centersA = Similarity.ivfTrainCentroids(spark, repE, nLists = 32,
        seed = 42)
      val codecA = Similarity.sqTrain(spark, repE)
      IvfStream.encode(repE, SqQuantizer(centersA, codecA))
        .write.partitionBy("list").mode("overwrite")
        .parquet(s"$root/idx/batch=0")
      val centersB = Similarity.ivfTrainCentroids(spark, repE, nLists = 32,
        seed = 7)
      val (_, tSq) = time(IvfStream.reassign(spark, s"$root/idx",
        SqQuantizer(centersB, codecA), Some(repE)))
      val (_, tCmp) = time(IvfStream.compactIndex(spark, s"$root/idx"))
      Similarity.ivfPqWriteIndex(spark, repE, s"$root/pq", nLists = 32,
        m = 16, nCodes = 32, seed = 42)
      val (_, tPq) = time(Similarity.ivfPqRefreshIndex(spark, repE,
        s"$root/pq", nLists = 32, m = 16, nCodes = 32, seed = 7))
      println(f"[codes-maint] vecs=$n reassign=$tSq%.2fs " +
        f"(${n / tSq}%.0f vecs/s) compactCodes=$tCmp%.2fs " +
        f"pqRefresh=$tPq%.2fs (${n / tPq}%.0f vecs/s)")
      repE.unpersist()
    }

    // E) the staleness decision loop: healthy → shifted (signal rises)
    // → after retrain (signal resets). One narrow map + tiny agg per
    // reading — the per-trigger cost a live ingest would pay.
    val centersH = Similarity.ivfTrainCentroids(spark, e, nLists = 32)
    def reading(df: org.apache.spark.sql.DataFrame,
                cs: Array[Array[Double]], tag: String): Unit = {
      val (r, dt) = time(IvfStream.quantizerStaleness(df, FloatCenters(cs)).collect()(0))
      println(f"[staleness] $tag n=${r.getLong(0)} " +
        f"mean_d2=${r.getDouble(1)}%.4f max_list_frac=${r.getDouble(2)}%.4f " +
        f"wall=$dt%.2fs")
    }
    reading(e, centersH, "healthy")
    val drifted = e.select(col("vec_id"),
      transform(col("embedding"), x => x + lit(3.0f)).as("embedding"))
    reading(drifted, centersH, "shifted")
    val centersR = Similarity.ivfTrainCentroids(spark, drifted, nLists = 32)
    reading(drifted, centersR, "after-retrain")

    // F) delete cost tracks the DELETED partitions, not the corpus
    // (r12): same delete-set size against a 1× and a maxReps× index —
    // a 1-list delete must stay near the single-leaf rewrite cost while
    // the full-rewrite yardstick (a reassign) grows with the
    // corpus.
    import graft.streaming.IndexDelete
    Seq(1, maxReps).distinct.foreach { reps =>
      val repE = (0 until reps).map { k =>
        e.select((col("vec_id") + lit(k * 10000000L)).as("vec_id"),
          col("embedding"))
      }.reduce(_ union _).cache()
      val n = repE.count()
      val root = java.nio.file.Files.createTempDirectory("del_pr").toString
      val centers = Similarity.ivfTrainCentroids(spark, repE, nLists = 32)
      val assigned = IvfStream.encode(repE, FloatCenters(centers))
        .cache()
      assigned.write.partitionBy("list").mode("overwrite")
        .parquet(s"$root/idx/batch=0")
      // 100 ids confined to ONE list vs 100 ids spread across lists
      val oneList = assigned.filter(col("list") === 0).select("vec_id")
        .limit(100).collect().map(_.getLong(0)).toSeq
      val spread = assigned.select("vec_id").limit(3200)
        .collect().map(_.getLong(0)).grouped(32).map(_.head).toSeq
      assigned.unpersist()
      val (r1, t1) = time(IndexDelete.deleteIds(spark, s"$root/idx",
        oneList, "vec_id"))
      val (r2, t2) = time(IndexDelete.deleteIds(spark, s"$root/idx",
        spread, "vec_id"))
      val (_, tFull) = time(IvfStream.reassign(spark, s"$root/idx", FloatCenters(centers)))
      println(f"[delete] vecs=$n one-list: wall=$t1%.2fs " +
        f"parts=${r1.partitionsRewritten}/${r1.partitionsTotal} " +
        f"rows=${r1.rowsDeleted}; spread: wall=$t2%.2fs " +
        f"parts=${r2.partitionsRewritten}/${r2.partitionsTotal} " +
        f"rows=${r2.rowsDeleted}; full-rewrite yardstick=$tFull%.2fs")
      repE.unpersist()
    }

    // G) fragmentation (r12): the SAME corpus laid out as 1 / 16 / 64
    // trigger batches — probe wall must grow with batch count at
    // fixed data size (the small-files physics the maxBatches arm
    // exists for), and ONE compactIndex must restore the 1-batch wall.
    {
      val corpus = e.cache(); corpus.count()
      val centers = Similarity.ivfTrainCentroids(spark, corpus, nLists = 32)
      val assigned = IvfStream.encode(corpus, FloatCenters(centers)).cache()
      assigned.count()
      val qs = corpus.limit(50)
      def probeWall(dir: String): Double = {
        val (_, t) = time {
          Similarity.ivfTopKFromIndex(spark, qs,
            IvfStream.readIndex(spark, dir), centers, k = 5, nProbe = 4)
            .count()
        }
        t
      }
      def layout(nb: Int): String = {
        val dir = java.nio.file.Files.createTempDirectory("frag_pr")
          .toString + "/idx"
        (0 until nb).foreach { b =>
          assigned.filter(pmod(col("vec_id"), lit(nb)) === b)
            .write.partitionBy("list").mode("overwrite")
            .parquet(s"$dir/batch=$b")
        }
        dir
      }
      // warm the probe plan (codegen + shuffle setup) so the timed
      // walls measure the LAYOUT difference, not first-run JIT
      probeWall(layout(1))
      val walls = Seq(1, 16, 64).map { nb =>
        val dir = layout(nb)
        (nb, dir, probeWall(dir))
      }
      val (_, dir64, w64) = walls.last
      val (_, tc) = time(IvfStream.compactIndex(spark, dir64))
      val wAfter = probeWall(dir64)
      println(f"[fragment] probe walls " +
        walls.map { case (nb, _, w) => f"$nb%d-batch=$w%.2fs" }
          .mkString(" ") +
        f"; compact(64-batch) wall=$tc%.2fs, probe after=$wAfter%.2fs " +
        f"(batches now ${IvfStream.countBatches(spark, dir64)})")
      assigned.unpersist(); corpus.unpersist()
    }
    spark.stop()
  }
}
