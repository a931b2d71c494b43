package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import scala.reflect.runtime.universe.TypeTag

/** Similarity search over an embedding column (`array<float>`).
  *
  *  - brute-force cosine top-k: exact baseline — cross join + window
  *    group-limit (Spark 4 rewrites rn<=k to a per-partition top-k).
  *  - sign-LSH (random hyperplane) bucketed top-k: the scale path —
  *    candidates only within matching signature buckets; hyperplanes
  *    are hash-seeded so the index is deterministic and rebuildable on
  *    any cluster.
  *  - IVF-style coarse quantization via MLlib KMeans: search within the
  *    nearest `nProbe` centroids, mirroring the reference's
  *    brute→ivf_flat→ivf_pq ladder (embedder_cuvs.py:264-272).
  */
object Similarity extends Serializable {

  /** Fixed-dimension cosine over float arrays, computed in double with
    * each sum taken left to right (both engines see the same float
    * inputs → identical doubles → identical sums), as plain codegen'd
    * arithmetic: a higher-order-function form is interpreted per row
    * and was the whole cost of the all-pairs queries (87s → seconds at
    * sf0.1). */
  def cosineFixed(dim: Int, a: Column, b: Column): Column = {
    def at(c: Column, i: Int) = element_at(c, i + 1).cast("double")
    val dot = (0 until dim).map(i => at(a, i) * at(b, i)).reduce(_ + _)
    val na = (0 until dim).map(i => at(a, i) * at(a, i)).reduce(_ + _)
    val nb = (0 until dim).map(i => at(b, i) * at(b, i)).reduce(_ + _)
    dot / (sqrt(na) * sqrt(nb) + lit(1e-12))
  }

  /** [[cosineFixed]] as a compiled loop over the first `dim` elements:
    * bit-identical (each element widened to double, each sum taken left
    * to right from its first term). Join consumers use it: the 192-term
    * expression pushes the join's generated method past the JVM's
    * 64 KB limit, and Spark then runs the whole stage interpreted. */
  private[graft] def cosineLoop(a: Array[Float], b: Array[Float], dim: Int): Double = {
    var dot = a(0).toDouble * b(0); var na = a(0).toDouble * a(0)
    var nb = b(0).toDouble * b(0)
    var i = 1
    while (i < dim) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb) + 1e-12)
  }

  /** [[cosineLoop]] as a column; null when either vector is. */
  private def cosineCol(dim: Int, a: Column, b: Column): Column =
    udf { (x: Array[Float], y: Array[Float]) =>
      if (x == null || y == null) null
      else java.lang.Double.valueOf(cosineLoop(x, y, dim))
    }.apply(a, b)

  /** Exact top-k cosine neighbors for each query id. Ordering ties are
    * broken by neighbor id so results are engine-independent. */
  def bruteForceTopK(queries: DataFrame, refs: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     dim: Int = 64): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val r = refs.select(col(idCol).as("rid"), col(vecCol).as("rv"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("rid").asc)
    q.join(r, col("qid") =!= col("rid"))
      .withColumn("cos", round(cosineFixed(dim, col("qv"), col("rv")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rid"), col("cos"), col("rn"))
  }

  /** Contrastive-pair mining over a labeled embedding table — the
    * metric-learning data-prep step: per anchor, the HARDEST NEGATIVE
    * (most-similar vector with a DIFFERENT label) and the HARDEST
    * POSITIVE (least-similar vector with the SAME label), plus the
    * margin between them (negative margin = a triplet the current
    * embedding gets wrong — exactly the pairs a triplet-loss trainer
    * wants). Every anchor appears exactly once: anchors with no
    * same-label peer report null positives, anchors with no
    * different-label peer (single-label corpora) null negatives, and
    * the margin is null when either side is.
    *
    * This is the exact N·M kernel (the [[bruteForceTopK]] posture):
    * the oracle-able baseline, and correct at audit scale. At corpus
    * scale, mine within IVF cells instead — assign via [[ivfTopK]]'s
    * list structure and run this kernel per cell, the [[semDedup]]
    * cluster-bounding trade (hardest-in-cell ≈ hardest-global for the
    * high-cos pairs that matter). One window pass per polarity over
    * the pair frame, both partitioned by anchor. */
  def contrastiveMining(vectors: DataFrame, idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        labelCol: String = "label",
                        dim: Int = 64): DataFrame = {
    val a = vectors.select(col(idCol).as("aid"), col(vecCol).as("_av"),
      col(labelCol).as("_alab"))
    val b = vectors.select(col(idCol).as("_bid"), col(vecCol).as("_bv"),
      col(labelCol).as("_blab"))
    val pairs = a.join(b, col("aid") =!= col("_bid"))
      .withColumn("_cos", round(cosineFixed(dim, col("_av"), col("_bv")), 6))
    val wNeg = Window.partitionBy("aid").orderBy(col("_cos").desc, col("_bid").asc)
    val wPos = Window.partitionBy("aid").orderBy(col("_cos").asc, col("_bid").asc)
    val neg = pairs.filter(col("_alab") =!= col("_blab"))
      .withColumn("_rn", row_number().over(wNeg)).filter(col("_rn") === 1)
      .select(col("aid"), col("_bid").as("hard_neg_id"),
        col("_cos").as("hard_neg_cos"))
    val pos = pairs.filter(col("_alab") === col("_blab"))
      .withColumn("_rn", row_number().over(wPos)).filter(col("_rn") === 1)
      .select(col("aid"), col("_bid").as("hard_pos_id"),
        col("_cos").as("hard_pos_cos"))
    a.select(col("aid"))
      .join(neg, Seq("aid"), "left_outer")
      .join(pos, Seq("aid"), "left_outer")
      .select(col("aid"), col("hard_neg_id"), col("hard_neg_cos"),
        col("hard_pos_id"), col("hard_pos_cos"),
        round(col("hard_pos_cos") - col("hard_neg_cos"), 6).as("margin"))
  }

  /** Deterministic hash-seeded gaussian hyperplanes (driver-built,
    * broadcast as literals: nBits × dim doubles). */
  private def hyperplanes(nBits: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nBits, dim)(rnd.nextGaussian())
  }

  /** Approximate top-k: candidates share the full nBits signature OR any
    * of the `bands` signature bands; exact cosine re-ranks candidates.
    * Recall rises with bands; cost stays near-linear in matches.
    *
    * Signatures are computed in a typed map, not a Column expression: a
    * 16-bit × 64-dim signature is a 1024-term expression tree whose
    * Janino compile alone costs seconds and can overflow the JIT method
    * limit into interpreted eval — the compiled-Scala loop is narrow,
    * linear and bit-identical (same planes, same left-to-right dots). */
  def lshTopK(vectors: DataFrame, k: Int, nBits: Int = 16, bands: Int = 4,
              seed: Long = 42, idCol: String = "vec_id",
              vecCol: String = "embedding", dim: Int = 64): DataFrame = {
    require(nBits % bands == 0)
    val width = nBits / bands
    val planes = hyperplanes(nBits, dim, seed)
    val spark = vectors.sparkSession
    import spark.implicits._
    // candidate pairs dedupe on (qid, rid) ONLY — a distinct over the
    // raw vectors would shuffle every 64-float payload once per band
    // collision; vectors are joined back after the pair set shrinks.
    val banded = vectors.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .as[(Long, Array[Float])]
      .flatMap { case (id, v) =>
        (0 until bands).iterator.map { b =>
          var key = 0L
          var w = 0
          while (w < width) {
            val h = planes(b * width + w)
            var dot = 0.0
            var i = 0
            while (i < dim) { dot += v(i) * h(i); i += 1 }
            if (dot > 0) key |= (1L << w)
            w += 1
          }
          (id, b, key)
        }
      }.toDF("id", "band", "key")
    val cands = banded.select(col("band"), col("key"), col("id").as("qid"))
      .join(banded.select(col("band"), col("key"), col("id").as("rid")),
        Seq("band", "key"))
      .filter(col("qid") =!= col("rid"))
      .select("qid", "rid").distinct()
    rerank(cands, vectors, vectors, k, idCol, vecCol)
  }

  /** Exact-cosine re-rank of candidate pairs → per-query top-k. The
    * cosine runs in a typed map: the 192-term fixed-dim expression tree
    * exceeds codegen method limits on candidate volumes of ~1M rows and
    * falls back to interpreted eval (~17 µs/row observed); the compiled
    * loop is bit-identical to [[cosineFixed]] (same per-accumulator
    * left-to-right order). */
  private def rerankTopK(joined: DataFrame, k: Int): DataFrame = {
    val spark = joined.sparkSession
    import spark.implicits._
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("rid").asc)
    joined.select(col("qid").cast("long"), col("qv"),
        col("rid").cast("long"), col("rv"))
      .as[(Long, Array[Float], Long, Array[Float])]
      .map { case (qid, qv, rid, rv) =>
        (qid, rid, cosineLoop(qv, rv, qv.length))
      }
      .toDF("qid", "rid", "cos_raw")
      .withColumn("cos", round(col("cos_raw"), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rid"), col("cos"), col("rn"))
  }

  /** Brute-force fallback for UNDER-FILLED queries — what production
    * ANN stacks do when a query's candidate set comes back short (faiss
    * pads IVF probes; here the pad is an exact re-rank, so padded rows
    * are the TRUE top-k tail). The approximate result's per-query
    * guarantee becomes "exactly k results, always" instead of a
    * data-dependent invariant: the q30/q41/q56 audits pin `k_ok` TRUE,
    * and before this fallback a sparser corpus or reparameterization
    * could hash-fail the gate with the operator behaving as designed
    * (r7 ADVICE #4).
    *
    * Cost: one count per query id over the ANN output, then an exact
    * scan ONLY for the short queries (collected to the driver —
    * expected to be stragglers; a loud valve refuses if more than
    * `maxFallback` queries are short, because that means the index
    * parameters are wrong for the corpus and silent brute-forcing of
    * everything would hide it). `queries`/`refs` are (id, v) frames. */
  private def padShortQueries(topk: DataFrame, queries: DataFrame,
                              refs: DataFrame, k: Int,
                              maxFallback: Int = 100000): DataFrame = {
    val spark = topk.sparkSession
    import spark.implicits._
    val t = topk.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val present = t.groupBy("qid").agg(count(lit(1)).as("_n"))
    // limit-probe BEFORE collecting (the contaminationOnIngest valve
    // pattern): cap+1 rows decide pass/fail without ever pulling an
    // unbounded short set onto the driver
    val short = queries.select(col("id").cast("long").as("qid"), col("v"))
      .join(present, Seq("qid"), "left")
      .filter(coalesce(col("_n"), lit(0L)) < k)
      .select(col("qid"), col("v"))
      .limit(maxFallback + 1)
      .as[(Long, Array[Float])].collect()
    if (short.isEmpty) t
    else {
      require(short.length <= maxFallback,
        s"ANN fallback would brute-force more than $maxFallback " +
          "queries: the index parameters are wrong for this corpus — " +
          "raise bands/nProbe or the fallback cap explicitly")
      val shortDf = short.toSeq.toDF("qid", "qv")
      val joined = broadcast(shortDf)
        .join(refs.select(col("id").cast("long").as("rid"), col("v").as("rv")),
          col("qid") =!= col("rid"))
      val brute = rerankTopK(joined, k)
      t.join(broadcast(shortDf.select("qid")), Seq("qid"), "left_anti")
        .unionByName(brute)
    }
  }

  /** IVF-style coarse index: seeded k-means centroids, queries probe
    * their nearest `nProbe` clusters, exact cosine re-rank inside.
    *
    * The quantizer trains on the DRIVER over a deterministic hash-
    * ordered sample (≤ `trainCap` rows) — the standard IVF design
    * (faiss/cuVS train coarse quantizers on a subsample): centroid
    * quality needs a representative sample, not the full data, and a
    * distributed Lloyd on billions of rows would burn a shuffle per
    * iteration for no recall gain. Assignment and probing are ONE
    * narrow typed pass each against the broadcast centroids, so the
    * whole index costs two shuffles (the list join + the top-k window)
    * at any input size. */
  def ivfTopK(spark: SparkSession, vectors: DataFrame, k: Int, nLists: Int = 16,
              nProbe: Int = 2, seed: Long = 42, idCol: String = "vec_id",
              vecCol: String = "embedding", dim: Int = 64,
              trainCap: Int = 20000): DataFrame = {
    import spark.implicits._
    val src = vectors.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val centers = ivfTrainCentroids(spark, vectors, nLists, seed, idCol,
      vecCol, trainCap)
    val bc = spark.sparkContext.broadcast(centers)
    val assigned = src.as[(Long, Array[Float])]
      .map { case (id, v) => (id, v, ivfNearest(bc.value, v, 1)(0)) }
      .toDF("rid", "rv", "list")
    val qProbe = src.as[(Long, Array[Float])]
      .flatMap { case (id, v) =>
        ivfNearest(bc.value, v, nProbe).iterator.map(l => (id, v, l)) }
      .toDF("qid", "qv", "list")
    // every ref sits in exactly one list, so a (qid, rid) pair appears
    // at most once — no dedupe needed before the re-rank.
    rerank(qProbe.join(assigned, "list").filter(col("qid") =!= col("rid")),
      vectors, vectors, k, idCol, vecCol)
  }

  /** Train the IVF coarse quantizer alone — extracted from [[ivfTopK]]
    * (bit-identical sample order and Lloyd path) so the streaming
    * vector ingest ([[graft.streaming.IvfStream]]) and the
    * index-probing search ([[ivfTopKFromIndex]]) share ONE quantizer
    * with the batch operator. */
  def ivfTrainCentroids(spark: SparkSession, vectors: DataFrame,
                        nLists: Int = 16, seed: Long = 42,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        trainCap: Int = 20000): Array[Array[Double]] = {
    import spark.implicits._
    val src = vectors.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val train = src.orderBy(xxhash64(lit(seed), col("id")), col("id"))
      .limit(trainCap).as[(Long, Array[Float])].collect()
      .map(_._2.map(_.toDouble))
    lloydKMeans(train, nLists, seed)
  }

  /** Nearest `howMany` centroid ids by L2, deterministic tie-break on
    * centroid index — THE assignment arithmetic, one definition for
    * the batch operator, the streaming ingest, and the index probe. */
  private[graft] def ivfNearest(cs: Array[Array[Double]], v: Array[Float],
                                howMany: Int): Array[Int] = {
    val d2 = Array.tabulate(cs.length) { c =>
      var s = 0.0; var i = 0
      while (i < v.length) { val d = v(i) - cs(c)(i); s += d * d; i += 1 }
      s
    }
    (0 until cs.length).sortBy(c => (d2(c), c)).take(howMany).toArray
  }

  /** IVF search over a PRE-ASSIGNED index frame (idCol, vecCol, list)
    * — the query half of the accumulated-index pattern: the corpus was
    * assigned once (at ingest, by [[graft.streaming.IvfStream]], or by
    * a one-off [[graft.streaming.IvfStream.assignOnIngest]] batch) and
    * search never re-trains or re-assigns.
    *
    * The probed lists are a ≤nLists driver-side set (nLists is a
    * parameter, not data), so the index is FILTERED on them before the
    * join — when the index lives list-partitioned on disk (the
    * [[graft.streaming.IvfStream.attach]] layout) that filter becomes
    * parquet `PartitionFilters` and a probe READS nProbe/nLists of the
    * index bytes: the IVF contract made physical. PlanSpec pins the
    * pruned scan; route equality with [[ivfTopK]] under shared
    * centroids is pinned by PipelineSpec.
    *
    * Metadata-FILTERED search (r11 verdict #4), "top-k among refs
    * WHERE <pred>", is this probe over `index.filter(pred)` — and, on
    * every codes rung, `refs.filter(pred)` as well. Filter-then-search:
    * the predicate reaches the index scan before the probed-list join
    * (`PushedFilters` next to the `PartitionFilters` on a persisted
    * index, metadata written alongside by
    * [[graft.streaming.IvfStream.assignOnIngestWithMeta]]) and the
    * under-fill pad brute-forces against the allowed refs only, so a
    * selective predicate still returns exactly k whenever the filtered
    * corpus holds k+1 vectors; with `nProbe = nLists` the result is
    * [[bruteForceTopK]] over the allowed refs (spec-pinned). */
  def ivfTopKFromIndex(spark: SparkSession, queries: DataFrame,
                       index: DataFrame, centers: Array[Array[Double]],
                       k: Int, nProbe: Int = 2, idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame =
    probeRung[Array[Float]](spark, queries, index, index, k, idCol, vecCol,
      v => v, Some(nearestLists(spark, centers, nProbe)), None)

  /** A rung's stage 1 over stored codes: `score` rates one code, in its
    * IVF list (0 on a flat rung), against the query as the probe's
    * `prep` made it (once per query), and the shortlist keeps the first
    * `cut` rows per query in `order` of the `score` column, ties to the
    * lower rid. */
  private final case class Stage1[P](score: (P, Int, Array[Byte]) => Double,
                                     order: Column, cut: Int)

  /** The probed-list expansion of the float, SQ8 and BQ rungs: a
    * query's `nProbe` nearest coarse centers ([[ivfNearest]]). */
  private def nearestLists(spark: SparkSession, centers: Array[Array[Double]],
                           nProbe: Int): (Array[Float], Any) => Iterator[Int] = {
    val bc = spark.sparkContext.broadcast(centers)
    (v, _) => ivfNearest(bc.value, v, nProbe).iterator
  }

  /** THE probe of every index rung. Candidates are (query, stored row)
    * pairs: with `nearest` (IVF) each query — its vector and what `prep`
    * made of it — expands to its probed lists,
    * that frame is persisted before the list set is collected (the
    * collected filter and the join must see ONE materialization — a
    * non-deterministic queries frame could otherwise diverge between
    * the two evaluations; r9 ADVICE), and the index is filtered to the
    * ≤nLists set before the join, so a list-partitioned index (the
    * [[graft.streaming.IvfStream.attach]] layout) prunes to it as
    * parquet `PartitionFilters` and a probe reads nProbe/nLists of the
    * index bytes; a metadata predicate the caller applied to `index`
    * lands in the same scan as `PushedFilters` (PlanSpec pins both).
    * Without `nearest` (flat) every stored row is a candidate.
    *
    * With a `stage1` the index holds `codes`: a typed map scores each
    * candidate and a window group-limit cuts the shortlist, which
    * [[rerank]] joins back to the true vectors in `refs`. Without one
    * (the float rung) the index holds the vectors themselves, every
    * candidate re-ranks exactly and short queries pad against the
    * index. */
  private def probeRung[P: TypeTag](spark: SparkSession, queries: DataFrame,
                                    index: DataFrame, refs: DataFrame,
                                    k: Int, idCol: String, vecCol: String,
                                    prep: Array[Float] => P,
                                    nearest: Option[(Array[Float], P) => Iterator[Int]],
                                    stage1: Option[Stage1[P]]): DataFrame = {
    import spark.implicits._
    val q = refsFrame(queries, idCol, vecCol).as[(Long, Array[Float])]
    val stored = (if (stage1.isEmpty) col(vecCol) else col("codes")).as("rc")
    val (cands, probed) = nearest match {
      case Some(lists) =>
        val probe = q.flatMap { case (id, v) =>
            val p = prep(v); lists(v, p).map(l => (id, p, l)) }
          .toDF("qid", "qp", "list")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val ls = probe.select("list").distinct().as[Int].collect().toSeq
        val idx = index.filter(col("list").isin(ls: _*))
          .select(col(idCol).cast("long").as("rid"), stored, col("list"))
        (probe.join(idx, "list").filter(col("qid") =!= col("rid")),
          Some(probe))
      case None =>
        val qp = q.map { case (id, v) => (id, prep(v)) }.toDF("qid", "qp")
        (qp.join(index.select(col(idCol).cast("long").as("rid"), stored),
          col("qid") =!= col("rid")).withColumn("list", lit(0)), None)
    }
    val shortlist = stage1 match {
      case None => cands.select(col("qid"), col("qp").as("qv"), col("rid"),
        col("rc").as("rv"))
      case Some(s) =>
        val score = s.score
        cands.select(col("qid"), col("qp"), col("list"), col("rid"), col("rc"))
          .as[(Long, P, Int, Long, Array[Byte])]
          .map { case (qid, p, l, rid, c) => (qid, rid, score(p, l, c)) }
          .toDF("qid", "rid", "score")
          .withColumn("rn", row_number().over(
            Window.partitionBy("qid").orderBy(s.order, col("rid").asc)))
          .filter(col("rn") <= s.cut)
          .select("qid", "rid")
    }
    rerank(shortlist, queries, refs, k, idCol, vecCol, probed)
  }

  /** Stage 2 of every rung: shortlisted (qid, rid) pairs join back to
    * the true vectors (candidates that already carry `qv`/`rv` skip the
    * joins), [[rerankTopK]] ranks them exactly and [[padShortQueries]]
    * fills under-filled queries from `refs`. The padded output holds
    * its own cache, so the probe frame `probed` is released here.
    * Caveat: the single-materialization guarantee holds only while that
    * downstream cache survives — if its blocks are evicted AND the
    * queries frame is non-deterministic, a late action recomputes the
    * probe (r10 ADVICE). Deterministic sources are unaffected. */
  private def rerank(cands: DataFrame, queries: DataFrame, refs: DataFrame,
                     k: Int, idCol: String, vecCol: String,
                     probed: Option[DataFrame] = None): DataFrame = {
    val qv = refsFrame(queries, idCol, vecCol)
    val rv = refsFrame(refs, idCol, vecCol)
    val joined =
      if (cands.columns.contains("rv")) cands
      else cands
        .join(qv.select(col("id").as("qid"), col("v").as("qv")), "qid")
        .join(rv.select(col("id").as("rid"), col("v").as("rv")), "rid")
    val out = padShortQueries(rerankTopK(joined, k), qv, rv, k)
    probed.foreach(_.unpersist())
    out
  }

  /** IVF-PQ: coarse inverted lists + product-quantized residuals +
    * exact refine — the top rung of the reference's ANN ladder
    * (embedder_cuvs.py:264-272 routes >1M vectors to ivf_pq).
    *
    * Memory is the point of PQ: each reference vector is stored for
    * scanning as `m` one-byte codes instead of `dim` floats (64-dim
    * float32 → 8 bytes, a 32× shrink), which is what lets a scan tier
    * hold billions of vectors. The shipped pipeline:
    *
    *  1. driver-trained quantizers on a deterministic hash-ordered
    *     sample (same design as [[ivfTopK]]): coarse k-means over
    *     L2-NORMALIZED vectors (unit sphere ⟹ L2 order ≡ cosine
    *     order), then per-subspace k-means codebooks over coarse
    *     RESIDUALS (v/‖v‖ − center) — residual PQ, the faiss/cuVS
    *     formulation, ~an order of magnitude less quantization error
    *     than raw-vector PQ at equal bits;
    *  2. one narrow typed pass encodes refs to (list, m codes);
    *  3. queries probe `nProbe` lists; candidates are scored by ADC
    *     (asymmetric distance: exact query vs decoded ref) — no float
    *     vector is shuffled for scanning, only codes;
    *  4. the ADC shortlist (`k·refine` per query, window group-limit)
    *     joins back the TRUE vectors for an exact-cosine re-rank — the
    *     cuVS `refine()` step — so emitted cos values are exact and
    *     bit-match [[bruteForceTopK]] on every hit.
    *
    * Two shuffles (list join, shortlist window) + the refine join at
    * any corpus size; codes stay `m` bytes/row on the wire. */
  def ivfPqTopK(spark: SparkSession, vectors: DataFrame, k: Int,
                nLists: Int = 16, nProbe: Int = 2, m: Int = 8,
                nCodes: Int = 32, refine: Int = 4, seed: Long = 42,
                idCol: String = "vec_id", vecCol: String = "embedding",
                dim: Int = 64, trainCap: Int = 20000,
                queriesOpt: Option[DataFrame] = None): DataFrame = {
    val (model, index) = ivfPqBuildIndex(spark, vectors, nLists, m,
      nCodes, seed, idCol, vecCol, dim, trainCap)
    ivfPqTopKFromIndex(spark, queriesOpt.getOrElse(vectors), index, model,
      vectors, k, nProbe, refine, idCol, vecCol)
  }

  /** Trained IVF-PQ model: coarse centers over UNIT vectors + the
    * per-subspace RESIDUAL codebooks — (nLists + m·nCodes/m)·dim
    * doubles, driver-held, broadcast for encode and probe. One
    * definition of every arithmetic step (normalization, assignment,
    * encode, ADC) for the build, the probe, and any streamed ingest. */
  case class IvfPqModel(dim: Int, m: Int,
                        centers: Array[Array[Double]],
                        codebooks: Array[Array[Array[Double]]],
                        rotation: Option[Array[Array[Double]]] = None) {
    val dsub: Int = dim / m
    /** Normalize, then (OPQ) rotate. The rotation is orthogonal, so
      * every distance the model computes is preserved — it exists only
      * to re-balance variance across the m subspace splits (Ge et al.,
      * CVPR 2013), which is where PQ loses recall on correlated dims.
      * Folding it HERE means every consumer (batch build, streamed
      * ingest, probe, staleness reading) applies it identically with
      * no second code path. */
    private[graft] def unit(v: Array[Float]): Array[Double] = {
      val u = unitOf(v, dim)
      rotation match {
        case Some(r) => rotateVec(r, u)
        case None => u
      }
    }
    /** First strict minimum — the assignment tie-break (lowest id). */
    private[graft] def argminCenter(u: Array[Double]): Int = {
      var best = 0; var bd = Double.MaxValue; var c = 0
      while (c < centers.length) {
        var s = 0.0; var i = 0
        while (i < dim) { val d = u(i) - centers(c)(i); s += d * d; i += 1 }
        if (s < bd) { bd = s; best = c }
        c += 1
      }
      best
    }
    /** All centroid ids by ascending L2, ties to the lower id — the
      * probe order (prefix of it = the probed lists). */
    private[graft] def nearestCenters(u: Array[Double]): Array[Int] = {
      val d2 = Array.tabulate(centers.length) { c =>
        var s = 0.0; var i = 0
        while (i < dim) { val d = u(i) - centers(c)(i); s += d * d; i += 1 }
        s
      }
      centers.indices.sortBy(c => (d2(c), c)).toArray
    }
    private[graft] def encode(u: Array[Double], list: Int): Array[Byte] = {
      val c = centers(list)
      val out = new Array[Byte](m)
      var s = 0
      while (s < m) {
        val cb = codebooks(s)
        var best = 0; var bd = Double.MaxValue; var cc = 0
        while (cc < cb.length) {
          var d = 0.0; var j = 0
          while (j < dsub) {
            val x = u(s * dsub + j) - c(s * dsub + j) - cb(cc)(j)
            d += x * x; j += 1
          }
          if (d < bd) { bd = d; best = cc }
          cc += 1
        }
        out(s) = best.toByte
        s += 1
      }
      out
    }
    /** ADC: squared L2 between the exact unit query and
      * center + decoded residual — no float vector rehydrated. */
    private[graft] def adc(qu: Array[Double], list: Int,
                           codes: Array[Byte]): Double = {
      val c = centers(list)
      var d = 0.0
      var s = 0
      while (s < m) {
        val cb = codebooks(s)(codes(s) & 0xff)
        var j = 0
        while (j < dsub) {
          val x = qu(s * dsub + j) - c(s * dsub + j) - cb(j)
          d += x * x; j += 1
        }
        s += 1
      }
      d
    }
  }

  /** Build the IVF-PQ index ONCE: train both quantizers on the
    * deterministic hash-ordered sample and encode the corpus in one
    * narrow pass — (model, index) where the index frame is (idCol,
    * list, codes: m bytes/row, a 32× shrink at m=8/dim=64). The
    * build/probe split [[sqBuildIndex]]/[[ivfTopKFromIndex]]
    * established, applied to the top rung: a deployment persists the
    * codes `partitionBy("list")` and probes many times
    * ([[ivfPqTopKFromIndex]] prunes to the probed lists);
    * [[ivfPqTopK]] (the q56 audit surface) delegates here, so the
    * one-call and index routes share every bit of arithmetic. */
  def ivfPqBuildIndex(spark: SparkSession, refs: DataFrame,
                      nLists: Int = 16, m: Int = 8, nCodes: Int = 32,
                      seed: Long = 42, idCol: String = "vec_id",
                      vecCol: String = "embedding", dim: Int = 64,
                      trainCap: Int = 20000): (IvfPqModel, DataFrame) = {
    val model = ivfPqTrainModel(spark, refs, nLists, m, nCodes, seed,
      idCol, vecCol, dim, trainCap)
    (model, ivfPqEncodeAll(spark, refs, model, idCol, vecCol))
  }

  /** Train ONLY the IVF-PQ quantizer pair (coarse k-means over unit
    * vectors + per-subspace residual codebooks) — the build's training
    * half factored out so a maintenance retrain
    * ([[graft.streaming.IvfStream.maintainPq]]) doesn't pay a corpus
    * encode it immediately redoes on the index's id subset. */
  def ivfPqTrainModel(spark: SparkSession, refs: DataFrame,
                      nLists: Int = 16, m: Int = 8, nCodes: Int = 32,
                      seed: Long = 42, idCol: String = "vec_id",
                      vecCol: String = "embedding", dim: Int = 64,
                      trainCap: Int = 20000): IvfPqModel = {
    require(dim % m == 0, s"dim=$dim must split into m=$m subspaces")
    require(nCodes <= 256, "one-byte codes: nCodes must be ≤ 256")
    val dsub = dim / m
    import spark.implicits._
    val src = refs.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val train = src.orderBy(xxhash64(lit(seed), col("id")), col("id"))
      .limit(trainCap).as[(Long, Array[Float])].collect()
      .map(t => unitOf(t._2, dim))
    val centers = lloydKMeans(train, nLists, seed)
    val coarse = IvfPqModel(dim, m, centers, Array.empty)
    // per-subspace codebooks over residuals of the training sample
    val residuals = train.map { v =>
      val c = centers(coarse.argminCenter(v))
      Array.tabulate(dim)(i => v(i) - c(i))
    }
    val codebooks: Array[Array[Array[Double]]] = Array.tabulate(m) { s =>
      val sub = residuals.map(r =>
        java.util.Arrays.copyOfRange(r, s * dsub, (s + 1) * dsub))
      lloydKMeans(sub, nCodes, seed + s + 1)
    }
    IvfPqModel(dim, m, centers, codebooks)
  }

  /** OPQ: learn an orthogonal ROTATION before the subspace split
    * (Ge, He, Ke & Sun, "Optimized Product Quantization", CVPR 2013 —
    * the standard recall lift at identical index bytes). PQ's loss is
    * dominated by variance imbalance and correlation ACROSS the m
    * subspaces; an orthogonal R redistributes both without changing
    * any distance, so quantizing R·x loses less than quantizing x.
    * The non-parametric alternation (the paper's OPQ_NP, the faiss
    * `OPQMatrix` recipe) on the driver-side training sample:
    *
    *  1. fix R, train the quantizer PAIR in rotated space — the exact
    *     [[ivfPqTrainModel]] arithmetic on R·x;
    *  2. fix the quantizers, reconstruct x̂ = center + decoded
    *     residual for each training vector and solve the orthogonal
    *     Procrustes problem min_R ‖R·X − X̂‖_F: with M = Σ x̂ xᵀ and
    *     SVD M = U·S·Vᵀ, the minimizer is R = U·Vᵀ (d×d SVD on the
    *     driver — breeze, the EigenInit dependency).
    *
    * Each half-step is a coordinate descent on the shared
    * quantization error, so the objective is non-increasing. The
    * returned model carries the rotation INSIDE `unit` — every
    * consumer (batch build, [[graft.streaming.IvfStream.attachPq]]
    * ingest, probe, unit-space staleness) applies it with no second
    * code path, and [[graft.streaming.IvfStream.maintainPq]] retrains
    * WITH rotation when the live model has one. */
  def ivfOpqTrainModel(spark: SparkSession, refs: DataFrame,
                       nLists: Int = 16, m: Int = 8, nCodes: Int = 32,
                       iters: Int = 6, seed: Long = 42,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding", dim: Int = 64,
                       trainCap: Int = 20000): IvfPqModel = {
    require(dim % m == 0, s"dim=$dim must split into m=$m subspaces")
    require(nCodes <= 256, "one-byte codes: nCodes must be ≤ 256")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    import spark.implicits._
    val dsub = dim / m
    val src = refs.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val train0 = src.orderBy(xxhash64(lit(seed), col("id")), col("id"))
      .limit(trainCap).as[(Long, Array[Float])].collect()
      .map(t => unitOf(t._2, dim))
    var rot: Array[Array[Double]] =
      Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    var model: IvfPqModel = null
    var it = 0
    while (it < iters) {
      val x = train0.map(rotateVec(rot, _))
      // step 1: the quantizer pair in the current rotated space —
      // ivfPqTrainModel's exact arithmetic, seed-stable across rounds
      val centers = lloydKMeans(x, nLists, seed)
      val coarse = IvfPqModel(dim, m, centers, Array.empty)
      val residuals = x.map { v =>
        val c = centers(coarse.argminCenter(v))
        Array.tabulate(dim)(i => v(i) - c(i))
      }
      val codebooks: Array[Array[Array[Double]]] = Array.tabulate(m) { s =>
        val sub = residuals.map(r =>
          java.util.Arrays.copyOfRange(r, s * dsub, (s + 1) * dsub))
        lloydKMeans(sub, nCodes, seed + s + 1)
      }
      model = IvfPqModel(dim, m, centers, codebooks)
      if (it < iters - 1) {
        // step 2: Procrustes — M = Σ x̂ uᵀ over the UNROTATED sample
        val mMat = breeze.linalg.DenseMatrix.zeros[Double](dim, dim)
        var n = 0
        while (n < train0.length) {
          val xr = x(n)
          val l = model.argminCenter(xr)
          val codes = model.encode(xr, l)
          val xhat = model.centers(l).clone()
          var s = 0
          while (s < m) {
            val cb = model.codebooks(s)(codes(s) & 0xff)
            var j = 0
            while (j < dsub) { xhat(s * dsub + j) += cb(j); j += 1 }
            s += 1
          }
          val u0 = train0(n)
          var i = 0
          while (i < dim) {
            var j = 0
            while (j < dim) { mMat(i, j) += xhat(i) * u0(j); j += 1 }
            i += 1
          }
          n += 1
        }
        val decomp = breeze.linalg.svd(mMat)
        val rNew = decomp.U * decomp.Vt
        rot = Array.tabulate(dim, dim)((i, j) => rNew(i, j))
      }
      it += 1
    }
    model.copy(rotation = Some(rot))
  }

  /** AUTO-routed PQ training (r13 verdict #8): train BOTH the plain
    * and the OPQ-rotated model, A/B them on the train sample, and keep
    * the rotation only when it measurably pays.
    *
    * The A/B criterion is CODE RECALL, not reconstruction error — a
    * measured necessity, not a taste choice: the verdict suggested
    * comparing reconstruction error, but OPQ coordinate-descends
    * exactly that objective, and on THIS round's two probe corpora it
    * wins it by 22–33 % on BOTH — including the isotropic-blobs
    * control where the r13g probe measured the recall payoff as
    * neutral-to-negative. Reconstruction error cannot discriminate
    * (it improves by construction); what the rotation must actually
    * buy is ranking quality. So the A/B replays r13g's measurement in
    * miniature: exact top-`abK` neighbors of `abQueries` sample
    * vectors in unit space vs each model's full-ADC ranking over the
    * sample (full ADC on purpose — no probe term, so the reading
    * isolates the CODES, the r13g lesson about coverage-bound
    * readings). Rotated wins only when its recall beats plain by more
    * than `margin` ABSOLUTE recall points — 0.03 by default, because
    * the rotation costs a d×d multiply on every `unit` call forever
    * and r13g graded a ~1-point lift "neutral"; measured on the two
    * probe corpora: anisotropic +8.3 pt (routes rotated), isotropic
    * +1.1 pt (routes plain). Driver-side, deterministic,
    * train-time-only: ~|Q|·|sample|·dim flops, capped by `abRefCap`. */
  def ivfPqTrainModelAuto(spark: SparkSession, refs: DataFrame,
                          nLists: Int = 16, m: Int = 8, nCodes: Int = 32,
                          iters: Int = 6, seed: Long = 42,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding", dim: Int = 64,
                          trainCap: Int = 20000,
                          margin: Double = 0.03,
                          abQueries: Int = 64, abK: Int = 10,
                          abRefCap: Int = 4096): IvfPqModel = {
    require(margin >= 0.0, s"margin must be >= 0, got $margin")
    require(abQueries >= 1 && abK >= 1 && abRefCap > abK,
      s"bad A/B dims: queries=$abQueries k=$abK refCap=$abRefCap")
    import spark.implicits._
    val src = refs.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val sample = src.orderBy(xxhash64(lit(seed), col("id")), col("id"))
      .limit(math.min(trainCap, abRefCap))
      .as[(Long, Array[Float])].collect()
      .map(t => unitOf(t._2, dim))
    val plain = ivfPqTrainModel(spark, refs, nLists, m, nCodes, seed,
      idCol, vecCol, dim, trainCap)
    val rotated = ivfOpqTrainModel(spark, refs, nLists, m, nCodes, iters,
      seed, idCol, vecCol, dim, trainCap)
    val nQ = math.min(abQueries, sample.length)
    val k = math.min(abK, math.max(1, sample.length - 1))
    // exact ground truth in unit space (self excluded)
    def topSet(scores: Array[Double], self: Int): Set[Int] =
      scores.indices.filter(_ != self).sortBy(i => (scores(i), i))
        .take(k).toSet
    val truth = Array.tabulate(nQ) { q =>
      val d2 = Array.tabulate(sample.length) { r =>
        var s = 0.0; var i = 0
        while (i < dim) {
          val d = sample(q)(i) - sample(r)(i); s += d * d; i += 1 }
        s
      }
      topSet(d2, q)
    }
    def recallOf(model: IvfPqModel): Double = {
      // every sample vector encoded under the model, in model space
      val x = sample.map(v => model.rotation match {
        case Some(r) => rotateVec(r, v)
        case None => v
      })
      val lists = x.map(model.argminCenter)
      val codes = Array.tabulate(sample.length)(i =>
        model.encode(x(i), lists(i)))
      var hits = 0L
      var q = 0
      while (q < nQ) {
        val scores = Array.tabulate(sample.length)(r =>
          model.adc(x(q), lists(r), codes(r)))
        hits += (topSet(scores, q) & truth(q)).size
        q += 1
      }
      hits.toDouble / (nQ.toLong * k)
    }
    val rp = recallOf(plain)
    val rr = recallOf(rotated)
    System.err.println(f"[opq-auto] code recall@$k plain=$rp%.4f " +
      f"rotated=$rr%.4f margin=$margin%.4f -> " +
      s"${if (rr > rp + margin) "rotated" else "plain"}")
    if (rr > rp + margin) rotated else plain
  }

  /** [[ivfPqBuildIndex]] with the OPQ-rotated model: train
    * ([[ivfOpqTrainModel]]) and encode the corpus in the one narrow
    * pass — the encode map is the model's own arithmetic, so the
    * rotation rides inside `unit` and the index frame shape is
    * byte-compatible with the unrotated layout. */
  def ivfOpqBuildIndex(spark: SparkSession, refs: DataFrame,
                       nLists: Int = 16, m: Int = 8, nCodes: Int = 32,
                       iters: Int = 6, seed: Long = 42,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding", dim: Int = 64,
                       trainCap: Int = 20000): (IvfPqModel, DataFrame) = {
    val model = ivfOpqTrainModel(spark, refs, nLists, m, nCodes, iters,
      seed, idCol, vecCol, dim, trainCap)
    (model, ivfPqEncodeAll(spark, refs, model, idCol, vecCol))
  }

  /** One encode pass of `refs` under an existing model — the build's
    * second half factored out so the PQ and OPQ builds share it
    * byte-for-byte (and it IS [[graft.streaming.IvfStream
    * .assignAndPqEncodeOnIngest]]'s map, spec-pinned equal). */
  private def ivfPqEncodeAll(spark: SparkSession, refs: DataFrame,
                             model: IvfPqModel, idCol: String,
                             vecCol: String): DataFrame = {
    import spark.implicits._
    val src = refs.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val bc = spark.sparkContext.broadcast(model)
    src.as[(Long, Array[Float])]
      .map { case (id, v) =>
        val mm = bc.value
        val u = mm.unit(v)
        val list = mm.argminCenter(u)
        (id, list, mm.encode(u, list))
      }.toDF(idCol, "list", "codes")
  }

  /** Persist the IVF-PQ index: codes list-partitioned
    * (`dir/codes/batch=0/list=*` — the [[ivfTopKFromIndex]] pruning
    * layout), coarse centers and codebooks as plain rows. Returns the
    * model. */
  def ivfPqWriteIndex(spark: SparkSession, refs: DataFrame, dir: String,
                      nLists: Int = 16, m: Int = 8, nCodes: Int = 32,
                      seed: Long = 42, idCol: String = "vec_id",
                      vecCol: String = "embedding", dim: Int = 64,
                      trainCap: Int = 20000): IvfPqModel = {
    val (model, index) = ivfPqBuildIndex(spark, refs, nLists, m, nCodes,
      seed, idCol, vecCol, dim, trainCap)
    ivfPqWriteLayout(spark, model, index, dir)
    model
  }

  /** [[ivfPqWriteIndex]] for the OPQ-rotated rung: same layout plus a
    * `rotation` subdirectory, read back transparently by
    * [[ivfPqReadIndex]] (absent for unrotated models, so the two
    * layouts interoperate). */
  def ivfOpqWriteIndex(spark: SparkSession, refs: DataFrame, dir: String,
                       nLists: Int = 16, m: Int = 8, nCodes: Int = 32,
                       iters: Int = 6, seed: Long = 42,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding", dim: Int = 64,
                       trainCap: Int = 20000): IvfPqModel = {
    val (model, index) = ivfOpqBuildIndex(spark, refs, nLists, m, nCodes,
      iters, seed, idCol, vecCol, dim, trainCap)
    ivfPqWriteLayout(spark, model, index, dir)
    model
  }

  /** One writer for the IVF-PQ on-disk layout (codes list-partitioned
    * under `batch=0`, centers + codebooks as plain rows) — shared by
    * the initial [[ivfPqWriteIndex]] and the [[ivfPqRefreshIndex]]
    * temp-dir write so both produce byte-compatible directories. */
  private def ivfPqWriteLayout(spark: SparkSession, model: IvfPqModel,
                               index: DataFrame, dir: String): Unit = {
    import spark.implicits._
    index.write.partitionBy("list").mode("overwrite")
      .parquet(s"$dir/codes/batch=0")
    model.centers.indices.map(c => (c, model.centers(c)))
      .toDF("list", "center")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centers")
    (for (s <- model.codebooks.indices; c <- model.codebooks(s).indices)
      yield (s, c, model.codebooks(s)(c)))
      .toDF("s", "c", "vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/books")
    // OPQ rotation rows (i, row) — absent for an unrotated model, so
    // pre-r13 directories read back unchanged
    model.rotation.foreach { r =>
      r.indices.map(i => (i, r(i))).toDF("i", "row")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/rotation")
      ()
    }
  }

  /** Quantizer refresh for a PERSISTED IVF-PQ index (the
    * [[ivfPqWriteIndex]] layout) — the compressed-tier maintenance
    * path (r10 verdict: PQ codes are lossy, so drift repair needs the
    * ORIGINAL corpus, exactly like [[graft.streaming.IvfStream
    * .reassignSq]]): retrain both quantizers on `refs` under the new
    * parameters/seed and re-encode in the one narrow build pass.
    *
    * Installation has two routes (r14, closing the last
    * documented-quiesce refresh):
    *  - an ENROLLED codes layout ([[ivfPqEnrollIndex]]) refreshes
    *    COPY-ON-WRITE: the new codes land in the generation's rewrite
    *    leaf, the new model persists as a [[graft.streaming
    *    .ModelStore]] epoch at the commit's generation (written
    *    BEFORE the commit), and the manifest generation ADVANCES — a
    *    reader pinned pre-refresh keeps its leaves AND its model
    *    epoch ([[ivfPqReadIndexAt]] replays byte-identically), while
    *    [[ivfPqReadIndex]] serves the new pair. The top-level
    *    centers/books/rotation mirror is refreshed too, but it is
    *    authoritative only for un-enrolled layouts.
    *  - an un-enrolled layout keeps the original whole-directory
    *    [[graft.streaming.IndexSwap]] (codes + centers + books move
    *    together atomically); a crash mid-swap self-heals on the next
    *    [[ivfPqReadIndex]]. Run THAT route while probes are
    *    quiesced, as before. */
  def ivfPqRefreshIndex(spark: SparkSession, refs: DataFrame, dir: String,
                        nLists: Int = 16, m: Int = 8, nCodes: Int = 32,
                        seed: Long = 42, idCol: String = "vec_id",
                        vecCol: String = "embedding", dim: Int = 64,
                        trainCap: Int = 20000): IvfPqModel = {
    graft.streaming.IndexSwap.requireLive(spark, dir, "ivfPqRefreshIndex")
    val codesDir = s"$dir/codes"
    graft.streaming.IndexManifest.current(spark, codesDir) match {
      case Some(snap) =>
        val (model, index) = ivfPqBuildIndex(spark, refs, nLists, m,
          nCodes, seed, idCol, vecCol, dim, trainCap)
        index.write.partitionBy("list").mode("overwrite")
          .parquet(s"$codesDir/batch=${snap.rewriteBatchId}")
        graft.streaming.ModelStore.write(spark, codesDir, snap.gen + 1,
          graft.streaming.ModelStore.PqQuantizer(model))
        graft.streaming.IndexManifest.commitRewrite(spark, codesDir,
          snap, snap.leaves)
        ivfPqWriteModelMirror(spark, model, dir)
        model
      case None =>
        val tmp = dir + ".compact"
        val (model, index) = ivfPqBuildIndex(spark, refs, nLists, m,
          nCodes, seed, idCol, vecCol, dim, trainCap)
        ivfPqWriteLayout(spark, model, index, tmp)
        graft.streaming.IndexSwap.swap(spark, dir, tmp)
        model
    }
  }

  /** Refresh the top-level centers/books/rotation rows in place — the
    * legacy mirror an enrolled refresh keeps roughly current for
    * tooling that inspects the layout; enrolled READERS resolve the
    * model from the generation-keyed [[graft.streaming.ModelStore]]
    * epoch instead, so the mirror's non-atomic update window never
    * feeds a probe. A now-unrotated model removes the stale rotation
    * dir.
    *
    * The three overwrites are sequential and independently non-atomic,
    * so a crash mid-sequence would leave a TORN mirror (new centers
    * with old books, or a stale rotation) that the legacy
    * [[ivfPqReadIndex]] fallback and external tooling would read as
    * consistent. A marker file (`_modelmirror.inprogress`) brackets
    * the sequence: created before the first write, removed after the
    * last, and the legacy read path refuses — loudly — while it
    * exists. Rotation is rewritten FIRST so even a pre-marker-aware
    * reader sees rotation-vs-books skew (detectable: codebooks are
    * trained in the rotated space) rather than the silent
    * centers-vs-books tear. */
  private[pipeline] def modelMirrorMarker(dir: String) =
    new org.apache.hadoop.fs.Path(s"$dir/_modelmirror.inprogress")

  private def ivfPqWriteModelMirror(spark: SparkSession,
                                    model: IvfPqModel,
                                    dir: String): Unit = {
    import spark.implicits._
    val marker = modelMirrorMarker(dir)
    val fs = graft.util.SmallFiles.fsOf(spark, marker)
    graft.util.SmallFiles.touch(fs, marker)
    val rotP = new org.apache.hadoop.fs.Path(s"$dir/rotation")
    model.rotation match {
      case Some(r) =>
        r.indices.map(i => (i, r(i))).toDF("i", "row")
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/rotation")
        ()
      case None => if (fs.exists(rotP)) { fs.delete(rotP, true); () }
    }
    model.centers.indices.map(c => (c, model.centers(c)))
      .toDF("list", "center")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centers")
    (for (s <- model.codebooks.indices; c <- model.codebooks(s).indices)
      yield (s, c, model.codebooks(s)(c)))
      .toDF("s", "c", "vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/books")
    fs.delete(marker, false)
    ()
  }

  /** Opt a persisted IVF-PQ layout into snapshot reads WITH model
    * versioning: enroll `<dir>/codes` in [[graft.streaming
    * .IndexManifest]] and persist the current quantizer pair as the
    * enrollment generation's [[graft.streaming.ModelStore]] epoch —
    * the precondition for [[ivfPqReadIndexAt]] pins to survive an
    * [[ivfPqRefreshIndex]]. */
  def ivfPqEnrollIndex(spark: SparkSession, dir: String)
      : graft.streaming.IndexManifest.Snapshot = {
    val (model, _) = ivfPqReadIndex(spark, dir)
    val snap = graft.streaming.IndexManifest.enroll(spark, s"$dir/codes")
    graft.streaming.ModelStore.write(spark, s"$dir/codes", snap.gen,
      graft.streaming.ModelStore.PqQuantizer(model))
    snap
  }

  /** Load a persisted IVF-PQ index: (model, codes frame). On an
    * enrolled layout with model epochs the PAIR is resolved from ONE
    * pinned generation (model epoch ≤ gen + that generation's leaves)
    * — a refresh committing between two separate reads can never
    * produce new-model/old-codes or the reverse. Falls back to the
    * top-level model rows for legacy layouts. Self-heals an
    * interrupted un-enrolled [[ivfPqRefreshIndex]] swap first — at
    * the directory AND codes levels (a delete on `<dir>/codes` marks
    * one level down). */
  def ivfPqReadIndex(spark: SparkSession, dir: String,
                     idCol: String = "vec_id"): (IvfPqModel, DataFrame) = {
    graft.streaming.IndexSwap.restoreIfInterrupted(spark, dir)
    graft.streaming.IndexSwap.restoreIfInterrupted(spark, s"$dir/codes")
    graft.streaming.IndexManifest.current(spark, s"$dir/codes")
      .foreach { snap =>
        graft.streaming.ModelStore.readAt(spark, s"$dir/codes", snap.gen)
          .foreach {
            case graft.streaming.ModelStore.PqQuantizer(mm) =>
              return (mm, ivfPqCodesAt(spark, dir, snap, idCol))
            case other => throw new IllegalStateException(
              s"ivfPqReadIndex: $dir/codes stores a " +
                s"${other.getClass.getSimpleName} model epoch — not an " +
                "IVF-PQ layout")
          }
      }
    val mirrorMarker = modelMirrorMarker(dir)
    require(!mirrorMarker.getFileSystem(spark.sessionState.newHadoopConf())
        .exists(mirrorMarker),
      s"ivfPqReadIndex: the top-level model mirror at $dir is TORN — " +
        "a mirror rewrite crashed mid-sequence (centers/books/rotation " +
        "are updated sequentially; the _modelmirror.inprogress marker " +
        "is still present). Enrolled layouts resolve the model from " +
        "the ModelStore epoch and are unaffected; for this legacy " +
        "read, re-run the refresh (which rewrites the mirror) or " +
        "enroll via ivfPqEnrollIndex.")
    val centers = spark.read.parquet(s"$dir/centers").orderBy("list")
      .collect().map(_.getSeq[Double](1).toArray)
    val bookRows = spark.read.parquet(s"$dir/books").orderBy("s", "c")
      .collect().map(r => (r.getInt(0), r.getInt(1),
        r.getSeq[Double](2).toArray))
    val m = bookRows.map(_._1).max + 1
    val books = Array.tabulate(m)(s =>
      bookRows.filter(_._1 == s).sortBy(_._2).map(_._3))
    val dim = centers(0).length
    val rotP = new org.apache.hadoop.fs.Path(s"$dir/rotation")
    val rotation =
      if (rotP.getFileSystem(spark.sessionState.newHadoopConf())
          .exists(rotP))
        Some(spark.read.parquet(s"$dir/rotation").orderBy("i")
          .collect().map(_.getSeq[Double](1).toArray))
      else None
    (IvfPqModel(dim, m, centers, books, rotation),
      routedIndexRead(spark, s"$dir/codes", "ivfPqReadIndex")
        .select(idCol, "list", "codes"))
  }

  /** [[ivfPqReadIndex]] AS OF a pinned generation: the model epoch
    * that listed the pinned leaves + those leaves — byte-identical
    * replays across an [[ivfPqRefreshIndex]] (r14; requires
    * [[ivfPqEnrollIndex]]). */
  def ivfPqReadIndexAt(spark: SparkSession, dir: String,
                       snap: graft.streaming.IndexManifest.Snapshot,
                       idCol: String = "vec_id")
      : (IvfPqModel, DataFrame) = {
    val model = graft.streaming.ModelStore
      .readAt(spark, s"$dir/codes", snap.gen) match {
      case Some(graft.streaming.ModelStore.PqQuantizer(mm)) => mm
      case Some(other) => throw new IllegalStateException(
        s"ivfPqReadIndexAt: $dir/codes stores a " +
          s"${other.getClass.getSimpleName} model epoch — not an " +
          "IVF-PQ layout")
      case None => throw new IllegalArgumentException(
        s"ivfPqReadIndexAt: no model epoch at or below generation " +
          s"${snap.gen} for $dir/codes — enroll via ivfPqEnrollIndex " +
          "(which persists the quantizer) rather than " +
          "IndexManifest.enroll")
    }
    (model, ivfPqCodesAt(spark, dir, snap, idCol))
  }

  private def ivfPqCodesAt(spark: SparkSession, dir: String,
                           snap: graft.streaming.IndexManifest.Snapshot,
                           idCol: String): DataFrame =
    graft.streaming.IndexManifest
      .readSnapshot(spark, s"$dir/codes", snap)
      .map(_.select(idCol, "list", "codes"))
      .getOrElse(throw new IllegalArgumentException(
        s"ivfPqReadIndex: generation ${snap.gen} of $dir/codes is " +
          "EMPTY (every row deleted) — rebuild or re-ingest before " +
          "probing"))

  /** The probe half of [[ivfPqTopK]] over a PRE-BUILT codes index:
    * queries probe `nProbe` lists, the index is FILTERED to the probed
    * list set before the join (a ≤nLists driver-side set — on the
    * [[ivfPqWriteIndex]] layout that filter is parquet
    * `PartitionFilters`, so a probe reads `nProbe/nLists` of the
    * m-byte codes), candidates are ADC-scored, and the `k·refine`
    * shortlist re-ranks against the true vectors for exact emitted
    * cosines. */
  def ivfPqTopKFromIndex(spark: SparkSession, queries: DataFrame,
                         index: DataFrame, model: IvfPqModel,
                         refs: DataFrame, k: Int, nProbe: Int = 2,
                         refine: Int = 4, idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame = {
    val bc = spark.sparkContext.broadcast(model)
    // ADC scan: exact normalized query vs (center + decoded residual);
    // only (qid, rid, approx) leaves the join — the shortlist window
    // then bounds what the refine join must rehydrate.
    probeRung[Array[Double]](spark, queries, index, refs, k, idCol, vecCol,
      v => bc.value.unit(v),
      Some((_, qu) => bc.value.nearestCenters(qu).iterator.take(nProbe)),
      Some(Stage1[Array[Double]]((qu, list, codes) => bc.value.adc(qu, list, codes),
        col("score").asc, k * refine)))
  }

  /** IVF-PQ parameters derived from the corpus size — the
    * `_select_index_type` analog (reference embedder_cuvs.py:255-272
    * routes by corpus size; this derives the knobs instead of just the
    * tier). Encodes the MEASURED guidance from the two recall curves in
    * BASELINE.md (r5 tiny-universe, r6 1M-vector):
    *
    *  - `nLists ≈ √n` (clamped [4, 65536]) — the standard IVF balance
    *    point between list scan cost and probe fan-out;
    *  - `nProbe = max(6, 1.6% of nLists)` — 1.6 % probe fraction hit
    *    recall 0.996 at n=1M; the floor of 6 carries the tiny-universe
    *    finding that < 6 probes is coverage-bounded regardless of code
    *    quality;
    *  - `m = dim/4` (largest divisor of dim ≤ dim/4) — the subspace
    *    count the 1M curve showed is what recall is bound by at scale;
    *  - `nCodes = clamp(n/16, 32, 256)` — full 8-bit codebooks once the
    *    corpus can train them, smaller books below (256 centroids over
    *    a few hundred residuals would memorize the sample);
    *  - `refine = max(20, 4k)` exact-rerank depth, `trainCap =
    *    max(20k, 40·nLists)` so coarse k-means sees ≥ ~40 samples per
    *    centroid. */
  case class IvfPqParams(nLists: Int, nProbe: Int, m: Int, nCodes: Int,
                         refine: Int, trainCap: Int)

  def ivfPqParamsFor(n: Long, dim: Int = 64, k: Int = 5): IvfPqParams = {
    require(n > 0 && dim > 0 && k > 0, s"need n,dim,k > 0; got $n/$dim/$k")
    val nLists = math.max(4, math.min(65536,
      math.round(math.sqrt(n.toDouble)).toInt))
    val nProbe = math.min(nLists, math.max(6, math.ceil(0.016 * nLists).toInt))
    val m = (math.max(1, dim / 4) to 1 by -1).find(dim % _ == 0).get
    val nCodes = math.min(256L, math.max(32L, n / 16L)).toInt
    val refine = math.max(20, 4 * k)
    val trainCap = math.max(20000, 40 * nLists)
    IvfPqParams(nLists, nProbe, m, nCodes, refine, trainCap)
  }

  /** [[ivfPqTopK]] with every knob derived from the input size by
    * [[ivfPqParamsFor]] — one call site that works at both the
    * 500-vector audit regime and the 1M-vector production regime
    * without hand tuning (the r6 verdict's ask). Counts the corpus
    * once (a count-star over the id column). */
  def ivfPqTopKAuto(spark: SparkSession, vectors: DataFrame, k: Int,
                    seed: Long = 42, idCol: String = "vec_id",
                    vecCol: String = "embedding", dim: Int = 64,
                    queriesOpt: Option[DataFrame] = None): DataFrame = {
    val p = ivfPqParamsFor(vectors.count(), dim, k)
    ivfPqTopK(spark, vectors, k, p.nLists, p.nProbe, p.m, p.nCodes,
      p.refine, seed, idCol, vecCol, dim, p.trainCap, queriesOpt)
  }

  /** Trained product-quantization codec: `m` per-subspace codebooks of
    * `nCodes` centroids over `dsub = dim/m` dims each. The model is
    * m·nCodes·dsub doubles (a few hundred KB at production settings) —
    * driver-held, broadcast for encode/decode. */
  case class PqCodec(dim: Int, m: Int, nCodes: Int,
                     codebooks: Array[Array[Array[Double]]]) {
    val dsub: Int = dim / m
    /** Nearest-codebook-entry per subspace (ties to the lower code). */
    def encode(v: Array[Float]): Array[Int] = {
      val out = new Array[Int](m)
      var s = 0
      while (s < m) {
        val cb = codebooks(s)
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < cb.length) {
          var d = 0.0; var j = 0
          while (j < dsub) {
            val x = v(s * dsub + j) - cb(c)(j); d += x * x; j += 1
          }
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        out(s) = best
        s += 1
      }
      out
    }
    def decode(codes: Array[Int]): Array[Double] = {
      val out = new Array[Double](dim)
      var s = 0
      while (s < m) {
        System.arraycopy(codebooks(s)(codes(s)), 0, out, s * dsub, dsub)
        s += 1
      }
      out
    }
  }

  /** Train a standalone PQ codec over an embedding column — embedding
    * COMPRESSION as a first-class pipeline operator (distinct from
    * [[ivfPqTopK]], which quantizes coarse residuals internally for
    * search): a 100 TB embedding store keeps `m` small ints per vector
    * (64-dim float32 → m=16 codes = 16 B, a 16× shrink) plus one
    * driver-sized codebook table, and decodes on demand. Training is
    * the [[ivfTopK]] sample design: deterministic hash-ordered sample
    * → per-subspace Lloyd k-means on the driver; encode/decode are
    * narrow maps against the broadcast codebooks — zero shuffles at
    * any corpus size. */
  def pqTrain(spark: SparkSession, vectors: DataFrame, m: Int = 16,
              nCodes: Int = 32, seed: Long = 42, idCol: String = "vec_id",
              vecCol: String = "embedding", dim: Int = 64,
              trainCap: Int = 20000): PqCodec = {
    require(dim % m == 0, s"dim=$dim must split into m=$m subspaces")
    require(nCodes <= 256, "one-byte-class codes: nCodes must be ≤ 256")
    import spark.implicits._
    val src = vectors.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val train = src.orderBy(xxhash64(lit(seed), col("id")), col("id"))
      .limit(trainCap).as[(Long, Array[Float])].collect()
      .map(_._2.map(_.toDouble))
    val dsub = dim / m
    val books = Array.tabulate(m) { s =>
      val sub = train.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      lloydKMeans(sub, nCodes, seed + s + 1)
    }
    PqCodec(dim, m, nCodes, books)
  }

  /** Encode every vector to its PQ codes: (id, codes array<int>) — a
    * pure narrow map against the broadcast codec. */
  def pqEncode(spark: SparkSession, vectors: DataFrame, codec: PqCodec,
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(codec)
    vectors.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .as[(Long, Array[Float])]
      .map { case (id, v) => (id, bc.value.encode(v)) }
      .toDF(idCol, "codes")
  }

  /** Per-vector codec audit — encode, decode, and compare against the
    * null model (the global mean vector): (id, codes_ok, mse, mse_mean,
    * better_than_mean). A quantizer that learned nothing (or an
    * encode/decode mismatch) fails `better_than_mean`; q176 pins the
    * booleans through the DuckDB oracle. Two narrow passes + one
    * dim-bounded mean aggregate. */
  def pqReconstructionAudit(spark: SparkSession, vectors: DataFrame,
                            m: Int = 16, nCodes: Int = 32, seed: Long = 42,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding",
                            dim: Int = 64): DataFrame = {
    import spark.implicits._
    val codec = pqTrain(spark, vectors, m, nCodes, seed, idCol, vecCol, dim)
    val src = vectors.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val meanVec = src.select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("pos").agg(avg("x").as("mx"))
      .orderBy("pos").collect().map(_.getDouble(1))
    val bcCodec = spark.sparkContext.broadcast(codec)
    val bcMean = spark.sparkContext.broadcast(meanVec)
    src.as[(Long, Array[Float])].map { case (id, v) =>
      val c = bcCodec.value
      val codes = c.encode(v)
      val rec = c.decode(codes)
      var mse = 0.0; var mseMean = 0.0
      var i = 0
      while (i < v.length) {
        val d = v(i) - rec(i); mse += d * d
        val dm = v(i) - bcMean.value(i); mseMean += dm * dm
        i += 1
      }
      mse /= v.length; mseMean /= v.length
      (id, codes.forall(x => x >= 0 && x < c.nCodes) && codes.length == c.m,
        mse, mseMean, mse < mseMean)
    }.toDF(idCol, "codes_ok", "mse", "mse_mean", "better_than_mean")
  }

  /** Trained int8 scalar-quantization codec (the FAISS `SQ8` family):
    * one (min, max) pair per dimension; a 64-dim float vector encodes
    * to 64 one-byte codes — a 4× shrink with no codebook search at
    * encode time (the cheap sibling of [[PqCodec]]'s 16×). The model
    * is 2·dim doubles — broadcast-sized at any corpus size.
    *
    * Codes are `Array[Byte]` (Spark BinaryType) so the shrink is real
    * in EVERY tier — parquet, shuffle wire, AND cached/memory-resident
    * frames (r10 verdict #1: the previous `array<int>` form was 4
    * bytes-plus-array-overhead per code in memory, true only on disk).
    * The unsigned value 0..255 is recovered as `code & 0xff` at every
    * decode site — [[IvfPqModel]]'s byte-code convention. */
  case class SqCodec(mins: Array[Double], maxs: Array[Double]) {
    val dim: Int = mins.length
    def encode(v: Array[Float]): Array[Byte] = {
      val out = new Array[Byte](dim)
      var i = 0
      while (i < dim) {
        val mn = mins(i); val mx = maxs(i)
        val t = if (mx == mn) 0.0 else (v(i) - mn) * 255.0 / (mx - mn)
        val c = math.floor(t + 0.5).toLong
        out(i) = math.min(255L, math.max(0L, c)).toByte
        i += 1
      }
      out
    }
    def decode(codes: Array[Byte]): Array[Double] = {
      val out = new Array[Double](dim)
      var i = 0
      while (i < dim) {
        out(i) = mins(i) + (codes(i) & 0xff).toDouble * (maxs(i) - mins(i)) / 255.0
        i += 1
      }
      out
    }
  }

  /** Train an [[SqCodec]]: ONE dim-bounded aggregate (per-dimension
    * min/max — `dim` rows collected, nothing else leaves the
    * executors). Unlike [[pqTrain]] there is no sample or k-means:
    * the model is the exact corpus envelope, so training cost is a
    * single scan at any scale. */
  def sqTrain(spark: SparkSession, vectors: DataFrame,
              vecCol: String = "embedding"): SqCodec = {
    val stats = vectors
      .select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
      .orderBy("pos").collect()
    SqCodec(stats.map(_.getDouble(1)), stats.map(_.getDouble(2)))
  }

  /** Encode every vector to int8 codes: (id, codes binary — dim
    * bytes/row in memory AND on disk) — a pure narrow map against the
    * broadcast codec (the [[pqEncode]] shape; zero shuffles at any
    * corpus size). */
  def sqEncode(spark: SparkSession, vectors: DataFrame, codec: SqCodec,
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(codec)
    vectors.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .as[(Long, Array[Float])]
      .map { case (id, v) => (id, bc.value.encode(v)) }
      .toDF(idCol, "codes")
  }

  /** In-plan SQ8 quantization audit — the oracle-able, whole-corpus
    * form of the codec: one row per (vector, dimension) carrying the
    * integer code plus the reconstruction contract
    * `|decode(code) − x| ≤ step/2` (which holds BY CONSTRUCTION for
    * round-to-nearest inside the trained envelope — any arithmetic
    * drift between engines, a wrong scale, or a clamped overflow flips
    * it).
    *
    * Plan shape: the per-dim stats are one dim-bounded aggregate
    * (`dim` rows, broadcast back); the encode itself is a narrow
    * posexplode + broadcast-hash join — no shuffle touches the corpus,
    * so the layout survives a 100× scale-up unchanged. All arithmetic
    * is double IEEE in a fixed order (`floor((x−mn)·255/(mx−mn)+0.5)`)
    * so DuckDB replays every code exactly. */
  def sqQuantizeAudit(spark: SparkSession, vectors: DataFrame,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    val stats = vectors
      .select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
    vectors
      .select(col(idCol).cast("long").as(idCol),
        posexplode(col(vecCol)).as(Seq("pos", "xf")))
      .withColumn("x", col("xf").cast("double"))
      .join(broadcast(stats), "pos")
      .withColumn("_t", when(col("mx") === col("mn"), lit(0.0))
        .otherwise((col("x") - col("mn")) * lit(255.0) / (col("mx") - col("mn"))))
      .withColumn("code",
        least(lit(255L), greatest(lit(0L), floor(col("_t") + lit(0.5)))))
      .withColumn("_dec",
        col("mn") + col("code").cast("double") * (col("mx") - col("mn")) / lit(255.0))
      .withColumn("within_half_step",
        abs(col("_dec") - col("x")) <=
          (col("mx") - col("mn")) / lit(255.0) * lit(0.5) + lit(1e-9))
      .select(col(idCol), col("pos"), col("code"), col("within_half_step"))
  }

  /** Matryoshka (MRL) truncation audit: how much exact top-k retrieval
    * survives when vectors are cut to their first `dims` coordinates
    * (Kusupati et al. 2022 — nested-representation retrieval, the
    * modern cheap-first-pass ladder rung BELOW sign-LSH: no index at
    * all, just shorter vectors). For each query in the capped universe
    * it computes the exact top-k under the full dimension and under
    * the prefix, and emits the per-query overlap — the measured recall
    * a deployment would get from storing only `dims/dim` of every
    * embedding.
    *
    * Both top-k sets are the [[bruteForceTopK]] kernel (cosines
    * rounded to 6, ties by neighbor id), so every row replays exactly
    * in DuckDB; the overlap count is integer arithmetic on top.
    *
    * DENSE-VECTOR ASSUMPTION (r8 ADVICE): the Spark cosine adds 1e-12
    * to the denominator (a zero-norm prefix scores 0.0) while DuckDB's
    * `list_cosine_similarity` has no epsilon (zero-norm → NULL), so a
    * vector whose first `dims` coordinates are ALL exactly zero would
    * rank differently in the two engines. Real embedding models emit
    * dense floats where an all-zero 16-dim prefix does not occur; if a
    * corpus can contain such vectors, filter or re-normalize them
    * upstream before auditing. */
  def matryoshkaRecallAudit(spark: SparkSession, vectors: DataFrame,
                            dims: Int = 16, k: Int = 5, nQueries: Int = 50,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding",
                            dim: Int = 64): DataFrame = {
    require(dims >= 1 && dims < dim, s"prefix dims=$dims must be in [1, $dim)")
    val qs = vectors.filter(col(idCol) < nQueries)
    val full = bruteForceTopK(qs, vectors, k, idCol, vecCol, dim)
      .select(col("qid"), col("rid"))
    val truncAll = vectors.select(col(idCol),
      slice(col(vecCol), 1, dims).as(vecCol))
    val trunc = bruteForceTopK(truncAll.filter(col(idCol) < nQueries),
      truncAll, k, idCol, vecCol, dims).select(col("qid"), col("rid"))
    val overlap = trunc.join(full, Seq("qid", "rid"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as("n_common"))
    qs.select(col(idCol).cast("long").as("qid"))
      .join(overlap, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        round(coalesce(col("n_common"), lit(0L)) / lit(k.toDouble), 6)
          .as("recall_at_k"))
      .orderBy("qid")
  }

  /** Matryoshka TWO-STAGE retrieval (the operator q201's audit was
    * measuring for): stage 1 short-lists `shortlist` candidates per
    * query under the first-`dims` PREFIX of every vector — `dims/dim`
    * of the flops and, in a deployment that stores the prefix column
    * in the hot tier, `dims/dim` of the bytes scanned — and stage 2
    * re-ranks only those candidates with the EXACT full-dimension
    * cosine (the shared [[rerankTopK]] kernel). The q201 recall number
    * graduates from a report to the thing this operator's floor is set
    * from: with `shortlist` ≫ k, the full-dim re-rank recovers true
    * top-k members the prefix ordering alone would misrank, so
    * two-stage recall ≥ the q201 prefix-only recall by construction.
    *
    * Stage 1 here is the exact prefix kernel (oracle-replayable, the
    * audit posture); at corpus scale the same two-stage shape uses the
    * SHIPPED index rung on the prefix column instead —
    * [[matryoshkaIvfTopK]] / [[matryoshkaIvfTopKFromIndex]] (IVF over
    * `slice(v, 1, dims)` with partition-pruned probes; full-probe
    * route equality with this operator is spec-pinned). Under-filled
    * queries (corpus smaller than k+1) fall back through
    * [[padShortQueries]] like every other rung. */
  def matryoshkaTopK(queries: DataFrame, refs: DataFrame, k: Int,
                     dims: Int = 16, shortlist: Int = 30,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     dim: Int = 64): DataFrame = {
    require(dims >= 1 && dims < dim, s"prefix dims=$dims must be in [1, $dim)")
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    val qPref = queries.select(col(idCol).cast("long").as("id"),
      slice(col(vecCol), 1, dims).as("v"))
    val rPref = refs.select(col(idCol).cast("long").as("id"),
      slice(col(vecCol), 1, dims).as("v"))
    val sl = bruteForceTopK(qPref, rPref, shortlist, "id", "v", dims)
      .select("qid", "rid")
    rerank(sl, queries, refs, k, idCol, vecCol)
  }

  /** Build the Matryoshka PREFIX IVF index: train a coarse quantizer
    * over the first-`dims` prefix of every vector and assign each
    * ref's prefix to its nearest list. Returns (centers, index) where
    * the index frame is (idCol, vecCol = `dims`-float prefix, list) —
    * write it `partitionBy("list")` and [[matryoshkaIvfTopKFromIndex]]
    * probes read `nProbe/nLists` of the bytes via parquet
    * `PartitionFilters` (PlanSpec pins it). Training is the
    * [[ivfTrainCentroids]] sample design (bit-identical sample order);
    * assignment is one narrow map — the
    * [[graft.streaming.IvfStream.assignOnIngest]] arithmetic over the
    * prefix column, so the index can also accrue from a stream. */
  def matryoshkaIvfBuildIndex(spark: SparkSession, refs: DataFrame,
                              dims: Int = 32, nLists: Int = 16,
                              seed: Long = 42, idCol: String = "vec_id",
                              vecCol: String = "embedding",
                              trainCap: Int = 20000)
      : (Array[Array[Double]], DataFrame) = {
    import spark.implicits._
    val pref = refs.select(col(idCol).cast("long").as(idCol),
      slice(col(vecCol), 1, dims).as(vecCol))
    val centers = ivfTrainCentroids(spark, pref, nLists, seed, idCol,
      vecCol, trainCap)
    val bc = spark.sparkContext.broadcast(centers)
    val index = pref.as[(Long, Array[Float])]
      .map { case (id, v) => (id, v, ivfNearest(bc.value, v, 1)(0)) }
      .toDF(idCol, vecCol, "list")
    (centers, index)
  }

  /** Persist the Matryoshka prefix index: the (idCol, prefix, list)
    * frame list-partitioned under `dir/prefix/batch=0` (the layout the
    * [[matryoshkaIvfTopKFromIndex]] probe prunes via parquet
    * `PartitionFilters`) and the coarse centers as plain rows — the
    * [[ivfPqWriteIndex]]/[[sqWriteIndex]] symmetry this rung was
    * missing (r10 verdict #3: callers had to `partitionBy("list")` by
    * hand, one more way to write the layout wrong). Returns the
    * centers. */
  def matryoshkaIvfWriteIndex(spark: SparkSession, refs: DataFrame,
                              dir: String, dims: Int = 32,
                              nLists: Int = 16, seed: Long = 42,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding",
                              trainCap: Int = 20000): Array[Array[Double]] = {
    import spark.implicits._
    val (centers, index) = matryoshkaIvfBuildIndex(spark, refs, dims,
      nLists, seed, idCol, vecCol, trainCap)
    index.write.partitionBy("list").mode("overwrite")
      .parquet(s"$dir/prefix/batch=0")
    centers.indices.map(c => (c, centers(c))).toDF("list", "center")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centers")
    centers
  }

  /** Load a persisted Matryoshka prefix index: (centers, index frame).
    * Self-heals an interrupted maintenance swap first — at the
    * directory AND prefix levels (a delete on `<dir>/prefix` marks
    * one level down). */
  def matryoshkaIvfReadIndex(spark: SparkSession, dir: String,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding")
      : (Array[Array[Double]], DataFrame) = {
    graft.streaming.IndexSwap.restoreIfInterrupted(spark, dir)
    graft.streaming.IndexSwap.restoreIfInterrupted(spark, s"$dir/prefix")
    val centers = spark.read.parquet(s"$dir/centers").orderBy("list")
      .collect().map(_.getSeq[Double](1).toArray)
    (centers,
      routedIndexRead(spark, s"$dir/prefix", "matryoshkaIvfReadIndex")
        .select(idCol, vecCol, "list"))
  }

  /** Matryoshka-IVF two-stage retrieval over a PRE-BUILT prefix index
    * — the production ANN geometry the two-stage ladder builds toward
    * (r9 verdict #1): stage 1 probes the IVF index on the `dims`-float
    * PREFIX column ([[ivfTopKFromIndex]], so a list-partitioned
    * on-disk index is read through partition pruning — a probe touches
    * `nProbe/nLists` of `dims/dim` of the corpus bytes, the product of
    * both ladders' savings), stage 2 re-ranks the ≤|Q|·shortlist
    * survivors with the exact full-dimension kernel ([[rerankTopK]]).
    *
    * Unlike [[matryoshkaTopK]]'s exact prefix scan (the
    * oracle-replayable audit posture, O(|Q|·n) stage 1 — r9e measured
    * its linear term emerging at 16× corpus), stage-1 cost here is the
    * probed fraction of the index: the linear term carries a
    * `nProbe/nLists · dims/dim` constant that the index layout turns
    * into bytes actually not read. Recall compounds both
    * approximations (prefix truncation × probe coverage) and is
    * re-measured against the brute twin by q205's enforced floor.
    * Kusupati et al. 2022 (MRL) describe exactly this composition:
    * ANN over the low-dim prefix, re-rank with the full vector. */
  def matryoshkaIvfTopKFromIndex(spark: SparkSession, queries: DataFrame,
                                 prefixIndex: DataFrame,
                                 centers: Array[Array[Double]],
                                 refs: DataFrame, k: Int, dims: Int = 32,
                                 shortlist: Int = 50, nProbe: Int = 4,
                                 idCol: String = "vec_id",
                                 vecCol: String = "embedding"): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    val qPref = queries.select(col(idCol).cast("long").as(idCol),
      slice(col(vecCol), 1, dims).as(vecCol))
    val sl = ivfTopKFromIndex(spark, qPref, prefixIndex, centers,
      k = shortlist, nProbe = nProbe, idCol = idCol, vecCol = vecCol)
      .select("qid", "rid")
    rerank(sl, queries, refs, k, idCol, vecCol)
  }

  /** [[matryoshkaIvfTopKFromIndex]] with the index built inline — the
    * self-contained form for one-shot retrieval; a deployment builds
    * the index once ([[matryoshkaIvfBuildIndex]], written
    * list-partitioned) and probes many times. */
  def matryoshkaIvfTopK(spark: SparkSession, queries: DataFrame,
                        refs: DataFrame, k: Int, dims: Int = 32,
                        shortlist: Int = 50, nLists: Int = 16,
                        nProbe: Int = 4, seed: Long = 42,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val (centers, index) = matryoshkaIvfBuildIndex(spark, refs, dims,
      nLists, seed, idCol, vecCol)
    matryoshkaIvfTopKFromIndex(spark, queries, index, centers, refs, k,
      dims, shortlist, nProbe, idCol, vecCol)
  }

  /** SQ8-compressed retrieval rung — the [[SqCodec]] consumer: refs
    * live as int8 CODES (4× smaller than the float corpus; the frame a
    * deployment keeps memory-resident), stage 1 short-lists per query
    * by the ASYMMETRIC cosine — full-precision query against
    * `codec.decode(codes)` (the FAISS SQ search posture: only the
    * stored side pays quantization error) — and stage 2 re-ranks the
    * shortlist with the exact full-precision kernel ([[rerankTopK]]).
    *
    * The decode arithmetic is the codec's own (`SqCodec.decode` — the
    * PipelineSpec pins `sqEncode` ≡ [[sqQuantizeAudit]] codes
    * row-for-row, so the in-plan audit q200 gates and this rung
    * consumes ONE quantization algebra). Plan shape: codec training is
    * the dim-bounded [[sqTrain]] aggregate; encode is a narrow map;
    * the shortlist pass touches only (id, codes) rows; full vectors
    * are joined back for the ≤ |Q|·shortlist re-rank rows only. */
  def sqTopK(spark: SparkSession, queries: DataFrame, refs: DataFrame,
             k: Int, shortlist: Int = 30, idCol: String = "vec_id",
             vecCol: String = "embedding", dim: Int = 64): DataFrame = {
    val (codec, codes) = sqBuildIndex(spark, refs, idCol, vecCol)
    sqTopKFromIndex(spark, queries, codes, codec, refs, k, shortlist,
      idCol, vecCol)
  }

  /** Build the SQ8 index ONCE: train the codec (one dim-bounded
    * aggregate) and encode the corpus (one narrow map) — the (codec,
    * codes) pair a deployment persists ([[sqWriteIndex]]) or keeps
    * memory-resident and probes many times ([[sqTopKFromIndex]]).
    * [[sqTopK]] re-derived both on every call (r9 verdict #4: the
    * audit posture, paying two full-precision corpus scans per query
    * batch); this is the build/probe split the IVF side already has
    * ([[graft.streaming.IvfStream]] / [[ivfTopKFromIndex]]). */
  def sqBuildIndex(spark: SparkSession, refs: DataFrame,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): (SqCodec, DataFrame) = {
    val codec = sqTrain(spark, refs, vecCol)
    (codec, sqEncode(spark, refs, codec, idCol, vecCol))
  }

  /** Persist the SQ8 index: int8 codes as parquet (`dir/codes`) and
    * the codec envelope as `dim` (pos, mn, mx) rows (`dir/codec`) —
    * engine-neutral, so any reader can re-derive [[SqCodec.decode]].
    * Returns the trained codec. */
  def sqWriteIndex(spark: SparkSession, refs: DataFrame, dir: String,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): SqCodec = {
    import spark.implicits._
    val (codec, codes) = sqBuildIndex(spark, refs, idCol, vecCol)
    codes.write.mode("overwrite").parquet(s"$dir/codes")
    codec.mins.indices.map(i => (i, codec.mins(i), codec.maxs(i)))
      .toDF("pos", "mn", "mx")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/codec")
    codec
  }

  /** Manifest-routed read of a persisted accrued subdirectory
    * (`<dir>/codes`, `<dir>/prefix`): enrolled indexes
    * ([[graft.streaming.IndexManifest.enroll]]) plan from the pinned
    * snapshot so a probe running WHILE a delete or compaction rewrites
    * underneath sees one consistent generation; un-enrolled indexes
    * read the directory exactly as before. Loud on the one state a
    * probe cannot serve: an enrolled index whose every row was
    * deleted. */
  private def routedIndexRead(spark: SparkSession, dir: String,
                              op: String): DataFrame =
    graft.streaming.IndexManifest.routedRead(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"$op: index data at $dir is manifested and EMPTY (every row " +
          "deleted) — rebuild or re-ingest before probing"))

  /** Loud layout-version guard for persisted codes indexes (r11
    * ADVICE): r10 changed codes from `array<int>` to BinaryType with
    * no migration, so a pre-r11 index read through the current decode
    * path would fail later with an unrelated-looking Dataset cast
    * error. Detect the old schema AT READ TIME and say what to do. */
  private[graft] def requireBinaryCodes(df: DataFrame,
                                        where: String): DataFrame = {
    import org.apache.spark.sql.types._
    df.schema("codes").dataType match {
      case BinaryType => df
      case ArrayType(IntegerType, _) => throw new IllegalArgumentException(
        s"$where: this index stores codes as array<int> — the pre-r11 " +
          "on-disk layout. The engine now stores codes as BINARY (the " +
          "4x shrink is real in memory, not just on disk) and cannot " +
          "read the old layout. Rebuild the index from the original " +
          "vectors with the current writer (sqWriteIndex / " +
          "ivfSqWriteIndex / IvfStream.attachSq).")
      case other => throw new IllegalArgumentException(
        s"$where: `codes` column has unexpected type $other — not a " +
          "codes index directory?")
    }
  }

  /** Load a persisted SQ8 index: (codec, codes frame). Self-heals an
    * interrupted maintenance swap first. */
  def sqReadIndex(spark: SparkSession, dir: String): (SqCodec, DataFrame) = {
    graft.streaming.IndexSwap.restoreIfInterrupted(spark, dir)
    val stats = spark.read.parquet(s"$dir/codec").orderBy("pos").collect()
    (SqCodec(stats.map(_.getDouble(1)), stats.map(_.getDouble(2))),
      requireBinaryCodes(spark.read.parquet(s"$dir/codes"), "sqReadIndex"))
  }

  /** The probe half of [[sqTopK]]: asymmetric shortlist over a
    * PRE-BUILT codes frame (full-precision query vs decoded ref — only
    * (id, codes) rows are scanned; the FAISS SQ search posture), exact
    * full-precision re-rank of the ≤|Q|·shortlist survivors. `refs`
    * supplies the true vectors for the re-rank join only. */
  def sqTopKFromIndex(spark: SparkSession, queries: DataFrame,
                      codes: DataFrame, codec: SqCodec, refs: DataFrame,
                      k: Int, shortlist: Int = 30,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame =
    sqRung(spark, queries, codes, codec, refs, k, shortlist, idCol, vecCol,
      None)

  /** The SQ8 probe of both placements: stage 1 is the asymmetric
    * cosine of the full-precision query against `codec.decode(codes)`,
    * cut by its 6-dp rounding DESC. */
  private def sqRung(spark: SparkSession, queries: DataFrame,
                     index: DataFrame, codec: SqCodec, refs: DataFrame,
                     k: Int, shortlist: Int, idCol: String, vecCol: String,
                     nearest: Option[(Array[Float], Any) => Iterator[Int]])
      : DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    val bc = spark.sparkContext.broadcast(codec)
    probeRung[Array[Float]](spark, queries, index, refs, k, idCol, vecCol,
      v => v, nearest, Some(Stage1[Array[Float]]({ (qv, _, cs) =>
        val dv = bc.value.decode(cs)
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var i = 0
        while (i < qv.length) {
          val a = qv(i).toDouble; val b = dv(i)
          dot += a * b; na += a * a; nb += b * b
          i += 1
        }
        dot / (math.sqrt(na) * math.sqrt(nb) + 1e-12)
      }, round(col("score"), 6).desc, shortlist)))
  }

  /** 1-bit binary quantization: the sign bit of every dimension,
    * packed 8 dims/byte — dim=64 floats (256 B) become 8 bytes, a 32×
    * shrink, the bottom rung of the codec ladder (BQ 32× → PQ 16× →
    * SQ8 4× → float). This is the "binary quantization" tier modern
    * vector stores ship for billion-scale first-pass scans: Hamming
    * distance between sign patterns is a monotone proxy for angle
    * (P[sign differs] = θ/π per random hyperplane — here the
    * coordinate axes), costs one XOR+popcount per byte, and the exact
    * re-rank restores true cosine order within the shortlist.
    * Encode is a pure narrow map (the [[sqEncode]] shape). Bit i of
    * byte i/8 is set iff v(i) > 0 — replayable in SQL from the floats
    * without any packing. */
  def bqEncode(spark: SparkSession, vectors: DataFrame,
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    import spark.implicits._
    vectors.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .as[(Long, Array[Float])]
      .map { case (id, v) => (id, bqBits(v)) }
      .toDF(idCol, "codes")
  }

  /** Sign-bit packing shared by encode and search: bit (i % 8) of
    * byte (i / 8) set iff v(i) > 0 (strict — zeros pack as 0 in both
    * engines). */
  private[graft] def bqBits(v: Array[Float]): Array[Byte] = {
    val out = new Array[Byte]((v.length + 7) / 8)
    var i = 0
    while (i < v.length) {
      if (v(i) > 0f) out(i / 8) = (out(i / 8) | (1 << (i % 8))).toByte
      i += 1
    }
    out
  }

  /** BQ retrieval: 1-bit stage-1 shortlist over the 32×-compressed
    * codes (the frame a billion-vector first pass keeps
    * memory-resident), exact full-precision re-rank of the per-query
    * `shortlist` survivors (the [[sqTopKFromIndex]] stage-2 posture).
    *
    * Two stage-1 scorings, both one pass over dim/8 bytes per ref:
    *
    *  - `asymmetric = false`: SYMMETRIC Hamming — both sides
    *    binarized, XOR+popcount, cut ordered (ham ASC, rid ASC); ties
    *    are common at 1 bit/dim, the rid break keeps the cut
    *    engine-replayable.
    *  - `asymmetric = true` (the faiss convention, r11 verdict #3):
    *    the FULL-PRECISION query scores against the sign codes —
    *    score = Σᵢ qᵢ·(bitᵢ ? +1 : −1) = dot(q, sign(r)) — so the
    *    query's per-dimension magnitudes weight the bits instead of
    *    being thrown away; strictly more signal at identical index
    *    bytes (measured at shortlist 50: recall@5 0.912 vs 0.700 at
    *    sf0.01, 0.764 vs 0.480 at sf0.1 — ProbeAnnRecall r12). Cut
    *    orders by (round6(score) DESC, rid ASC) — rounded so the cut
    *    replays exactly in SQL. When the query is itself a sign
    *    pattern (±c per dim) the two orderings coincide:
    *    dot(q, sign(r)) = c·(dim − 2·hamming) (spec-pinned).
    *
    * Recall is bounded by how much angle survives 1-bit quantization;
    * the q210 audit measures it against the brute twin and enforces
    * the floor. Stage 1 is |Q|·n byte-ops with NO index pruning (the
    * deliberate bottom rung — [[ivfBqTopKFromIndex]] is the pruned
    * composition), so the query frame must be bounded: a loud valve
    * refuses more than `maxQueries` queries (the [[mmrRerank]]
    * posture, r11 verdict #7 — an unbounded frame would silently do
    * quadratic work). */
  def bqTopK(spark: SparkSession, queries: DataFrame, refs: DataFrame,
             k: Int, shortlist: Int = 30, idCol: String = "vec_id",
             vecCol: String = "embedding", asymmetric: Boolean = false,
             maxQueries: Int = 100000): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    // limit-probe, never an unbounded count: cap+1 rows decide
    val nQ = queries.limit(maxQueries + 1).count()
    require(nQ <= maxQueries,
      s"bqTopK: more than $maxQueries queries — stage 1 is a flat " +
        "|Q|·n scan by design (the bottom codec rung). Pass a bounded " +
        "query batch, use ivfBqTopKFromIndex for the pruned " +
        "composition, or raise maxQueries explicitly to accept the " +
        "quadratic cost")
    bqRung(spark, queries, bqEncode(spark, refs, idCol, vecCol), refs, k,
      shortlist, idCol, vecCol, asymmetric, None)
  }

  /** The BQ probe of both placements: stage 1 is the symmetric Hamming
    * between the query's sign bits and the stored codes (ASC), or the
    * asymmetric sign-dot dot(q, sign(r)) rounded by [[round6]] (DESC). */
  private def bqRung(spark: SparkSession, queries: DataFrame,
                     index: DataFrame, refs: DataFrame, k: Int,
                     shortlist: Int, idCol: String, vecCol: String,
                     asymmetric: Boolean,
                     nearest: Option[(Array[Float], Any) => Iterator[Int]])
      : DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    if (asymmetric)
      probeRung[Array[Float]](spark, queries, index, refs, k, idCol, vecCol,
        v => v, nearest, Some(Stage1[Array[Float]]({ (qv, _, rc) =>
          var s = 0.0; var i = 0
          while (i < qv.length) {
            val plus = (rc(i / 8) & (1 << (i % 8))) != 0
            s += (if (plus) qv(i).toDouble else -qv(i).toDouble)
            i += 1
          }
          round6(s)
        }, col("score").desc, shortlist)))
    else
      probeRung[Array[Byte]](spark, queries, index, refs, k, idCol, vecCol,
        bqBits, nearest, Some(Stage1[Array[Byte]]({ (qc, _, rc) =>
          var h = 0; var i = 0
          while (i < qc.length) {
            h += java.lang.Integer.bitCount((qc(i) ^ rc(i)) & 0xff)
            i += 1
          }
          h.toDouble
        }, col("score").asc, shortlist)))
  }

  /** Build the IVF-BQ index — inverted lists whose entries are the
    * 1-BIT sign codes ([[bqBits]]): the [[ivfSqBuildIndex]] shape at
    * the 32× compression point (8 bytes/vector at dim=64). Written
    * `partitionBy("list")`, a probe reads `nProbe/nLists` of an index
    * that is 32× smaller than the float corpus — the cheapest
    * composition on the ladder, the faiss binary-IVF posture. */
  def ivfBqBuildIndex(spark: SparkSession, refs: DataFrame,
                      nLists: Int = 16, seed: Long = 42,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding", trainCap: Int = 20000)
      : (Array[Array[Double]], DataFrame) = {
    import spark.implicits._
    val centers = ivfTrainCentroids(spark, refs, nLists, seed, idCol,
      vecCol, trainCap)
    val bc = spark.sparkContext.broadcast(centers)
    val index = refs
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        (id, bqBits(v), ivfNearest(bc.value, v, 1)(0)) }
      .toDF(idCol, "codes", "list")
    (centers, index)
  }

  /** IVF-BQ search over a pre-built codes index: queries probe
    * `nProbe` lists ([[ivfNearest]]), candidates in the probed lists
    * are shortlisted against the stored sign bits, and the
    * `shortlist` survivors re-rank against the true vectors. Stage 1
    * is [[bqTopK]]'s, both scorings (r12 — the composition had been
    * symmetric-only while the flat rung gained the faiss asymmetric
    * convention in r11 verdict #3):
    *
    *  - `asymmetric = false`: XOR+popcount Hamming between the
    *    query's own sign bits and the stored codes (ham ASC, rid ASC);
    *  - `asymmetric = true`: dot(q, sign(r)) — the full-precision
    *    query's per-dim magnitudes weight the stored bits; strictly
    *    more signal at identical index bytes (round6(score) DESC,
    *    rid ASC — engine-replayable like the flat rung).
    *
    * With `nProbe = nLists` the result equals [[bqTopK]] at the same
    * (shortlist, asymmetric) exactly (spec-pinned degeneracy); at
    * production settings the probe reads the probed fraction of a
    * 32×-compressed index. */
  def ivfBqTopKFromIndex(spark: SparkSession, queries: DataFrame,
                         index: DataFrame, centers: Array[Array[Double]],
                         refs: DataFrame, k: Int, shortlist: Int = 50,
                         nProbe: Int = 2, idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         asymmetric: Boolean = false): DataFrame =
    bqRung(spark, queries, index, refs, k, shortlist, idCol, vecCol,
      asymmetric, Some(nearestLists(spark, centers, nProbe)))

  /** Persist the IVF-BQ index: 1-bit codes list-partitioned (the
    * pruning layout) and the coarse centers as plain rows — the
    * [[ivfSqWriteIndex]] symmetry (no codec table: the sign transform
    * is parameter-free). */
  def ivfBqWriteIndex(spark: SparkSession, refs: DataFrame, dir: String,
                      nLists: Int = 16, seed: Long = 42,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding", trainCap: Int = 20000)
      : Array[Array[Double]] = {
    import spark.implicits._
    val (centers, index) = ivfBqBuildIndex(spark, refs, nLists, seed,
      idCol, vecCol, trainCap)
    index.write.partitionBy("list").mode("overwrite")
      .parquet(s"$dir/codes/batch=0")
    centers.indices.map(c => (c, centers(c))).toDF("list", "center")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centers")
    centers
  }

  /** Load a persisted IVF-BQ index: (centers, codes frame). Self-heals
    * an interrupted maintenance swap first — at the directory AND
    * codes levels (a delete on `<dir>/codes` marks one level down). */
  def ivfBqReadIndex(spark: SparkSession, dir: String,
                     idCol: String = "vec_id")
      : (Array[Array[Double]], DataFrame) = {
    graft.streaming.IndexSwap.restoreIfInterrupted(spark, dir)
    graft.streaming.IndexSwap.restoreIfInterrupted(spark, s"$dir/codes")
    val centers = spark.read.parquet(s"$dir/centers").orderBy("list")
      .collect().map(_.getSeq[Double](1).toArray)
    (centers,
      requireBinaryCodes(routedIndexRead(spark, s"$dir/codes",
        "ivfBqReadIndex"), "ivfBqReadIndex").select(idCol, "codes", "list"))
  }

  /** [[ivfBqTopKFromIndex]] with the index built inline — the
    * self-contained one-shot form. */
  def ivfBqTopK(spark: SparkSession, queries: DataFrame, refs: DataFrame,
                k: Int, nLists: Int = 16, nProbe: Int = 2,
                shortlist: Int = 50, seed: Long = 42,
                idCol: String = "vec_id",
                vecCol: String = "embedding",
                asymmetric: Boolean = false): DataFrame = {
    val (centers, index) = ivfBqBuildIndex(spark, refs, nLists, seed,
      idCol, vecCol)
    ivfBqTopKFromIndex(spark, queries, index, centers, refs, k,
      shortlist, nProbe, idCol, vecCol, asymmetric)
  }

  /** Build the IVF-SQ8 index — the faiss `IVF,SQ8` composition: coarse
    * inverted lists ([[ivfTrainCentroids]] + one-map assignment) whose
    * entries are the [[SqCodec]]'s int8 CODES instead of float
    * vectors. Index rows (idCol, codes, list): 4× smaller than the
    * float index [[graft.streaming.IvfStream]] accrues, and written
    * `partitionBy("list")` a probe reads `nProbe/nLists` of THOSE
    * bytes — the two ladders' savings compose on the stored side the
    * way [[matryoshkaIvfTopK]] composes them on the dimension side. */
  def ivfSqBuildIndex(spark: SparkSession, refs: DataFrame,
                      nLists: Int = 16, seed: Long = 42,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding", trainCap: Int = 20000)
      : (Array[Array[Double]], SqCodec, DataFrame) = {
    import spark.implicits._
    val centers = ivfTrainCentroids(spark, refs, nLists, seed, idCol,
      vecCol, trainCap)
    val codec = sqTrain(spark, refs, vecCol)
    val bcC = spark.sparkContext.broadcast(centers)
    val bcQ = spark.sparkContext.broadcast(codec)
    val index = refs
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        (id, bcQ.value.encode(v), ivfNearest(bcC.value, v, 1)(0)) }
      .toDF(idCol, "codes", "list")
    (centers, codec, index)
  }

  /** IVF-SQ8 search over a pre-built codes index: queries probe
    * `nProbe` lists ([[ivfNearest]], the shared assignment arithmetic),
    * candidates in the probed lists are scored by the ASYMMETRIC
    * cosine (full-precision query vs `codec.decode(codes)` — the
    * [[sqTopKFromIndex]] scoring, only (id, codes) rows scanned), and
    * the per-query `shortlist` survivors re-rank against the true
    * vectors ([[rerankTopK]]). With `nProbe = nLists` the probe covers
    * every list and the result equals [[sqTopK]] at the same shortlist
    * exactly (PipelineSpec pins it); at production settings the probe
    * reads the probed fraction of a 4×-compressed index. */
  def ivfSqTopKFromIndex(spark: SparkSession, queries: DataFrame,
                         index: DataFrame, centers: Array[Array[Double]],
                         codec: SqCodec, refs: DataFrame, k: Int,
                         shortlist: Int = 30, nProbe: Int = 2,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame =
    sqRung(spark, queries, index, codec, refs, k, shortlist, idCol, vecCol,
      Some(nearestLists(spark, centers, nProbe)))

  /** Persist the IVF-SQ8 index: codes list-partitioned (the pruning
    * layout), coarse centers and the codec envelope as plain rows. */
  def ivfSqWriteIndex(spark: SparkSession, refs: DataFrame, dir: String,
                      nLists: Int = 16, seed: Long = 42,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding", trainCap: Int = 20000)
      : (Array[Array[Double]], SqCodec) = {
    import spark.implicits._
    val (centers, codec, index) = ivfSqBuildIndex(spark, refs, nLists,
      seed, idCol, vecCol, trainCap)
    index.write.partitionBy("list").mode("overwrite")
      .parquet(s"$dir/codes/batch=0")
    centers.indices.map(c => (c, centers(c))).toDF("list", "center")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centers")
    codec.mins.indices.map(i => (i, codec.mins(i), codec.maxs(i)))
      .toDF("pos", "mn", "mx")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/codec")
    (centers, codec)
  }

  /** Load a persisted IVF-SQ8 index: (centers, codec, codes frame).
    * Self-heals an interrupted maintenance swap first — at the
    * directory level (whole-layout refresh) AND at the codes level
    * (an [[graft.streaming.IndexDelete.deleteIds]] on `<dir>/codes`
    * leaves its markers one level down). */
  def ivfSqReadIndex(spark: SparkSession, dir: String,
                     idCol: String = "vec_id")
      : (Array[Array[Double]], SqCodec, DataFrame) = {
    graft.streaming.IndexSwap.restoreIfInterrupted(spark, dir)
    graft.streaming.IndexSwap.restoreIfInterrupted(spark, s"$dir/codes")
    val centers = spark.read.parquet(s"$dir/centers").orderBy("list")
      .collect().map(_.getSeq[Double](1).toArray)
    val stats = spark.read.parquet(s"$dir/codec").orderBy("pos").collect()
    (centers,
      SqCodec(stats.map(_.getDouble(1)), stats.map(_.getDouble(2))),
      requireBinaryCodes(routedIndexRead(spark, s"$dir/codes",
        "ivfSqReadIndex"), "ivfSqReadIndex").select(idCol, "codes", "list"))
  }

  /** [[ivfSqTopKFromIndex]] with the index built inline — the
    * self-contained one-shot form. */
  def ivfSqTopK(spark: SparkSession, queries: DataFrame, refs: DataFrame,
                k: Int, nLists: Int = 16, nProbe: Int = 2,
                shortlist: Int = 30, seed: Long = 42,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    val (centers, codec, index) = ivfSqBuildIndex(spark, refs, nLists,
      seed, idCol, vecCol)
    ivfSqTopKFromIndex(spark, queries, index, centers, codec, refs, k,
      shortlist, nProbe, idCol, vecCol)
  }

  /** (id, v) normal form shared by the two-stage rungs. */
  private def refsFrame(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))

  /** Reciprocal-rank fusion of two ranked retrieval lists (Cormack,
    * Clarke & Büttcher 2009 — the standard hybrid-search combiner:
    * every production lexical+vector stack fuses this way because it
    * needs no score calibration between the two retrievers):
    * `score(d) = Σ_i 1/(kRrf + rank_i(d))`, a document missing from a
    * list contributes 0 from it. `kRrf = 60` is the paper's constant.
    *
    * Inputs are (id, rank) frames whose size is k-BOUNDED BY
    * CONSTRUCTION (each is a top-k list from [[bruteForceTopK]] /
    * an index rung / `bm25TopK`), so the full-outer rank join and the
    * final global rank window run over ≤ |a|+|b| ≤ 2k rows at any
    * corpus size — the documented bounded-global-window class. Fused
    * rank orders by the ROUNDED score (6 dp, both engines' round)
    * with the id tie-break, so the output replays exactly in SQL. */
  def rrfFuse(a: DataFrame, b: DataFrame, kRrf: Int = 60,
              idCol: String = "doc_id", rankACol: String = "rank_a",
              rankBCol: String = "rank_b"): DataFrame = {
    require(kRrf >= 1, s"kRrf must be >= 1, got $kRrf")
    val joined = a.select(col(idCol), col(rankACol))
      .join(b.select(col(idCol), col(rankBCol)), Seq(idCol), "full_outer")
    val score = round(
      coalesce(lit(1.0) / (lit(kRrf) + col(rankACol)), lit(0.0)) +
        coalesce(lit(1.0) / (lit(kRrf) + col(rankBCol)), lit(0.0)), 6)
    joined.withColumn("rrf_score", score)
      .withColumn("fused_rank", row_number().over(Window
        .partitionBy(lit(0)) // constant partition: ≤2k rows by construction
        .orderBy(col("rrf_score").desc, col(idCol).asc)))
      .select(col(idCol), col(rankACol), col(rankBCol),
        col("rrf_score"), col("fused_rank"))
  }

  /** Spark/DuckDB `round(x, 6)` for signed doubles in compiled code:
    * HALF_UP away from zero — the manual twin of the Column-level
    * rounding every emitted cosine goes through. */
  private def round6(x: Double): Double =
    if (x >= 0) math.floor(x * 1e6 + 0.5) / 1e6
    else -math.floor(-x * 1e6 + 0.5) / 1e6

  /** Maximal-marginal-relevance diversity re-rank (Carbonell &
    * Goldstein 1998) — the post-retrieval step a training-data
    * curation or RAG pipeline runs so the selected k are not k
    * near-copies: greedily pick, from a per-query candidate shortlist,
    * `argmax_d λ·sim(q,d) − (1−λ)·max_{s∈selected} sim(d,s)`.
    *
    * Input `shortlist` is a (qid, rid, cos) frame — the output shape
    * of every retrieval rung, cos already rounded 6 dp; `vectors`
    * supplies candidate vectors for the pairwise-diversity term.
    * Candidates per query are shortlist-BOUNDED by construction, so
    * the greedy runs per query INSIDE an executor via mapGroups — the
    * N²+kN work is embarrassingly parallel across queries, no driver
    * loop, no shuffle beyond the vector join and the qid grouping; at
    * 100 TB the cost profile is the shortlist join's.
    *
    * Determinism: pairwise cosines use the [[cosineFixed]] double
    * convention rounded HALF_UP 6 dp ([[round6]]), the greedy argmax
    * compares the ROUNDED composite score with the rid tie-break, and
    * candidates iterate in rid order — the whole trajectory replays as
    * k chained argmax CTEs in SQL (the q184 pattern). Emits (qid, rid,
    * mmr_rank, mmr_score ∈ rounded 6dp, cos). */
  def mmrRerank(spark: SparkSession, shortlist: DataFrame,
                vectors: DataFrame, k: Int, lambda: Double = 0.7,
                idCol: String = "vec_id", vecCol: String = "embedding",
                dim: Int = 64, maxCandidates: Int = 10000): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda in [0,1], got $lambda")
    import spark.implicits._
    val vecs = vectors.select(col(idCol).cast("long").as("rid"),
      col(vecCol).as("rv"))
    val cands = shortlist.select(col("qid").cast("long"), col("rid").cast("long"),
        col("cos").cast("double"))
      .join(vecs, "rid")
      .select(col("qid"), col("rid"), col("cos"), col("rv"))
      .as[(Long, Long, Double, Array[Float])]
    cands.groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        // LOUD VALVE (the cosinePairs posture): per-query greedy is
        // O(N²) pairwise cosines held in one executor — a caller that
        // feeds an unbounded frame instead of a retrieval shortlist
        // must fail with the size, never silently OOM the task
        val cs = it.take(maxCandidates + 1).toArray.sortBy(_._2)
        require(cs.length <= maxCandidates,
          s"mmrRerank: query $qid has more than $maxCandidates " +
            "candidates — pass a per-query retrieval SHORTLIST (the " +
            "top-k output shape), or raise maxCandidates explicitly " +
            "to accept the O(N²) per-query cost")
        val n = cs.length
        def pairSim(i: Int, j: Int): Double = {
          val a = cs(i)._4; val b = cs(j)._4
          var dot = 0.0; var na = 0.0; var nb = 0.0
          var d = 0
          while (d < dim) {
            val x = a(d).toDouble; val y = b(d).toDouble
            dot += x * y; na += x * x; nb += y * y
            d += 1
          }
          round6(dot / (math.sqrt(na) * math.sqrt(nb) + 1e-12))
        }
        val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
        val maxRel = Array.fill(n)(Double.NegativeInfinity)
        val picked = Array.fill(n)(false)
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Int, Double, Double)]
        var step = 0
        while (step < math.min(k, n)) {
          var best = -1; var bs = Double.NegativeInfinity
          var i = 0
          while (i < n) {
            if (!picked(i)) {
              val div = if (selected.isEmpty) 0.0 else maxRel(i)
              val s = round6(lambda * cs(i)._3 - (1 - lambda) * div)
              if (s > bs || (s == bs && (best < 0 || cs(i)._2 < cs(best)._2))) {
                bs = s; best = i
              }
            }
            i += 1
          }
          picked(best) = true
          selected += best
          out += ((qid, cs(best)._2, step + 1, bs, cs(best)._3))
          var j = 0
          while (j < n) {
            if (!picked(j)) {
              val ps = pairSim(j, best)
              if (ps > maxRel(j)) maxRel(j) = ps
            }
            j += 1
          }
          step += 1
        }
        out.iterator
      }
      .toDF("qid", "rid", "mmr_rank", "mmr_score", "cos")
  }

  /** Seeded Lloyd k-means with k-means++ init on an in-memory sample
    * (quantizer training for [[ivfTopK]]); deterministic for a seed.
    * Empty clusters re-seed from the point farthest from its center. */
  private def lloydKMeans(points: Array[Array[Double]], k: Int, seed: Long,
                          iters: Int = 15): Array[Array[Double]] = {
    require(points.nonEmpty, "kmeans needs a non-empty training sample")
    val dim = points(0).length
    val rnd = new scala.util.Random(seed)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    // k-means++ seeding with the standard incremental min-distance
    // update: only the newest center can lower a point's distance, so
    // the per-round recompute of min-over-all-centers collapses to one
    // pass vs the last center — O(n·k) total instead of O(n·k²),
    // bit-identical samples (same running min, same rnd sequence).
    // Matters at IVF scale: k=1024 lists over a 50k training sample is
    // ~3·10⁹ flops here vs ~1.6·10¹² the quadratic way.
    val centers = scala.collection.mutable.ArrayBuffer(
      points(rnd.nextInt(points.length)).clone())
    val minD = points.map(p => d2(p, centers(0)))
    while (centers.length < math.min(k, points.length)) {
      val total = minD.sum
      var r = rnd.nextDouble() * total
      var idx = 0
      while (idx < points.length - 1 && r > minD(idx)) { r -= minD(idx); idx += 1 }
      centers += points(idx).clone()
      val c = centers(centers.length - 1)
      var i = 0
      while (i < points.length) {
        val d = d2(points(i), c)
        if (d < minD(i)) minD(i) = d
        i += 1
      }
    }
    val cs = centers.toArray
    var it = 0
    while (it < iters) {
      val sums = Array.fill(cs.length)(new Array[Double](dim))
      val counts = new Array[Long](cs.length)
      points.foreach { p =>
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < cs.length) {
          val d = d2(p, cs(c)); if (d < bd) { bd = d; best = c }; c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
      }
      var c = 0
      while (c < cs.length) {
        if (counts(c) > 0) {
          var i = 0
          while (i < dim) { cs(c)(i) = sums(c)(i) / counts(c); i += 1 }
        } else {
          // re-seed an empty cluster at the point farthest from its center
          val far = points.maxBy(p => cs.map(cc => d2(p, cc)).min)
          System.arraycopy(far, 0, cs(c), 0, dim)
        }
        c += 1
      }
      it += 1
    }
    cs
  }

  /** Embedding-cosine near-duplicate pairs (threshold form), EXACT, via
    * blocked matrix products.
    *
    * Exact all-pairs over dense vectors is inherently Θ(n²·d) compares —
    * at the thresholds real near-dup jobs use on this data (cos ≈ 0.35,
    * hyperplane-flip probability arccos(0.35)/π ≈ 0.39) sign-LSH banding
    * cannot prune and keep recall: a band of w bits matches a qualifying
    * pair with prob 0.61^w, so any banding that prunes random pairs
    * (large w) misses a material fraction of true ones. What CAN change
    * is the constant: instead of materializing n²/2 joined rows and
    * evaluating a 192-term expression per row (BroadcastNestedLoopJoin,
    * ~80 s for n=2000 at sf0.1), pack vectors into ~`blockSize`-row
    * blocks, enumerate the B·(B+1)/2 block pairs, and run a tight
    * dot-product kernel per pair — GEMM-shaped, cache-friendly, and it
    * emits only survivors. Same exact output, runs in the time of a
    * matrix multiply, memory bounded by 2 blocks per task, and each
    * block pair is an independent task so a 1000-executor cluster scales
    * it linearly. For genuinely high thresholds (≥ ~0.8) where LSH does
    * prune, use [[cosinePairsLsh]]; for top-k semantics use [[lshTopK]]
    * or [[ivfTopK]].
    *
    * Per-dot summation order (left-to-right over dims, doubles from
    * casted floats) and the norm guard match [[cosineFixed]] bit-for-bit
    * so results are identical to the brute form.
    *
    * SIZE CONTRACT: being exact, the compute is Θ(n²·d) no matter how
    * well it is blocked — a billion-row corpus would schedule ~5·10¹⁷
    * dot products. Inputs above `maxRows` fail LOUDLY here instead of
    * launching an unbounded job; callers that truly want the quadratic
    * cost at larger n must raise `maxRows` explicitly. At the default
    * 10M rows × d=64 the kernel is ~3·10¹⁵ multiply-adds — roughly a
    * minute on a 1000-executor cluster, the sensible ceiling. */
  def cosinePairs(vectors: DataFrame, threshold: Double,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  dim: Int = 64, blockSize: Int = 1024,
                  maxRows: Long = 10000000L): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val src = vectors.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val n = src.count()
    require(n <= maxRows,
      s"cosinePairs is EXACT all-pairs (Θ(n²·d) compute): n=$n exceeds " +
        s"maxRows=$maxRows (~${"%.1e".format(n.toDouble * n / 2 * dim)} " +
        "multiply-adds). For thresholds " +
        "≥ ~0.8 use cosinePairsLsh (LSH prunes with a recall bound " +
        "there); for top-k semantics use lshTopK or ivfTopK; to force " +
        "the quadratic job, pass maxRows explicitly.")
    val nBlocks = math.max(1, math.ceil(n.toDouble / blockSize).toInt)
    // hash-partition rows into blocks; any assignment is correct because
    // every block pair is enumerated, so no global sort/index is needed.
    val packed = src.repartition(nBlocks, col("id"))
      .rdd.mapPartitionsWithIndex { (bid, it) =>
        val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
        val data = scala.collection.mutable.ArrayBuffer.empty[Double]
        it.foreach { r =>
          ids += r.getLong(0)
          val v = r.getSeq[Float](1)
          var i = 0
          while (i < dim) { data += v(i).toDouble; i += 1 }
        }
        if (ids.isEmpty) Iterator.empty
        else {
          val d = data.toArray
          val norms = Array.tabulate(ids.length) { i =>
            var s = 0.0; var k = 0
            while (k < dim) { val x = d(i * dim + k); s += x * x; k += 1 }
            math.sqrt(s)
          }
          Iterator((bid, ids.toArray, norms, d))
        }
      }.toDS()
    val a = packed.toDF("bid_a", "ids_a", "norms_a", "data_a")
    val b = packed.toDF("bid_b", "ids_b", "norms_b", "data_b")
    // threshold - 5e-7: keep anything that could round UP to threshold;
    // the authoritative filter below runs on the rounded value, exactly
    // as the brute form (and the oracle SQL) does.
    val pre = threshold - 5e-7
    val out = a.join(b, col("bid_a") <= col("bid_b"))
      .as[(Int, Array[Long], Array[Double], Array[Double],
           Int, Array[Long], Array[Double], Array[Double])]
      .flatMap { case (ba, idsA, normsA, dataA, bb, idsB, normsB, dataB) =>
        val same = ba == bb
        val res = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var i = 0
        while (i < idsA.length) {
          val offA = i * dim
          var j = if (same) i + 1 else 0
          while (j < idsB.length) {
            val offB = j * dim
            var dot = 0.0
            var k = 0
            while (k < dim) { dot += dataA(offA + k) * dataB(offB + k); k += 1 }
            val c = dot / (normsA(i) * normsB(j) + 1e-12)
            if (c >= pre) {
              val ia = idsA(i); val ib = idsB(j)
              res += (if (ia < ib) (ia, ib, c) else (ib, ia, c))
            }
            j += 1
          }
          i += 1
        }
        res.iterator
      }
    out.toDF("id_a", "id_b", "cos_raw")
      .withColumn("cos", round(col("cos_raw"), 6))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Brute-force variant of [[cosinePairs]] (all-pairs join): O(n²)
    * joined rows — test-only recall/equality oracle, not a scale path. */
  def cosinePairsBrute(vectors: DataFrame, threshold: Double,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       dim: Int = 64): DataFrame = {
    val a = vectors.select(col(idCol).as("id_a"), col(vecCol).as("va"))
    val b = vectors.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", round(cosineCol(dim, col("va"), col("vb")), 6))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Approximate near-dup pairs for HIGH thresholds: sign-LSH band
    * candidates + exact cosine verify. A qualifying pair at cosine c
    * matches one w-bit band with prob (1-θ/π)^w, θ = arccos(c); with
    * `bands` independent bands the miss probability is
    * (1-(1-θ/π)^w)^bands. At c=0.9 with w=16, bands=32 that is ~4e-5;
    * at c=0.35 no useful (w, bands) exists — use [[cosinePairs]] there.
    * Candidate cost is ~bands·n²/2^w for uncorrelated vectors, i.e.
    * near-linear when buckets stay small. */
  def cosinePairsLsh(vectors: DataFrame, threshold: Double,
                     nBits: Int = 512, bands: Int = 32, seed: Long = 42,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     dim: Int = 64): DataFrame = {
    require(nBits % bands == 0)
    val width = nBits / bands
    require(width <= 62, "band keys must fit a long")
    val spark = vectors.sparkSession
    import spark.implicits._
    val planes = hyperplanes(nBits, dim, seed)
    // nBits·dim dot products per row: far too large for one expression
    // tree (codegen blowup), so the signature is a typed map — compiled
    // Scala, narrow, linear.
    val keyed = vectors.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .as[(Long, Array[Float])]
      .flatMap { case (id, v) =>
        (0 until bands).iterator.map { b =>
          var key = 0L
          var w = 0
          while (w < width) {
            val h = planes(b * width + w)
            var dot = 0.0
            var i = 0
            while (i < dim) { dot += v(i) * h(i); i += 1 }
            if (dot > 0) key |= (1L << w)
            w += 1
          }
          (id, b, key)
        }
      }.toDF("id", "band", "key")
    val cands = keyed.select(col("band"), col("key"), col("id").as("id_a"))
      .join(keyed.select(col("band"), col("key"), col("id").as("id_b")),
        Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val vecs = vectors.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    cands
      .join(vecs.select(col("id").as("id_a"), col("v").as("va")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("v").as("vb")), "id_b")
      .withColumn("cos", round(cosineFixed(dim, col("va"), col("vb")), 6))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** SemDeDup-style semantic near-duplicate PAIRS (Abbas et al. 2023,
    * arXiv:2303.09540): k-means partition the embedding space, then
    * search for near-duplicates ONLY within each cluster — the scale
    * answer to [[cosinePairs]]'s Θ(n²·d) contract. K clusters turn one
    * n² problem into K independent (n/K)² problems: total compute
    * drops by ~K, and the paper's observation is that true semantic
    * duplicates land in the same cluster at the thresholds that matter
    * (they are near-identical vectors), so within-cluster recall stays
    * ≈1 while cross-cluster pairs — overwhelmingly non-duplicates —
    * are never scored. Grows K with n (the paper uses 50k clusters at
    * 5B docs) and per-task work stays constant.
    *
    * Mechanics: the coarse quantizer is the same driver-trained seeded
    * k-means as [[ivfTopK]] (deterministic hash-ordered sample, unit-
    * normalized vectors so L2 order ≡ cosine order); assignment is one
    * narrow typed pass; pairs come from a self-equi-join ON THE CLUSTER
    * ID (shuffle keys are (cluster), both sides co-partitioned, residual
    * `id_a < id_b` + exact [[cosineFixed]] threshold inside the join) —
    * Catalyst plans a plain shuffled equi-join, never a cartesian.
    *
    * Skew valve (default ON, the posting-list-join lesson): cluster
    * sizes are checked by one ≤K-row aggregate before the join; any
    * cluster above `maxClusterSize` fails LOUDLY with the observed size
    * and a pointer to raise K — never a silent quadratic on a
    * degenerate clustering.
    *
    * Emits (id_a, id_b, cos, cluster); cos is exact and bit-matches
    * [[cosinePairsBrute]] on every within-cluster pair. */
  /** Unit-normalize a float vector into doubles (shared convention:
    * L2 order on unit vectors ≡ cosine order). */
  private def unitOf(v: Array[Float], dim: Int): Array[Double] = {
    var s = 0.0; var i = 0
    while (i < dim) { s += v(i).toDouble * v(i); i += 1 }
    val n = math.sqrt(s) + 1e-12
    Array.tabulate(dim)(j => v(j) / n)
  }

  /** Dense rotate: out = R·u (row-major R). The OPQ hot-path kernel —
    * dim² multiply-adds per vector, ~4k flops at dim=64, dwarfed by
    * the m·nCodes·dsub encode that follows it. */
  private[graft] def rotateVec(r: Array[Array[Double]],
                               u: Array[Double]): Array[Double] = {
    val d = u.length
    val out = new Array[Double](d)
    var i = 0
    while (i < d) {
      val ri = r(i)
      var s = 0.0; var j = 0
      while (j < d) { s += ri(j) * u(j); j += 1 }
      out(i) = s
      i += 1
    }
    out
  }

  /** Train the seeded coarse quantizer on a deterministic hash-ordered
    * sample — ONE TakeOrdered job + driver Lloyd iterations; callers
    * that need the same centers twice (pairs + centroid scoring) train
    * once and share. */
  private def trainQuantizer(spark: SparkSession, src: DataFrame, dim: Int,
                             trainCap: Int, nClusters: Int,
                             seed: Long): Array[Array[Double]] = {
    import spark.implicits._
    val train = src.orderBy(xxhash64(lit(seed), col("id")), col("id"))
      .limit(trainCap).as[(Long, Array[Float])].collect()
      .map(t => unitOf(t._2, dim))
    lloydKMeans(train, nClusters, seed)
  }

  def semDedupPairs(spark: SparkSession, vectors: DataFrame,
                    threshold: Double, nClusters: Int = 16, seed: Long = 42,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    dim: Int = 64, trainCap: Int = 20000,
                    maxClusterSize: Long = 2000000L,
                    precomputedCenters: Option[Array[Array[Double]]] = None): DataFrame = {
    import spark.implicits._
    val src = vectors.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    def unit(v: Array[Float]): Array[Double] = unitOf(v, dim)
    val centers = precomputedCenters.getOrElse(
      trainQuantizer(spark, src, dim, trainCap, nClusters, seed))
    val bc = spark.sparkContext.broadcast(centers)
    val assigned = src.as[(Long, Array[Float])]
      .map { case (id, v) =>
        val u = unit(v)
        val cs = bc.value
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < cs.length) {
          var s = 0.0; var i = 0
          while (i < dim) { val d = u(i) - cs(c)(i); s += d * d; i += 1 }
          if (s < bd) { bd = s; best = c }
          c += 1
        }
        (id, v, best)
      }
      .toDF("id", "v", "cluster")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val sizes = assigned.groupBy("cluster").agg(count(lit(1)).as("sz"))
        .agg(max(col("sz"))).head().getLong(0)
      require(sizes <= maxClusterSize,
        s"semDedupPairs: largest cluster holds $sizes vectors (> " +
          s"maxClusterSize=$maxClusterSize) — the within-cluster join " +
          s"would be quadratic in that cluster. Raise nClusters " +
          s"(currently $nClusters; SemDeDup scales K with n) or raise " +
          "maxClusterSize explicitly to accept the cost.")
      val a = assigned.select(col("cluster"), col("id").as("id_a"), col("v").as("va"))
      val b = assigned.select(col("cluster"), col("id").as("id_b"), col("v").as("vb"))
      val out = a.join(b, Seq("cluster"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("cos", round(cosineCol(dim, col("va"), col("vb")), 6))
        .filter(col("cos") >= threshold)
        .select(col("id_a"), col("id_b"), col("cos"), col("cluster"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count() // materialize INTO the persist before dropping assigned
      out
    } finally assigned.unpersist(blocking = false)
  }

  /** Full SemDeDup keep/drop decision: [[semDedupPairs]] → connected
    * components ([[graft.pipeline.Dedup.dupClusters]]'s guarded
    * union-find/GraphX route) → one survivor per duplicate group.
    *
    * Survivor rule: the paper keeps, within each duplicate group, the
    * example with the LOWEST cosine similarity to its cluster centroid
    * (the least-redundant representative — random and max-similarity
    * choices score slightly worse in their ablation, §A.2). cos(v,
    * centroid) is recomputed in one narrow pass against the broadcast
    * centers; ties break on min id, so the decision is deterministic.
    *
    * Callers that already materialized [[semDedupPairs]] (e.g. to
    * measure recall) pass it via `precomputedPairs` so the
    * within-cluster scoring join runs once, not twice.
    *
    * Returns every input row: (vec_id, group_id, centroid_cos, keep). */
  def semDedup(spark: SparkSession, vectors: DataFrame, threshold: Double,
               nClusters: Int = 16, seed: Long = 42,
               idCol: String = "vec_id", vecCol: String = "embedding",
               dim: Int = 64, trainCap: Int = 20000,
               precomputedPairs: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val src = vectors.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    // one quantizer serves both the pair search and the centroid-cos
    // survivor scoring — trained once (was trained twice before r3)
    val centers = trainQuantizer(spark, src, dim, trainCap, nClusters, seed)
    val pairs = precomputedPairs.getOrElse(
      semDedupPairs(spark, vectors, threshold, nClusters, seed,
        idCol, vecCol, dim, trainCap,
        precomputedCenters = Some(centers)))
    val groups = graft.pipeline.Dedup.dupClusters(spark, pairs)
      .select(col("doc_id").as("id"), col("keep_id").as("group_id"))
    def unit(v: Array[Float]): Array[Double] = unitOf(v, dim)
    val bc = spark.sparkContext.broadcast(centers)
    val withCos = src.as[(Long, Array[Float])]
      .map { case (id, v) =>
        val u = unit(v)
        val cs = bc.value
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < cs.length) {
          var s = 0.0; var i = 0
          while (i < dim) { val d = u(i) - cs(c)(i); s += d * d; i += 1 }
          if (s < bd) { bd = s; best = c }
          c += 1
        }
        // cos(v, centroid) over the unit vector and the (non-unit)
        // centroid, same double convention as cosineFixed
        var dot = 0.0; var nc = 0.0; var i = 0
        while (i < dim) {
          dot += u(i) * cs(best)(i); nc += cs(best)(i) * cs(best)(i); i += 1
        }
        (id, dot / (math.sqrt(nc) + 1e-12))
      }
      .toDF("id", "centroid_cos")
    import org.apache.spark.sql.expressions.Window
    val labeled = withCos
      .join(groups, Seq("id"), "left")
      .withColumn("group_id", coalesce(col("group_id"), col("id")))
    val w = Window.partitionBy("group_id")
      .orderBy(col("centroid_cos").asc, col("id").asc)
    labeled
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("id").as(idCol), col("group_id"),
        round(col("centroid_cos"), 6).as("centroid_cos"), col("keep"))
  }

  /** DISTRIBUTED Lloyd k-means over an embedding column — the
    * first-class clustering operator behind [[semDedup]]'s internal
    * partitioner, exposed with a self-auditing output. Per iteration:
    * broadcast the k×dim centroid table, assign each vector to its
    * nearest centroid in a narrow map, then recompute centroids as one
    * (cluster, pos)-keyed aggregate over the posexploded assignments —
    * map-side partial sums make the shuffle k·dim rows per partition
    * regardless of n, the canonical scalable k-means dataflow. The
    * driver only ever holds k×dim doubles. Init is the k vectors with
    * the smallest md5("km:"‖id) — deterministic and engine-replayable.
    *
    * Output carries two audit booleans instead of raw centroids (which
    * no SQL oracle could replay): `assign_ok` re-derives each argmin
    * through the expanded form ‖x−c‖² = ‖x‖²−2x·c+‖c‖² (an
    * independent arithmetic route — a distance or tie-break bug makes
    * the routes disagree) and `inertia_ok` asserts the final total
    * within-cluster distance does not exceed the first iteration's
    * (Lloyd monotonicity). */
  /** k-center greedy coreset selection (farthest-point traversal —
    * Sener & Savarese 2018's active-learning coreset, the standard
    * diversity-sampling pass over an embedded corpus; greedy gives the
    * classic 2-approximation of the k-center optimum). Start from the
    * min-id point, then k−1 times pick the point farthest (max-min
    * squared euclidean) from the chosen set, min-id tiebreak.
    *
    * Shape (incremental farthest-point form): the state is ONE
    * persisted (id, v, md) frame where md is the running min distance
    * to the chosen set; each round is a TakeOrdered(1) argmax that
    * returns the selected row WITH its vector, then a narrow map that
    * min's md against the ONE new center — k jobs and O(k·n)
    * arithmetic total (the r7 recompute form paid 2k jobs and O(k²·n):
    * a full all-centers recompute plus a vecOf re-fetch per round).
    * The driver holds only the ≤k chosen (id, radius) pairs plus one
    * broadcast center per round, so a 100 TB corpus costs k scans.
    *
    * Exhaustion: requires k ≤ n (counted once), and stops early when
    * the max-min distance hits 0 — every remaining point then
    * coincides with a chosen center, so continuing would only emit
    * redundant zero-radius duplicates (the emitted coreset never
    * repeats a vec_id).
    *
    * Determinism across engines: every point–center distance is
    * rounded HALF_UP to 6 dp (positive values ⇒ floor(x·10⁶+0.5),
    * exactly DuckDB/Spark `round`) BEFORE the min/argmax, and the
    * running min of per-center rounded distances equals the min over
    * all centers of rounded distances (min is associative), so the
    * greedy trajectory and the emitted radii replay bit-identically in
    * SQL — the q180 rounded-ordering discipline. Emits (rank, vec_id,
    * radius) where radius is the max-min distance at selection time
    * (non-increasing in rank, the 2-approx certificate q184's spec
    * pins). */
  def kCenterGreedy(spark: SparkSession, vectors: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    dim: Int = 64): DataFrame = {
    import spark.implicits._
    val src = vectors.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("v")).as[(Long, Array[Float])]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = src.count()
    require(k >= 1 && k <= n, s"need 1 <= k <= n=$n vectors, got k=$k")
    def distTo(center: Array[Double])(v: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val d = v(i) - center(i); s += d * d; i += 1 }
      math.floor(s * 1e6 + 0.5) / 1e6 // HALF_UP, s >= 0
    }
    // round 1: min-id point, fetched WITH its vector in one action
    val firstRow = src.orderBy(asc("id")).limit(1).collect()(0)
    var centers = Vector((firstRow._1, 0.0))
    var newCenter = firstRow._2.map(_.toDouble)
    // state: (id, v, md = min rounded distance to the chosen set)
    var state: org.apache.spark.sql.Dataset[(Long, Array[Float], Double)] = null
    while (centers.length < k && newCenter != null) {
      val bc = spark.sparkContext.broadcast(newCenter)
      val next =
        if (state == null)
          src.map { case (id, v) => (id, v, distTo(bc.value)(v)) }
        else
          state.map { case (id, v, md) =>
            (id, v, math.min(md, distTo(bc.value)(v))) }
      val nextP = next.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // argmax (max md, min-id tiebreak) carries the winner's vector —
      // the one job of this round; it also materializes nextP
      val sel = nextP.toDF("id", "v", "md")
        .orderBy(desc("md"), asc("id")).limit(1)
        .as[(Long, Array[Float], Double)].collect()(0)
      if (state != null) { state.unpersist(blocking = false); () }
      state = nextP
      if (sel._3 == 0.0) newCenter = null // exhausted: all points coincide
      else {
        centers = centers :+ ((sel._1, sel._3))
        newCenter = sel._2.map(_.toDouble)
      }
    }
    if (state != null) { state.unpersist(blocking = false); () }
    src.unpersist(blocking = false)
    centers.zipWithIndex
      .map { case ((id, r), i) => (i + 1, id, r) }
      .toDF("rank", idCol, "radius")
  }

  /** Per-label embedding outlier audit — the mislabeled/noise-vector
    * screen an embedding-curation pass runs before training (far-from-
    * own-centroid points are label noise or out-of-distribution
    * samples). Per label: centroid (per-dim mean), each vector's
    * squared distance to its OWN label's centroid, the within-label
    * z-score of that distance, and the outlier flag.
    *
    * Shape: one (label, pos) aggregate builds the ≤|labels|·dim
    * centroid table, COLLECTED to the driver (bounded — the
    * kMeansAssign posture) and broadcast; d² is then a pure narrow
    * map, label stats a tiny aggregate broadcast back — two scans and
    * no wide shuffle at any corpus size. d² is rounded HALF_UP 6 dp
    * before the stats and z before the flag (both engines), and the
    * threshold is deliberately non-round (2.4931, the keepDecision
    * discipline) so no boundary tie can flip the boolean. Exact
    * oracle (q187). */
  def labelOutliers(spark: SparkSession, vectors: DataFrame,
                    zThresh: Double = 2.4931, idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    labelCol: String = "label",
                    dim: Int = 64): DataFrame = {
    import spark.implicits._
    val expl = vectors.select(col(labelCol).cast("int").as("lab"),
      posexplode(transform(col(vecCol), x => x.cast("double")))
        .as(Seq("pos", "x")))
    val cent: Map[Int, Array[Double]] = expl.groupBy("lab", "pos")
      .agg(avg("x").as("m")).collect()
      .groupBy(_.getInt(0)).map { case (l, rs) =>
        val a = new Array[Double](dim)
        rs.foreach(r => a(r.getInt(1)) = r.getDouble(2))
        l -> a
      }
    val bc = spark.sparkContext.broadcast(cent)
    val d2df = vectors.select(col(idCol).cast("long").as("id"),
      col(labelCol).cast("int").as("lab"), col(vecCol).as("v"))
      .as[(Long, Int, Array[Float])].map { case (id, lab, v) =>
        val c = bc.value(lab)
        var s = 0.0; var i = 0
        while (i < dim) { val d = v(i) - c(i); s += d * d; i += 1 }
        (id, lab, math.floor(s * 1e6 + 0.5) / 1e6) // HALF_UP, s >= 0
      }.toDF("id", "lab", "d2")
    val stats = d2df.groupBy("lab")
      .agg(avg("d2").as("mu"), stddev("d2").as("sd"))
    d2df.join(broadcast(stats), "lab")
      .select(col("id").as(idCol), col("lab").as(labelCol), col("d2"),
        round((col("d2") - col("mu")) / col("sd"), 6).as("z"))
      .withColumn("is_outlier", col("z") > zThresh)
  }

  /** md5-derived Rademacher sign for JL projection cell (i, j): +1
    * when the first hex digit of md5("i:j") is 0–7, −1 otherwise —
    * a derivation BOTH engines can compute, so the projection is
    * exactly replayable in SQL (the q27 md5-family discipline). */
  private[graft] def jlSign(i: Int, j: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$i:$j".getBytes("UTF-8"))
    if (((d(0) >> 4) & 0xf) < 8) 1.0 else -1.0
  }

  /** Johnson–Lindenstrauss random projection (Achlioptas 2003's
    * database-friendly ±1 form): x′_j = Σ_i x_i·s_ij / √d′ with a
    * Rademacher sign matrix — E‖x′‖² = ‖x‖², pairwise distances
    * preserved within (1±ε) w.h.p. The 16× dimensionality cut every
    * embedding-heavy pipeline wants before index build or pair
    * mining, complementary to PQ (which compresses storage; JL cuts
    * the arithmetic dimension).
    *
    * Shape: the d′×d sign matrix is a LITERAL (md5-derived, seedless
    * and engine-replayable — jlSign), the projection a pure narrow
    * map of nested array folds — zero shuffles, whole-stage-codegen
    * friendly, a scan at 100 TB. Emits (id, dim, coord) exploded rows
    * rounded 6 dp; q185's DuckDB oracle recomputes every coordinate
    * from the same md5 algebra. */
  def jlProject(vectors: DataFrame, outDim: Int = 16,
                idCol: String = "vec_id", vecCol: String = "embedding",
                dim: Int = 64): DataFrame = {
    require(outDim >= 1 && dim >= 1, s"bad dims $dim->$outDim")
    val signs: Seq[Seq[Double]] =
      (0 until outDim).map(j => (0 until dim).map(i => jlSign(i, j)))
    val signLit = typedLit(signs)
    val scale = math.sqrt(outDim.toDouble)
    val vecD = transform(col(vecCol), x => x.cast("double"))
    val proj = transform(sequence(lit(1), lit(outDim)), j =>
      round(
        aggregate(sequence(lit(1), lit(dim)), lit(0.0), (acc, i) =>
          acc + element_at(vecD, i) *
            element_at(element_at(signLit, j), i)) / scale, 6))
    vectors.select(col(idCol), posexplode(proj).as(Seq("dim", "coord")))
  }

  def kMeansAssign(spark: SparkSession, vectors: DataFrame, k: Int,
                   iters: Int = 5, idCol: String = "vec_id",
                   vecCol: String = "embedding", dim: Int = 64): DataFrame = {
    require(k >= 1 && iters >= 1, s"need k>=1 iters>=1, got $k/$iters")
    import spark.implicits._
    val src = vectors.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("v")).cache()
    var centers: Array[Array[Double]] = src
      .orderBy(md5(concat(lit("km:"), col("id").cast("string"))), col("id"))
      .limit(k).as[(Long, Array[Float])].collect()
      .map(t => t._2.map(_.toDouble))
    def assignWith(cs: Array[Array[Double]]) = {
      val bc = spark.sparkContext.broadcast(cs)
      src.as[(Long, Array[Float])].map { case (id, v) =>
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < bc.value.length) {
          var s = 0.0; var i = 0
          while (i < dim) { val d = v(i) - bc.value(c)(i); s += d * d; i += 1 }
          if (s < bd) { bd = s; best = c }
          c += 1
        }
        (id, best, bd)
      }.toDF("id", "cluster", "d2")
    }
    var firstInertia = -1.0
    var it = 0
    while (it < iters) {
      val assigned = assignWith(centers)
      if (it == 0)
        firstInertia = assigned.agg(sum("d2")).collect()(0).getDouble(0)
      val upd = assigned.join(src, "id")
        .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cluster", "pos").agg(avg("x").as("m"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      val next = centers.map(_.clone())
      upd.foreach { case (c, p, m) => next(c)(p) = m }
      centers = next
      it += 1
    }
    val finalAssign = assignWith(centers).cache()
    val finalInertia = finalAssign.agg(sum("d2")).collect()(0).getDouble(0)
    val bc = spark.sparkContext.broadcast(centers)
    val viaDot = src.as[(Long, Array[Float])].map { case (id, v) =>
      val cs = bc.value
      var best = 0; var bd = Double.MaxValue; var c = 0
      while (c < cs.length) {
        var x2 = 0.0; var xc = 0.0; var c2 = 0.0; var i = 0
        while (i < dim) {
          x2 += v(i).toDouble * v(i); xc += v(i) * cs(c)(i)
          c2 += cs(c)(i) * cs(c)(i); i += 1
        }
        val d = x2 - 2 * xc + c2
        if (d < bd - 1e-9) { bd = d; best = c }
        c += 1
      }
      (id, best, bd)
    }.toDF("id", "cluster2", "d2b")
    val out = finalAssign.join(viaDot, "id")
      .select(col("id").as(idCol),
        (col("cluster") === col("cluster2") ||
          abs(col("d2") - col("d2b")) < 1e-6).as("assign_ok"),
        lit(finalInertia <= firstInertia + 1e-6).as("inertia_ok"))
    src.unpersist()
    out
  }
}
