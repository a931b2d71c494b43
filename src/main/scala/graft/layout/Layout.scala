package graft.layout

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VecOps
import graft.gen.Generators.hashUniform

/** Layout configuration mirroring the reference defaults
  * (benchmark.py:18-19, embedder_pytorch.py:56-103). */
case class LayoutConfig(
    nComponents: Int = 3,
    LMin: Double = 10.0,
    kAttr: Double = 0.5,
    kInter: Double = 0.1,
    nNeighbors: Int = 15,
    sampleSize: Int = 512,
    numIterations: Int = 30,
    seed: Long = 42)

/** Force-directed layout with edge-crossing repulsion — the reference's
  * engine core (embedder_pytorch.py:595-833) as one declarative
  * DataFrame program per iteration.
  *
  * Per iteration (SURVEY.md §4): the sampled kNN queries (≤ sampleSize
  * midpoints) are collected and broadcast; positions are gathered
  * through broadcast joins (positions ≪ edges at scale); the kNN runs
  * as one cell grid per edge partition; and three shuffles remain: the
  * kNN merge window, the fused spring + intersection scatter-add, and
  * the join of the forces onto the positions. The normalization
  * statistics ride in the job that materializes the moved positions.
  * Positions are cached and locally checkpointed each iteration to
  * truncate lineage (the Spark failure mode the reference doesn't have,
  * SURVEY.md §7 risk 2).
  */
object Layout {

  /** Broadcast the positions table into gathers up to this vertex
    * count; above it, gathers shuffle-join (positions no longer fit an
    * executor). The checkpointed positions leaf reports the default
    * (unbounded) size estimate, so without the explicit hint Catalyst
    * picks sort-merge even for 500 rows. */
  private val BroadcastPosMax = 5000000L

  /** Stable deterministic edge id (hash of endpoints; canonical edges). */
  def withEdgeIds(edges: DataFrame): DataFrame =
    edges.withColumn("eid", xxhash64(col("src"), col("dst")))

  /** J1 gather: edge rows with both endpoint positions. */
  def gather(edges: DataFrame, pos: DataFrame, bcast: Boolean = true): DataFrame = {
    def side(df: DataFrame) = if (bcast) broadcast(df) else df
    edges
      .join(side(pos.select(col("id").as("src"), col("pos").as("p1"))), "src")
      .join(side(pos.select(col("id").as("dst"), col("pos").as("p2"))), "dst")
  }

  /** A2 spring force contributions: per-edge force emitted for
    * both endpoints with opposite signs (embedder_pytorch.py:595-636).
    * The reference's magnitude is -k_attr·(dist-L_min) applied along
    * (p2-p1)/dist to src (embedder_pytorch.py:626-635): edges SHORTER
    * than L_min attract, longer repel — the sign the layout dynamics
    * (and the radius-vs-centrality correlations) depend on.
    * Returns UNAGGREGATED (id, f) rows — step() fuses all force streams
    * into a single scatter-add shuffle.
    *
    * Emission uses explode(array(struct..)) — ONE pass over the edge
    * pipeline. A union of two selects re-executes the whole gather
    * subtree per branch (Catalyst plans are trees, not DAGs); with the
    * kNN inside, that multiplied iteration cost ~4×. Force math is
    * fixed-dimension column arithmetic, fully codegen'd. */
  def springContrib(edges: DataFrame, pos: DataFrame, cfg: LayoutConfig,
                    bcast: Boolean = true): DataFrame = {
    val d = cfg.nComponents
    val diffs = (0 until d).map(i =>
      (element_at(col("p2"), i + 1) - element_at(col("p1"), i + 1)).as(s"d$i"))
    val dist = sqrt((0 until d).map(i => col(s"d$i") * col(s"d$i")).reduce(_ + _)) + lit(1e-6)
    val g = gather(edges, pos, bcast)
      .select(Seq(col("src"), col("dst")) ++ diffs: _*)
      .withColumn("coef", lit(-cfg.kAttr) * (dist - lit(cfg.LMin)) / dist)
    val fPos = array((0 until d).map(i => col(s"d$i") * col("coef")): _*)
    val fNeg = array((0 until d).map(i => -col(s"d$i") * col("coef")): _*)
    g.select(explode(array(
      struct(col("src").as("id"), fPos.as("f")),
      struct(col("dst").as("id"), fNeg.as("f")))).as("c"))
      .select(col("c.id").as("id"), col("c.f").as("f"))
  }

  /** Aggregated spring forces (kept for direct use/tests). */
  def springForces(edges: DataFrame, pos: DataFrame, cfg: LayoutConfig): DataFrame =
    VecOps.sumVecBy(springContrib(edges, pos, cfg), "id", cfg.nComponents, "f")

  /** Edge midpoints (embedder_pytorch.py:784-785): (eid, src, dst, mid). */
  def midpoints(edgesWithId: DataFrame, pos: DataFrame,
                bcast: Boolean = true): DataFrame =
    gather(edgesWithId, pos, bcast)
      .select(col("eid"), col("src"), col("dst"),
        VecOps.midpoint(col("p1"), col("p2")).as("mid"))

  /** W4 deterministic sample of ~s midpoints (embedder_pytorch.py:406-413)
    * via hash thresholding: expected s rows, exactly reproducible for a
    * (seed, iter), and NO global sort — a pure narrow filter, unlike
    * orderBy().limit() which shuffles every midpoint each iteration.
    * `refCount` is the midpoint population m. */
  def sampleMidpoints(mids: DataFrame, s: Int, seed: Long, refCount: Long): DataFrame =
    if (refCount <= s) mids
    else mids.filter(hashUniform(seed, col("eid")) < s.toDouble / refCount)

  /** J3 exact kNN: sampled query midpoints × all reference midpoints,
    * per-query top-k by squared distance (embedder_pytorch.py:543-593),
    * self-match dropped (embedder_pytorch.py:420-421).
    *
    * The query side is collected and broadcast, so it must be small
    * (the loop passes its ≤ sampleSize sample). Each reference partition
    * builds one [[CellGrid]] over its midpoints and emits its first k
    * per query in (d2, rid) order; one window over those survivors
    * (partitions × |q| × k rows) keeps the first k overall. A query's
    * global top-k lies inside the union of the partitions' lists, so the
    * result is exact and the same for any partitioning of the refs. d2
    * sums the dimensions left to right, as on the driver route. */
  def knnExact(queries: DataFrame, refs: DataFrame, k: Int, dim: Int = 3): DataFrame = {
    val spark = refs.sparkSession
    import spark.implicits._
    def rows(df: DataFrame) = df.select(col("eid"), col("src"), col("dst"), col("mid"))
      .as[(Long, Long, Long, Array[Double])]
    val bc = spark.sparkContext.broadcast(rows(queries).collect())
    val partial = rows(refs)
      .mapPartitions(it => partitionKnn(it.toArray, bc.value, k, dim))
      .toDF("qid", "qsrc", "qdst", "rid", "rsrc", "rdst", "d2")
    val w = Window.partitionBy(col("qid")).orderBy(col("d2").asc, col("rid").asc)
    partial
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  /** [[knnExact]] within one partition: the first k of `refs` for each
    * query, as (qid, qsrc, qdst, rid, rsrc, rdst, d2) rows. */
  private def partitionKnn(refs: Array[(Long, Long, Long, Array[Double])],
                           queries: Array[(Long, Long, Long, Array[Double])],
                           k: Int, d: Int): Iterator[(Long, Long, Long, Long, Long, Long, Double)] = {
    if (k <= 0 || refs.isEmpty) return Iterator.empty
    val mid = new Array[Double](refs.length * d)
    val eids = new Array[Long](refs.length)
    var j = 0
    while (j < refs.length) {
      System.arraycopy(refs(j)._4, 0, mid, j * d, d)
      eids(j) = refs(j)._1
      j += 1
    }
    val grid = new CellGrid(mid, d, eids)
    queries.iterator.flatMap { case (qid, qsrc, qdst, qm) =>
      grid.knn(qm, 0, qid, k).iterator.map { r =>
        val (rid, rsrc, rdst, rm) = refs(r)
        var d2 = 0.0
        var i = 0
        while (i < d) { val df = qm(i) - rm(i); d2 += df * df; i += 1 }
        (qid, qsrc, qdst, rid, rsrc, rdst, d2)
      }
    }
  }

  /** A3 intersection repulsion contributions (unaggregated): for each
    * candidate edge pair from kNN that properly intersects (P4/P5/P6),
    * push all 4 endpoints away from the pair centroid with k_inter/d²
    * (embedder_pytorch.py:638-736). One explode pass — see
    * springContrib for why unions of selects are forbidden here. */
  def intersectionContrib(pairs: DataFrame, pos: DataFrame, cfg: LayoutConfig,
                          bcast: Boolean = true): DataFrame = {
    val d = cfg.nComponents
    def side(df: DataFrame) = if (bcast) broadcast(df) else df
    val p = pairs
      .filter(col("qid") < col("rid")) // P4 i<j
      .filter(!(col("qsrc") === col("rsrc") || col("qsrc") === col("rdst") ||
        col("qdst") === col("rsrc") || col("qdst") === col("rdst"))) // P5
    val withPos = p
      .join(side(pos.select(col("id").as("qsrc"), col("pos").as("p1"))), "qsrc")
      .join(side(pos.select(col("id").as("qdst"), col("pos").as("p2"))), "qdst")
      .join(side(pos.select(col("id").as("rsrc"), col("pos").as("q1"))), "rsrc")
      .join(side(pos.select(col("id").as("rdst"), col("pos").as("q2"))), "rdst")
      .filter(VecOps.segmentsIntersect(col("p1"), col("p2"), col("q1"), col("q2"))) // P6
      .withColumn("c4", VecOps.centroid4(col("p1"), col("p2"), col("q1"), col("q2")))
    val exploded = withPos.select(col("c4"), explode(array(
      struct(col("qsrc").as("id"), col("p1").as("pt")),
      struct(col("qdst").as("id"), col("p2").as("pt")),
      struct(col("rsrc").as("id"), col("q1").as("pt")),
      struct(col("rdst").as("id"), col("q2").as("pt")))).as("c"))
      .select(col("c.id").as("id"), col("c.pt").as("pt"), col("c4"))
    val diffs = (0 until d).map(i =>
      (element_at(col("pt"), i + 1) - element_at(col("c4"), i + 1)).as(s"d$i"))
    val dsq = (0 until d).map(i => col(s"d$i") * col(s"d$i")).reduce(_ + _)
    exploded.select(Seq(col("id")) ++ diffs: _*)
      .withColumn("dist", sqrt(dsq) + lit(1e-6))
      .select(col("id"), array((0 until d).map(i =>
        col(s"d$i") * lit(cfg.kInter) / (col("dist") * col("dist"))): _*).as("f"))
  }


  /** A4 center-and-scale per dimension (embedder_pytorch.py:800-804);
    * torch.std is the SAMPLE std (ddof=1) → stddev_samp. The 2·d
    * statistics collapse to one row collected on the driver. */
  def normalize(pos: DataFrame, dim: Int): DataFrame = {
    val statCols = (0 until dim).flatMap(i => Seq(
      avg(element_at(col("pos"), i + 1)).as(s"m$i"),
      stddev_samp(element_at(col("pos"), i + 1)).as(s"s$i")))
    val st = pos.agg(statCols.head, statCols.tail: _*).collect()(0)
    val comps = (0 until dim).map { i =>
      val m = st.getAs[Double](s"m$i")
      val sRaw = st.getAs[Double](s"s$i")
      val s = if (sRaw.isNaN) 0.0 else sRaw
      (element_at(col("pos"), i + 1) - lit(m)) / lit(s + 1e-6)
    }
    pos.select(col("id"), array(comps: _*).as("pos"))
  }

  /** One layout iteration (update_positions, embedder_pytorch.py:776-806).
    * Spring and intersection contributions are unioned RAW and fused
    * into one scatter-add hash aggregate — a single force shuffle per
    * iteration instead of three. */
  def step(edgesWithId: DataFrame, pos: DataFrame,
           cfg: LayoutConfig, iter: Int, refCount: Long,
           nVertices: Long = 0L): DataFrame = {
    val bcast = nVertices <= BroadcastPosMax
    val spring = springContrib(edgesWithId, pos, cfg, bcast)
    val contrib =
      if (cfg.kInter == 0.0) spring
      else {
        val mids = midpoints(edgesWithId, pos, bcast)
        val sampled = sampleMidpoints(mids, cfg.sampleSize, cfg.seed + iter, refCount)
        val pairs = knnExact(sampled, mids, cfg.nNeighbors, cfg.nComponents)
        spring.unionByName(intersectionContrib(pairs, pos, cfg, bcast))
      }
    val forcesRaw = VecOps.sumVecBy(contrib, "id", cfg.nComponents, "f")
    // forces join pos WITHOUT a broadcast hint: a broadcast build is a
    // separate driver-blocking job per iteration, while the shuffle
    // join folds into the main job (both sides are loop-state-sized).
    // At cluster scale forces ~ n rows — not broadcastable anyway, so
    // the shuffle plan is also the one that survives 100× data.
    val forces = forcesRaw
    // Unnormalized move; run() checkpoints this, then applies A4
    // normalization as a lazy projection over the cached rows so the
    // force pipeline executes exactly once per iteration.
    pos.join(forces, Seq("id"), "left")
      .select(col("id"),
        when(col("f").isNull, col("pos"))
          .otherwise(VecOps.add(col("pos"), col("f"))).as("pos"))
  }

  /** L3 driver loop (run_layout, embedder_pytorch.py:808-833).
    * Routes to [[runLocal]] up to `DriverRoute.LoopEdges` edges for
    * every config (long/long edge schema only — eids must hash
    * identically on both routes); the distributed loop above. Both
    * routes implement the same dynamics with the same exact kNN kernel
    * ([[CellGrid]]); they differ only in floating-point summation order, so
    * trajectories agree to ~1e-6 over a few iterations (asserted by
    * EmbeddingSpec) and statistically thereafter. */
  def run(spark: SparkSession, edges: DataFrame, initial: DataFrame,
          cfg: LayoutConfig): DataFrame = {
    import graft.util.DriverRoute.{LoopEdges, probePairs}
    probePairs(edges, "src", "dst", LoopEdges) match {
      case Some(eArr) => return runLocal(spark, eArr, initial, cfg)
      case None => // over threshold or non-long schema → distributed
    }
    val e = withEdgeIds(edges).persist()
    val m = e.count()
    // Size the edge/position partitioning to the DATA, like the shuffle
    // count: generator/parquet inputs arrive in default-parallelism
    // partitions (64 for a 264-row grid), and every per-iteration stage
    // inherits that task count. coalesce is narrow over the cache and
    // never increases the partition count, so big inputs keep theirs.
    val eSized = e.coalesce(graft.util.Iterate.sizedPartitions(spark, m))
    graft.util.Iterate.withSizedShuffle(spark, m) {
      runLoop(spark, eSized, initial, cfg, m)
    }
  }

  /** Driver-local twin of the distributed loop — identical dynamics
    * (same eid hashing, same hash-threshold midpoint sampling, same
    * exact kNN with (d2, rid) tie-breaks, same P4/P5/P6 intersection
    * predicate, same ddof=1 normalization), executed on collected
    * arrays. The kNN is [[knnCells]]: one exact cell-grid search per
    * iteration, its queries fanned out across cores, and each query's
    * neighbours applied in (d2, rid) order. The edges come sorted from
    * the probe, so the spring sums do not depend on the partition order
    * of the collect. The reference runs this entire regime single-node
    * (NumPy/PyTorch); routing small graphs to the driver is the
    * Spark-honest version of that, with [[runLoop]] carrying the 100 TB
    * regime. */
  private def runLocal(spark: SparkSession, eArrAll: Array[(Long, Long)],
                       initial: DataFrame, cfg: LayoutConfig): DataFrame = {
    import graft.util.DriverRoute.{hashStart, foldLong, toUniform}
    val d = cfg.nComponents
    val init = initial.select(col("id"), col("pos")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val n = init.length
    val ids = init.map(_._1)
    val idIdx = new java.util.HashMap[Long, Int](n * 2)
    var vi = 0
    while (vi < n) { idIdx.put(ids(vi), vi); vi += 1 }
    var pos = init.map(_._2.clone())
    // Edges with an endpoint absent from `initial` are DROPPED, exactly
    // like the distributed gather's inner join (a null from idIdx.get
    // would otherwise silently unbox to vertex 0). The sampling
    // denominator stays the FULL edge count, matching the distributed
    // loop, which counts edges before the gather.
    val eArr = eArrAll.filter { case (s, t) =>
      idIdx.containsKey(s) && idIdx.containsKey(t) }
    val mFull = eArrAll.length
    val m = eArr.length
    // eid = xxhash64(src, dst): seed 42, fold each long
    val eids = new Array[Long](m)
    val esrc = new Array[Int](m); val edst = new Array[Int](m)
    var ei = 0
    while (ei < m) {
      val (s, t) = eArr(ei)
      eids(ei) = foldLong(foldLong(42L, s), t)
      esrc(ei) = idIdx.get(s); edst(ei) = idIdx.get(t)
      ei += 1
    }
    // hashUniform(seed, eid) = xxhash64(lit(seed), eid) >>> 11 / 2^53
    def hashU(seed: Long, x: Long): Double =
      toUniform(foldLong(hashStart(seed), x))
    var it = 0
    while (it < cfg.numIterations) {
      val force = Array.fill(n)(new Array[Double](d))
      ei = 0
      while (ei < m) { // A2 spring, same sign/eps as springContrib
        val a = esrc(ei); val b = edst(ei)
        val pa = pos(a); val pb = pos(b)
        var d2 = 0.0; val diff = new Array[Double](d)
        var i = 0
        while (i < d) { diff(i) = pb(i) - pa(i); d2 += diff(i) * diff(i); i += 1 }
        val dist = math.sqrt(d2) + 1e-6
        val coef = -cfg.kAttr * (dist - cfg.LMin) / dist
        i = 0
        while (i < d) {
          val f = diff(i) * coef; force(a)(i) += f; force(b)(i) -= f; i += 1
        }
        ei += 1
      }
      if (cfg.kInter != 0.0) {
        val mids = new Array[Double](m * d)
        var j = 0
        while (j < m) {
          val pa = pos(esrc(j)); val pb = pos(edst(j))
          var i = 0
          while (i < d) { mids(j * d + i) = (pa(i) + pb(i)) / 2.0; i += 1 }
          j += 1
        }
        val thr = cfg.sampleSize.toDouble / mFull
        val sampled =
          if (mFull <= cfg.sampleSize) Array.range(0, m)
          else Array.range(0, m).filter(j => hashU(cfg.seed + it, eids(j)) < thr)
        val nbrs = knnCells(mids, d, eids, sampled, cfg.nNeighbors)
        // A3 intersection repulsion over surviving (P4/P5/P6) pairs
        var si = 0
        while (si < sampled.length) {
          val qj = sampled(si)
          for (rj <- nbrs(si)) {
            if (eids(qj) < eids(rj)) { // P4
              val qs = esrc(qj); val qd = edst(qj)
              val rsrc = esrc(rj); val rdst = edst(rj)
              if (qs != rsrc && qs != rdst && qd != rsrc && qd != rdst) { // P5
                val p1 = pos(qs); val p2 = pos(qd)
                val q1 = pos(rsrc); val q2 = pos(rdst)
                def o(ax: Double, ay: Double, bx: Double, by: Double,
                      cx: Double, cy: Double): Double =
                  math.signum((bx - ax) * (cy - ay) - (by - ay) * (cx - ax))
                val o1 = o(p1(0), p1(1), p2(0), p2(1), q1(0), q1(1))
                val o2 = o(p1(0), p1(1), p2(0), p2(1), q2(0), q2(1))
                val o3 = o(q1(0), q1(1), q2(0), q2(1), p1(0), p1(1))
                val o4 = o(q1(0), q1(1), q2(0), q2(1), p2(0), p2(1))
                if (o1 * o2 < 0 && o3 * o4 < 0) { // P6
                  val c4 = Array.tabulate(d)(i =>
                    (p1(i) + p2(i) + q1(i) + q2(i)) / 4.0)
                  for ((v, pt) <- Seq((qs, p1), (qd, p2), (rsrc, q1), (rdst, q2))) {
                    var d2 = 0.0; var i = 0
                    while (i < d) { val df = pt(i) - c4(i); d2 += df * df; i += 1 }
                    val dist = math.sqrt(d2) + 1e-6
                    i = 0
                    while (i < d) {
                      force(v)(i) += (pt(i) - c4(i)) * cfg.kInter / (dist * dist)
                      i += 1
                    }
                  }
                }
              }
            }
          }
          si += 1
        }
      }
      // move + A4 center-and-scale (ddof=1, same eps)
      val sums = new Array[Double](d); val sqs = new Array[Double](d)
      vi = 0
      while (vi < n) {
        val p = pos(vi); val f = force(vi)
        var i = 0
        while (i < d) {
          p(i) += f(i); sums(i) += p(i); sqs(i) += p(i) * p(i); i += 1
        }
        vi += 1
      }
      var i = 0
      while (i < d) {
        val mean = sums(i) / n
        val variance =
          if (n > 1) math.max(0.0, (sqs(i) - n * mean * mean) / (n - 1)) else 0.0
        val scale = math.sqrt(variance) + 1e-6
        vi = 0
        while (vi < n) { pos(vi)(i) = (pos(vi)(i) - mean) / scale; vi += 1 }
        i += 1
      }
      it += 1
    }
    import spark.implicits._
    ids.zip(pos).toSeq.toDF("id", "pos")
  }

  /** Exact kNN of the driver loop over the flat midpoints `mid` (row j
    * at j*d): for each query index, the (up to) k references j with
    * eids(j) != eids(query) that come first in (d2, eid, index) order,
    * listed in that order. That is the (d2, rid) order of the
    * distributed kNN; the index only decides between duplicate edges,
    * whose forces are identical. */
  private[graft] def knnCells(mid: Array[Double], d: Int, eids: Array[Long],
                              queries: Array[Int], k: Int): Array[Array[Int]] = {
    if (k <= 0 || eids.isEmpty) return queries.map(_ => Array.emptyIntArray)
    val grid = new CellGrid(mid, d, eids)
    val out = new Array[Array[Int]](queries.length)
    java.util.stream.IntStream.range(0, queries.length).parallel()
      .forEach(qi => out(qi) = grid.knn(mid, queries(qi) * d, eids(queries(qi)), k))
    out
  }

  /** (d2, eid, index) order of [[CellGrid]]. */
  private def before(d2: Double, e: Long, j: Int, d2b: Double, eb: Long, jb: Int): Boolean =
    d2 < d2b || (d2 == d2b && (e < eb || (e == eb && j < jb)))

  /** The exact kNN kernel of both layout routes: a cell grid over m > 0
    * reference midpoints (row j of `mid` at j*d) that answers queries
    * at any coordinates.
    *
    * Each dimension is cut into g slabs at the quantiles of a strided
    * sample of its coordinates (g^d ≈ m/2 cells, so a packed cloud still
    * spreads over them), and the midpoints are counting-sorted by cell.
    * A query's slab in each dimension is the number of cuts at or below
    * its coordinate, found by binary search; it scans rings of cells
    * outward from its own. The ring bound comes from the actual
    * coordinate extents: a reference in a slab below (above) the scanned
    * box has a coordinate no larger (smaller) than the largest (smallest)
    * one in those slabs, and the slab of a coordinate is monotone in it,
    * so the bound holds in floating point with no slack, for a query
    * inside or outside the references' extent alike. The scan stops once
    * the bound exceeds the current k-th d2; on a tie it goes on, since a
    * point at equal d2 may have a smaller eid. */
  private[graft] final class CellGrid(mid: Array[Double], d: Int, eids: Array[Long]) {
    private val m = eids.length
    private val g = math.max(1, math.pow(m / 2.0, 1.0 / d).toInt)
    private val stride = Array.iterate(1, d)(_ * g)
    // cuts(i*(g-1) + t): the t-th cut of dimension i, ascending
    private val cuts = new Array[Double](d * (g - 1))
    // maxBelow(i*(g+1) + t): largest coordinate of dimension i in slabs
    // < t; minFrom(i*(g+1) + t): smallest in slabs >= t
    private val maxBelow = new Array[Double](d * (g + 1))
    private val minFrom = new Array[Double](d * (g + 1))
    // cell-sorted midpoints: start(c) until start(c+1) are cell c's rows
    // of cm (coordinates), ce (eids) and order (original index)
    private val start = new Array[Int](stride(d - 1) * g + 1)
    private val order = new Array[Int](m)
    private val cm = new Array[Double](m * d)
    private val ce = new Array[Long](m)

    build()

    /** Slab of coordinate x in dimension i: the number of its cuts <= x,
      * so monotone in x. */
    private def slab(i: Int, x: Double): Int = {
      val b = i * (g - 1)
      var lo = 0; var hi = g - 1
      while (lo < hi) { val h = (lo + hi) >>> 1; if (cuts(b + h) <= x) lo = h + 1 else hi = h }
      lo
    }

    // a method, not a block in the constructor: a loop inside an
    // expression cannot be compiled on stack replacement, and the
    // constructor runs too rarely to be compiled whole
    private def build(): Unit = {
      val cellOf = new Array[Int](m)
      // cuts at the quantiles of a strided sample (any sorted cuts keep
      // the search exact; the sample keeps the sort small)
      val step = math.max(1, m / (64 * g))
      val xs = new Array[Double]((m + step - 1) / step)
      var i = 0
      while (i < d) {
        var j = 0
        while (j < xs.length) { xs(j) = mid(j * step * d + i); j += 1 }
        java.util.Arrays.sort(xs)
        var t = 0
        while (t < g - 1) {
          cuts(i * (g - 1) + t) = xs(((t + 1).toLong * xs.length / g).toInt); t += 1
        }
        val b = i * (g + 1)
        java.util.Arrays.fill(maxBelow, b, b + g + 1, Double.NegativeInfinity)
        java.util.Arrays.fill(minFrom, b, b + g + 1, Double.PositiveInfinity)
        j = 0
        while (j < m) {
          val x = mid(j * d + i)
          val lo = slab(i, x)
          cellOf(j) += lo * stride(i)
          // math.max/min keep a NaN, which disables the early stop
          maxBelow(b + lo + 1) = math.max(maxBelow(b + lo + 1), x)
          minFrom(b + lo) = math.min(minFrom(b + lo), x)
          j += 1
        }
        t = 0
        while (t < g) { maxBelow(b + t + 1) = math.max(maxBelow(b + t + 1), maxBelow(b + t)); t += 1 }
        t = g - 1
        while (t >= 0) { minFrom(b + t) = math.min(minFrom(b + t), minFrom(b + t + 1)); t -= 1 }
        i += 1
      }
      var j = 0
      while (j < m) { start(cellOf(j) + 1) += 1; j += 1 }
      var c = 0
      while (c < start.length - 1) { start(c + 1) += start(c); c += 1 }
      val fill = start.clone()
      j = 0
      while (j < m) {
        val p = fill(cellOf(j))
        fill(cellOf(j)) += 1
        order(p) = j; ce(p) = eids(j)
        var i = 0
        while (i < d) { cm(p * d + i) = mid(j * d + i); i += 1 }
        j += 1
      }
    }

    /** Up to k references with an eid other than `qe` nearest to the
      * query at q(qb) until q(qb+d), as indices in (d2, eid, index)
      * order. */
    def knn(q: Array[Double], qb: Int, qe: Long, k: Int): Array[Int] = {
      val qs = new Array[Int](d)
      var qcell = 0
      var l0 = 0
      while (l0 < d) { qs(l0) = slab(l0, q(qb + l0)); qcell += qs(l0) * stride(l0); l0 += 1 }
      // best-k buffer; `worst` is its last slot in order once full.
      // A d2 of Double.MaxValue or more (or NaN) is never admitted.
      val bd = new Array[Double](k); val be = new Array[Long](k); val bj = new Array[Int](k)
      var size = 0
      var worst = 0
      var cells = new Array[Int](32)
      val lo = new Array[Int](d); val hi = new Array[Int](d); val cur = new Array[Int](d)
      var r = 0
      var done = false
      while (!done) {
        // the cells of ring r: those whose first dimension at offset ±r is f
        var nc = 0
        if (r == 0) { cells(0) = qcell; nc = 1 }
        else {
          var f = 0
          while (f < d) {
            var sgn = -1
            while (sgn <= 1) {
              val cf = qs(f) + sgn * r
              if (cf >= 0 && cf < g) {
                var l = 0
                while (l < d) {
                  if (l == f) { lo(l) = cf; hi(l) = cf }
                  else {
                    val reach = if (l < f) r - 1 else r
                    lo(l) = math.max(0, qs(l) - reach)
                    hi(l) = math.min(g - 1, qs(l) + reach)
                  }
                  cur(l) = lo(l)
                  l += 1
                }
                var more = true
                while (more) {
                  var cell = 0
                  l = 0
                  while (l < d) { cell += cur(l) * stride(l); l += 1 }
                  if (nc == cells.length) cells = java.util.Arrays.copyOf(cells, 2 * nc)
                  cells(nc) = cell; nc += 1
                  more = false
                  l = 0
                  while (l < d && !more) {
                    if (cur(l) < hi(l)) { cur(l) += 1; more = true }
                    else { cur(l) = lo(l); l += 1 }
                  }
                }
              }
              sgn += 2
            }
            f += 1
          }
        }
        var ci = 0
        while (ci < nc) {
          var p = start(cells(ci))
          val end = start(cells(ci) + 1)
          while (p < end) {
            val e = ce(p)
            if (e != qe) {
              var d2 = 0.0
              var i = 0
              while (i < d) { val df = q(qb + i) - cm(p * d + i); d2 += df * df; i += 1 }
              if (d2 < Double.MaxValue && (size < k || (d2 <= bd(worst) &&
                  before(d2, e, order(p), bd(worst), be(worst), bj(worst))))) {
                val s = if (size < k) { size += 1; size - 1 } else worst
                bd(s) = d2; be(s) = e; bj(s) = order(p)
                if (size == k) {
                  worst = 0
                  var t = 1
                  while (t < k) {
                    if (before(bd(worst), be(worst), bj(worst), bd(t), be(t), bj(t))) worst = t
                    t += 1
                  }
                }
              }
            }
            p += 1
          }
          ci += 1
        }
        // lower bound on d2 of every midpoint outside the scanned box
        var bound = Double.PositiveInfinity
        var covered = true
        var i = 0
        while (i < d) {
          val x = q(qb + i)
          val below = qs(i) - r
          val above = qs(i) + r + 1
          if (below > 0) {
            covered = false
            val gap = x - maxBelow(i * (g + 1) + below)
            bound = math.min(bound, gap * gap)
          }
          if (above < g) {
            covered = false
            val gap = minFrom(i * (g + 1) + above) - x
            bound = math.min(bound, gap * gap)
          }
          i += 1
        }
        done = covered || (size == k && bound > bd(worst))
        r += 1
      }
      // insertion sort of the admitted slots into (d2, eid, index) order
      val slot = Array.range(0, size)
      var a = 1
      while (a < size) {
        val s = slot(a)
        var b = a - 1
        while (b >= 0 && before(bd(s), be(s), bj(s), bd(slot(b)), be(slot(b)), bj(slot(b)))) {
          slot(b + 1) = slot(b); b -= 1
        }
        slot(b + 1) = s
        a += 1
      }
      var a2 = 0
      while (a2 < size) { slot(a2) = bj(slot(a2)); a2 += 1 }
      slot
    }
  }

  private def runLoop(spark: SparkSession, e: DataFrame, initial: DataFrame,
                      cfg: LayoutConfig, m: Long): DataFrame = {
    // Per iteration: ONE full execution (materializing the moved
    // positions), then normalization stats + projection read the cache.
    var (pos, handle) = graft.util.Iterate.checkpoint(spark,
      initial.coalesce(graft.util.Iterate.sizedPartitions(spark, 0L)))
    val n = pos.count()
    val d = cfg.nComponents
    var it = 0
    while (it < cfg.numIterations) {
      // ONE job per iteration: the A4 stats aggregate IS the
      // materializing action of the checkpoint (the force pipeline
      // executes inside it; the persisted rows back the next step).
      // Partials are combined in PARTITION ORDER on the driver —
      // treeAggregate's completion-order combine makes float sums
      // run-dependent and breaks bit-reproducibility of the layout.
      val (moved, mh, partialsRaw) = graft.util.Iterate.checkpointWith(
        spark, step(e, pos, cfg, it, m, n)) { rdd =>
        rdd.mapPartitionsWithIndex { (idx, rows) =>
          val s = new Array[Double](d); val q = new Array[Double](d); var c = 0L
          rows.foreach { row =>
            val p = row.getSeq[Double](1)
            var i = 0
            while (i < d) { s(i) += p(i); q(i) += p(i) * p(i); i += 1 }
            c += 1
          }
          Iterator((idx, (s, q, c)))
        }.collect()
      }
      handle.unpersist(blocking = false)
      val partials = partialsRaw.sortBy(_._1).map(_._2)
      val sums = new Array[Double](d); val sqs = new Array[Double](d); var cnt = 0L
      partials.foreach { case (s, q, c) =>
        var i = 0
        while (i < d) { sums(i) += s(i); sqs(i) += q(i); i += 1 }
        cnt += c
      }
      val comps = (0 until d).map { i =>
        val mean = sums(i) / cnt
        // sample std (ddof=1) to match torch.std (embedder_pytorch.py:803)
        val variance = if (cnt > 1) math.max(0.0, (sqs(i) - cnt * mean * mean) / (cnt - 1)) else 0.0
        (element_at(col("pos"), i + 1) - lit(mean)) / lit(math.sqrt(variance) + 1e-6)
      }
      pos = moved.select(col("id"), array(comps: _*).as("pos"))
      handle = mh
      it += 1
    }
    e.unpersist()
    pos
  }
}
