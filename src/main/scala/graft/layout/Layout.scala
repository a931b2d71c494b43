package graft.layout

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VecOps
import graft.util.DriverRoute.{foldLong, hashStart, toUniform}
import graft.util.Iterate

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
  * engine core (embedder_pytorch.py:595-833). An iteration's dynamics
  * are written once, as Scala kernels over a [[PartGraph]]: [[spring]]
  * (A2), [[midpoints]], [[sampled]] (W4), the exact kNN [[CellGrid]]
  * (J3) and [[crossings]] (A3 with P4–P6). Two placements run them:
  * [[runLocal]] on one partition graph of the whole graph, on the
  * driver; [[runLoop]] on every edge partition after a gather of the
  * endpoint positions (J1), merging the partitions' kNN candidates on
  * the driver, where the crossing forces are computed. Positions are
  * locally checkpointed each iteration to truncate lineage (the Spark
  * failure mode the reference doesn't have, SURVEY.md §7 risk 2). */
object Layout {

  /** Broadcast the positions table into gathers up to this vertex
    * count; above it, gathers shuffle-join (positions no longer fit an
    * executor). The checkpointed positions leaf reports the default
    * (unbounded) size estimate, so without the explicit hint Catalyst
    * picks sort-merge even for 500 rows. */
  private val BroadcastPosMax = 5000000L

  /** An edge with its endpoints' positions: (eid, src, dst, p1, p2). */
  private[graft] type Gathered = (Long, Long, Long, Array[Double], Array[Double])

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

  /** A partition graph: edge j joins the local vertices src(j) and
    * dst(j) and has id eids(j); pos(v) is vertex v's position. */
  private[graft] final class PartGraph(val src: Array[Int], val dst: Array[Int],
                                       val eids: Array[Long], val pos: Array[Array[Double]])

  /** The partition graph of `rows` and the id of each local vertex;
    * vertices are numbered, and keep their position, in order of first
    * appearance. */
  private[graft] def partGraph(rows: Iterator[Gathered]): (PartGraph, Array[Long]) = {
    val local = new java.util.HashMap[Long, Integer]()
    val ids = Array.newBuilder[Long]; val pos = Array.newBuilder[Array[Double]]
    def vertex(v: Long, p: Array[Double]): Int = {
      val i = local.get(v)
      if (i != null) i.intValue else { local.put(v, local.size); ids += v; pos += p; local.size - 1 }
    }
    val (src, dst, eids) =
      rows.map { case (e, s, t, p1, p2) => (vertex(s, p1), vertex(t, p2), e) }.toArray.unzip3
    (new PartGraph(src, dst, eids, pos.result()), ids.result())
  }

  /** A2 springs (embedder_pytorch.py:595-636), edge by edge in order:
    * each edge's force is added to force(src) and subtracted from
    * force(dst). The reference's magnitude is -k_attr·(dist-L_min) along
    * (p2-p1)/dist to src (embedder_pytorch.py:626-635): edges SHORTER
    * than L_min attract, longer repel — the sign the layout dynamics
    * (and the radius-vs-centrality correlations) depend on. */
  private[graft] def spring(g: PartGraph, cfg: LayoutConfig,
                            force: Array[Array[Double]]): Unit = {
    val d = cfg.nComponents
    val diff = new Array[Double](d)
    var j = 0
    while (j < g.eids.length) {
      val a = g.src(j); val b = g.dst(j)
      var d2 = 0.0
      var i = 0
      while (i < d) { diff(i) = g.pos(b)(i) - g.pos(a)(i); d2 += diff(i) * diff(i); i += 1 }
      val dist = math.sqrt(d2) + 1e-6
      val coef = -cfg.kAttr * (dist - cfg.LMin) / dist
      i = 0
      while (i < d) { val f = diff(i) * coef; force(a)(i) += f; force(b)(i) -= f; i += 1 }
      j += 1
    }
  }

  /** Edge midpoints (embedder_pytorch.py:784-785), edge j's at j*d. */
  private[graft] def midpoints(g: PartGraph, d: Int): Array[Double] =
    Array.tabulate(g.eids.length * d)(x =>
      (g.pos(g.src(x / d))(x % d) + g.pos(g.dst(x / d))(x % d)) / 2.0)

  /** W4 (embedder_pytorch.py:406-413): whether edge `eid` is one of the
    * about sampleSize kNN queries of iteration `it` among m edges. A hash
    * threshold, hashUniform(seed + it, eid) < s/m: exactly reproducible
    * for a (seed, iteration), and no sort. */
  private[graft] def sampled(eid: Long, cfg: LayoutConfig, it: Int, m: Long): Boolean =
    m <= cfg.sampleSize ||
      toUniform(foldLong(hashStart(cfg.seed + it), eid)) < cfg.sampleSize.toDouble / m

  /** A3 (embedder_pytorch.py:638-774): for each query edge qs(a) and
    * each of its neighbours nbrs(a) in order, a pair that passes P4 (the
    * query's eid is the smaller), P5 (no shared vertex) and P6 (a proper
    * crossing in the first two dimensions, o1·o2 < 0 and o3·o4 < 0)
    * pushes its four endpoints away from their centroid by k_inter/d². */
  private[graft] def crossings(g: PartGraph, qs: Array[Int], nbrs: Array[Array[Int]],
                               cfg: LayoutConfig, force: Array[Array[Double]]): Unit = {
    val d = cfg.nComponents
    // sign((b-a) × (c-a)) on the first two coordinates
    def o(a: Array[Double], b: Array[Double], c: Array[Double]): Double =
      math.signum((b(0) - a(0)) * (c(1) - a(1)) - (b(1) - a(1)) * (c(0) - a(0)))
    def push(v: Int, c4: Array[Double]): Unit = {
      val pt = g.pos(v)
      var d2 = 0.0; var i = 0
      while (i < d) { val df = pt(i) - c4(i); d2 += df * df; i += 1 }
      val dist = math.sqrt(d2) + 1e-6
      i = 0
      while (i < d) { force(v)(i) += (pt(i) - c4(i)) * cfg.kInter / (dist * dist); i += 1 }
    }
    for (a <- qs.indices; rj <- nbrs(a)) {
      val qj = qs(a)
      val s1 = g.src(qj); val t1 = g.dst(qj); val s2 = g.src(rj); val t2 = g.dst(rj)
      if (g.eids(qj) < g.eids(rj) && s1 != s2 && s1 != t2 && t1 != s2 && t1 != t2) {
        val p1 = g.pos(s1); val p2 = g.pos(t1); val q1 = g.pos(s2); val q2 = g.pos(t2)
        if (o(p1, p2, q1) * o(p1, p2, q2) < 0 && o(q1, q2, p1) * o(q1, q2, p2) < 0) {
          val c4 = Array.tabulate(d)(i => (p1(i) + p2(i) + q1(i) + q2(i)) / 4.0)
          push(s1, c4); push(t1, c4); push(s2, c4); push(t2, c4)
        }
      }
    }
  }

  /** A4 (embedder_pytorch.py:800-804): per dimension, the mean and the
    * scale (sample std, ddof=1 as torch.std, plus 1e-6) of n positions
    * with coordinate sums `sums` and sums of squares `sqs`. */
  private def meanScale(sums: Array[Double], sqs: Array[Double],
                        n: Long): (Array[Double], Array[Double]) = {
    val mean = sums.map(_ / n)
    (mean, Array.tabulate(sums.length) { i =>
      val variance =
        if (n > 1) math.max(0.0, (sqs(i) - n * mean(i) * mean(i)) / (n - 1)) else 0.0
      math.sqrt(variance) + 1e-6
    })
  }

  /** L3 driver loop (run_layout, embedder_pytorch.py:808-833).
    * Routes to [[runLocal]] up to `DriverRoute.LoopEdges` edges for
    * every config (long/long edge schema only — eids must hash
    * identically in both placements); to [[runLoop]] above. The two
    * placements run the same kernels and differ only in the order the
    * springs and the A4 statistics are summed in. */
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
    val eSized = e.coalesce(Iterate.sizedPartitions(spark, m))
    Iterate.withSizedShuffle(spark, m) {
      runLoop(spark, eSized, initial, cfg, m)
    }
  }

  /** The driver placement: the kernels on one partition graph of the
    * collected arrays. The edges come sorted from the probe, so the
    * springs sum in (src, dst) order whatever the partitioning of the
    * collect; the crossing forces follow, by query, then neighbour in
    * (d2, eid, index) order from [[knnCells]]. The reference runs this
    * entire regime single-node (NumPy/PyTorch); routing small graphs to
    * the driver is the Spark-honest version of that. */
  private def runLocal(spark: SparkSession, eArrAll: Array[(Long, Long)],
                       initial: DataFrame, cfg: LayoutConfig): DataFrame = {
    val d = cfg.nComponents
    val init = initial.select(col("id"), col("pos")).collect()
    val n = init.length
    val ids = init.map(_.getLong(0))
    val idIdx = new java.util.HashMap[Long, Int](n * 2)
    ids.indices.foreach(v => idIdx.put(ids(v), v))
    // Edges with an endpoint absent from `initial` are DROPPED, exactly
    // like the distributed gather's inner join (a null from idIdx.get
    // would otherwise silently unbox to vertex 0). The sampling
    // denominator stays the FULL edge count, matching the distributed
    // loop, which counts edges before the gather.
    val eArr = eArrAll.filter { case (s, t) => idIdx.containsKey(s) && idIdx.containsKey(t) }
    val g = new PartGraph(eArr.map(e => idIdx.get(e._1)), eArr.map(e => idIdx.get(e._2)),
      eArr.map { case (s, t) => foldLong(foldLong(42L, s), t) }, // withEdgeIds' xxhash64
      init.map(_.getSeq[Double](1).toArray))
    val pos = g.pos
    for (it <- 0 until cfg.numIterations) {
      val force = Array.fill(n)(new Array[Double](d))
      spring(g, cfg, force)
      if (cfg.kInter != 0.0) {
        val qs = g.eids.indices.toArray.filter(j => sampled(g.eids(j), cfg, it, eArrAll.length))
        crossings(g, qs, knnCells(midpoints(g, d), d, g.eids, qs, cfg.nNeighbors), cfg, force)
      }
      // move + A4 center-and-scale
      val sums = new Array[Double](d); val sqs = new Array[Double](d)
      for (v <- 0 until n; i <- 0 until d) {
        val p = pos(v); p(i) += force(v)(i); sums(i) += p(i); sqs(i) += p(i) * p(i)
      }
      val (mean, scale) = meanScale(sums, sqs, n)
      for (v <- 0 until n; i <- 0 until d) pos(v)(i) = (pos(v)(i) - mean(i)) / scale(i)
    }
    import spark.implicits._
    ids.zip(pos).toSeq.toDF("id", "pos")
  }

  /** Exact kNN of the driver placement over the flat midpoints `mid` (row j
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

  /** The exact kNN kernel of both layout placements: a cell grid over m > 0
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
      Array.range(0, size)
        .sortWith((x, y) => before(bd(x), be(x), bj(x), bd(y), be(y), bj(y))).map(bj)
    }
  }

  /** The distributed placement: per iteration the position broadcast,
    * the kNN candidates' job ([[step]]) and the move. The move's action
    * also returns the A4 statistics per partition, combined in PARTITION
    * ORDER on the driver (treeAggregate's completion-order combine would
    * make the float sums run-dependent), and the moved positions of the
    * next iteration's query endpoints, so the queries take no job: the
    * W4 samples of every iteration come from one pass before the loop. */
  private def runLoop(spark: SparkSession, e: DataFrame, initial: DataFrame,
                      cfg: LayoutConfig, m: Long): DataFrame = {
    import spark.implicits._
    val d = cfg.nComponents
    // queries(it): iteration it's sampled (eid, src, dst), in (src, dst) order
    val queries = {
      val rows = if (cfg.kInter == 0.0) Array.empty[(Int, Long, Long, Long)]
        else e.select("eid", "src", "dst").as[(Long, Long, Long)].flatMap { case (eid, s, t) =>
          (0 until cfg.numIterations).filter(sampled(eid, cfg, _, m)).map((_, eid, s, t))
        }.collect()
      Array.tabulate(cfg.numIterations)(it =>
        rows.filter(_._1 == it).map(r => (r._2, r._3, r._4)).sortBy(r => (r._2, r._3)))
    }
    def endpoints(it: Int): Set[Long] =
      if (it < cfg.numIterations) queries(it).flatMap(q => Seq(q._2, q._3)).toSet else Set.empty
    // coordinate sums, sums of squares, count, and the rows of `want`
    def scan(rdd: RDD[Row], want: Set[Long]) = {
      val parts = rdd.mapPartitionsWithIndex { (idx, rows) =>
        val s = new Array[Double](d); val q = new Array[Double](d); var c = 0L
        val got = Array.newBuilder[(Long, Array[Double])]
        rows.foreach { row =>
          val p = row.getSeq[Double](1)
          for (i <- 0 until d) { s(i) += p(i); q(i) += p(i) * p(i) }
          c += 1
          val id = row.getAs[Number](0).longValue // int or long vertex ids
          if (want(id)) got += ((id, p.toArray))
        }
        Iterator((idx, (s, q, c, got.result())))
      }.collect().sortBy(_._1).map(_._2)
      val sums = new Array[Double](d); val sqs = new Array[Double](d)
      for ((s, q, _, _) <- parts; i <- 0 until d) { sums(i) += s(i); sqs(i) += q(i) }
      (sums, sqs, parts.map(_._3).sum, parts.flatMap(_._4))
    }
    var (pos, handle, (_, _, n, at)) = Iterate.checkpointWith(spark,
      initial.coalesce(Iterate.sizedPartitions(spark, 0L)))(scan(_, endpoints(0)))
    for (it <- 0 until cfg.numIterations) {
      val atPos = at.toMap
      val qs = queries(it).flatMap { case (eid, s, t) =>
        for (pa <- atPos.get(s); pb <- atPos.get(t)) yield (eid, s, t, pa, pb) }
      val (moved, mh, (sums, sqs, cnt, got)) = Iterate.checkpointWith(spark,
        step(e, pos, cfg, qs, n <= BroadcastPosMax))(scan(_, endpoints(it + 1)))
      handle.unpersist(blocking = false)
      val (mean, scale) = meanScale(sums, sqs, cnt)
      // the projection's arithmetic, so the queries see the positions' bits
      at = got.map { case (id, p) => (id, Array.tabulate(d)(i => (p(i) - mean(i)) / scale(i))) }
      pos = moved.select(col("id"), array((0 until d).map(i =>
        (element_at(col("pos"), i + 1) - lit(mean(i))) / lit(scale(i))): _*).as("pos"))
      handle = mh
    }
    e.unpersist()
    pos
  }

  /** One distributed iteration (update_positions,
    * embedder_pytorch.py:776-806): the moved, unnormalized positions.
    * `queries` are the iteration's sampled edges with their endpoints'
    * positions, in (src, dst) order; their crossing forces are computed
    * here, in the kNN candidates' job. The edge partitions' springs and
    * those forces are summed per vertex in one scatter-add, joined onto
    * the positions without a broadcast hint (a broadcast build would be
    * one more job, and at cluster scale the forces are ~n rows). */
  private[graft] def step(e: DataFrame, pos: DataFrame, cfg: LayoutConfig,
                          queries: Array[Gathered], bcast: Boolean): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val d = cfg.nComponents
    val g = gather(e, pos, bcast).select("eid", "src", "dst", "p1", "p2").as[Gathered].rdd
    val cross = if (queries.isEmpty) Seq.empty else crossingForces(g, queries, cfg).toSeq
    val springs = g.mapPartitions { rows =>
      val (pg, ids) = partGraph(rows)
      val force = Array.fill(ids.length)(new Array[Double](d))
      spring(pg, cfg, force)
      ids.iterator.zip(force.iterator)
    }
    val forces = VecOps.sumVecBy(
      springs.union(spark.sparkContext.parallelize(cross, 1)).toDF("id", "f"), "id", d, "f")
    pos.join(forces, Seq("id"), "left")
      .select(col("id"),
        when(col("f").isNull, col("pos"))
          .otherwise(VecOps.add(col("pos"), col("f"))).as("pos"))
  }

  /** A3 in the distributed placement: [[crossings]] of the query edges
    * against their [[knnPartitions]] neighbours, on the driver, over one
    * partition graph of the queries followed by their neighbours:
    * (vertex id, force) for every vertex pushed. */
  private def crossingForces(g: RDD[Gathered], queries: Array[Gathered],
                             cfg: LayoutConfig): Array[(Long, Array[Double])] = {
    val d = cfg.nComponents
    val nbrs = knnPartitions(g, midpoints(partGraph(queries.iterator)._1, d),
      queries.map(_._1), cfg.nNeighbors, d)
    val (pg, ids) = partGraph(queries.iterator ++ nbrs.iterator.flatten.map(_._2))
    val ends = nbrs.scanLeft(queries.length)(_ + _.length)
    val force = Array.fill(ids.length)(new Array[Double](d))
    crossings(pg, queries.indices.toArray,
      nbrs.indices.map(a => Array.range(ends(a), ends(a + 1))).toArray, cfg, force)
    ids.indices.filter(v => force(v).exists(_ != 0.0)).map(v => (ids(v), force(v))).toArray
  }

  /** J3 in the distributed placement: for each query midpoint (row a of
    * qm at a*d, edge id qe(a)) the first k edges of `g` other than qe(a)
    * by midpoint d2, in (d2, rid) order, with their d2. Each partition
    * builds one [[CellGrid]] over its midpoints and lists its first k for
    * every query; the driver keeps the first k of each query's lists. A
    * query's global top-k lies inside the union of the lists, so the
    * result is exact and the same for any partitioning of `g`. */
  private[graft] def knnPartitions(g: RDD[Gathered], qm: Array[Double], qe: Array[Long],
                                   k: Int, d: Int): Array[Array[(Double, Gathered)]] = {
    val bq = g.sparkContext.broadcast((qm, qe))
    val cands = g.mapPartitions { rows =>
      val es = rows.toArray
      if (k <= 0 || es.isEmpty) Iterator.empty
      else {
        val mid = midpoints(partGraph(es.iterator)._1, d)
        val grid = new CellGrid(mid, d, es.map(_._1))
        val (qm, qe) = bq.value
        Iterator.range(0, qe.length).flatMap(a => grid.knn(qm, a * d, qe(a), k).iterator.map { j =>
          (a, (0 until d).foldLeft(0.0) { (s, i) =>
            val df = qm(a * d + i) - mid(j * d + i); s + df * df }, es(j))
        })
      }
    }.collect().groupBy(_._1)
    bq.destroy()
    val order = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
    Array.tabulate(qe.length)(a => cands.getOrElse(a, Array.empty)
      .map(c => (c._2, c._3)).sortBy(c => (c._1, c._2._1))(order).take(k))
  }
}
