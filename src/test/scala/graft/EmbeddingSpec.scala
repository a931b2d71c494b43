package graft

import org.apache.spark.sql.functions._
import graft.gen.Generators
import graft.linalg.EigenInit
import graft.layout.{Layout, LayoutConfig}
import graft.influence.Influence
import graft.api.GraphEm
import graft.functions.VecOps
import graft.model.GraphOps

/** Embedder/layout/influence invariants mirroring the reference's
  * test battery (tests/test_pytorch_backend.py, test_integration.py,
  * test_influence.py): shapes, finiteness, reproducibility, spectral
  * properties, IC bounds and replayability. */
class EmbeddingSpec extends SparkSpec {

  private def finite(df: org.apache.spark.sql.DataFrame): Boolean =
    df.filter(exists(col("pos"), x => x.isNaN || x === Double.PositiveInfinity ||
      x === Double.NegativeInfinity)).isEmpty

  test("eigen init: shape (n, k), finite, deterministic") {
    val g = Generators.roadNetwork(spark, 3, 3)
    val p1 = EigenInit.init(spark, g, 9, 2, seed = 1)
    assert(p1.count() == 9)
    assert(p1.filter(size(col("pos")) =!= 2).isEmpty)
    assert(finite(p1))
    val p2 = EigenInit.init(spark, g, 9, 2, seed = 1)
    assert(p1.exceptAll(p2).isEmpty)
  }

  test("eigen init: Fiedler vector of a path has exactly one sign change") {
    // path 0-1-2-...-7 = balanced tree with r=1. The normalized-Laplacian
    // Fiedler vector is NOT monotone along the path (the D^{1/2} weighting
    // shrinks the endpoints), but its nodal-domain property — a single
    // sign change — is exact.
    val path = Generators.balancedTree(spark, 1, 7)
    val pos = EigenInit.init(spark, path, 8, 1, seed = 2)
    val fiedler = pos.orderBy("id").collect()
      .map(_.getSeq[Double](1).head)
    val changes = fiedler.sliding(2).count { case Array(a, b) => a.sign != b.sign }
    assert(changes == 1, s"expected 1 sign change: ${fiedler.mkString(",")}")
  }

  test("eigen init: components of one eigenvector are orthogonal-ish and unit-ish") {
    val g = Generators.roadNetwork(spark, 4, 4)
    val pos = EigenInit.init(spark, g, 16, 3, seed = 3)
    val dots = pos.agg(
      sum(element_at(col("pos"), 1) * element_at(col("pos"), 2)).as("d12"),
      sum(element_at(col("pos"), 1) * element_at(col("pos"), 1)).as("d11")).collect()(0)
    assert(math.abs(dots.getDouble(0)) < 1e-6)
    assert(math.abs(dots.getDouble(1) - 1.0) < 1e-6)
  }

  test("distributed eigen path agrees with the driver path up to rotation") {
    // the distributed backend against the driver one, on
    // rotation-invariant row norms of the 2-dim embedding subspace.
    val g = Generators.roadNetwork(spark, 4, 4)
    val (drv, dist) = bothRoutes(EigenInit.init(spark, g, 16, 2, seed = 9))
    assert(dist.count() == 16)
    assert(finite(dist))
    val n1 = drv.select(col("id"), VecOps.norm(col("pos")).as("r")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val n2 = dist.select(col("id"), VecOps.norm(col("pos")).as("r")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // the distributed path runs a fixed 30 subspace iterations (each
    // matvec is a shuffle); ~1-2% residual vs the driver path's deeper
    // convergence is expected and harmless — the layout refines it.
    val maxDiff = n1.keys.map(k => math.abs(n1(k) - n2(k))).max
    assert(maxDiff < 0.05, s"subspace mismatch: max radius diff $maxDiff")
  }

  test("random fallback positions: shape and determinism") {
    val p1 = EigenInit.randomPositions(spark, 20, 3, 7)
    assert(p1.count() == 20)
    assert(finite(p1))
    assert(p1.exceptAll(EigenInit.randomPositions(spark, 20, 3, 7)).isEmpty)
  }

  test("spring force sign matches the reference: repel stretched, attract compressed") {
    // reference magnitude is -k_attr·(dist-L_min) along (p2-p1)/dist to
    // src (embedder_pytorch.py:626-635): dist>L_min pushes apart,
    // dist<L_min pulls together. Pin both directions numerically.
    val cfg = LayoutConfig(nComponents = 3, LMin = 10.0, kAttr = 0.5, kInter = 0.0)
    def forces(x: Double): Array[Array[Double]] = {
      val g = new Layout.PartGraph(Array(0), Array(1), Array(edgeEid(0L, 1L)),
        Array(Array(0.0, 0.0, 0.0), Array(x, 0.0, 0.0)))
      val f = Array.fill(2)(new Array[Double](3))
      Layout.spring(g, cfg, f)
      f
    }
    val fFar = forces(20.0)
    // coef = -0.5·(20-10)/20 = -0.25 → f(src) = (-5,0,0): away from dst
    assert(math.abs(fFar(0)(0) + 5.0) < 1e-3, s"src force ${fFar(0).toSeq}")
    assert(math.abs(fFar(1)(0) - 5.0) < 1e-3, s"dst force ${fFar(1).toSeq}")
    val fNear = forces(4.0)
    // coef = -0.5·(4-10)/4 = +0.75 → f(src) = (3,0,0): toward dst
    assert(math.abs(fNear(0)(0) - 3.0) < 1e-3, s"src force ${fNear(0).toSeq}")
    assert(math.abs(fNear(1)(0) + 3.0) < 1e-3, s"dst force ${fNear(1).toSeq}")
    assert(Seq(fFar, fNear).forall(_.forall(f => f(1) == 0.0 && f(2) == 0.0)))
  }

  test("crossing predicate: only a proper crossing with the smaller query eid pushes") {
    // two edges in 2-d, query edge 0 against neighbour edge 1: P4 (query
    // eid < neighbour eid), P5 (no shared vertex), P6 (proper crossing of
    // the first two dimensions); a pair that fails any of them adds nothing
    val cfg = LayoutConfig(nComponents = 2, kInter = 0.1)
    def push(src: Array[Int], dst: Array[Int], pts: Seq[(Double, Double)],
             eids: Array[Long] = Array(1L, 2L)): Array[Array[Double]] = {
      val g = new Layout.PartGraph(src, dst, eids, pts.map(p => Array(p._1, p._2)).toArray)
      val f = Array.fill(pts.length)(new Array[Double](2))
      Layout.crossings(g, Array(0), Array(Array(1)), cfg, f)
      f
    }
    val x = Seq((0.0, 0.0), (2.0, 2.0), (0.0, 2.0), (2.0, 0.0))
    val crossed = push(Array(0, 2), Array(1, 3), x)
    // centroid (1,1); each endpoint at distance √2 is pushed by
    // (pt - c)·k_inter/d² = ±0.05 per coordinate, away from the centroid
    for ((v, (px, py)) <- x.indices.zip(x)) {
      assert(math.abs(crossed(v)(0) - (px - 1) * 0.05) < 1e-6, s"vertex $v ${crossed(v).toSeq}")
      assert(math.abs(crossed(v)(1) - (py - 1) * 0.05) < 1e-6, s"vertex $v ${crossed(v).toSeq}")
    }
    val none = Seq(
      "P4: the query's eid is the larger" -> push(Array(0, 2), Array(1, 3), x, Array(2L, 1L)),
      "P5: a shared endpoint" -> push(Array(0, 0), Array(1, 2), Seq((0.0, 0.0), (2.0, 2.0), (2.0, 0.0))),
      "an endpoint touching the other edge" ->
        push(Array(0, 2), Array(1, 3), Seq((0.0, 0.0), (2.0, 0.0), (1.0, 0.0), (1.0, 2.0))),
      "collinear overlap" ->
        push(Array(0, 2), Array(1, 3), Seq((0.0, 0.0), (2.0, 0.0), (1.0, 0.0), (3.0, 0.0))),
      "parallel segments" ->
        push(Array(0, 2), Array(1, 3), Seq((0.0, 0.0), (2.0, 0.0), (0.0, 1.0), (2.0, 1.0))))
    for ((why, f) <- none) assert(f.forall(_.forall(_ == 0.0)), s"$why pushed")
  }

  test("layout: positions move, stay finite and normalized") {
    val g = Generators.roadNetwork(spark, 5, 5)
    val cfg = LayoutConfig(nComponents = 2, LMin = 1.0, numIterations = 5,
      sampleSize = 64, nNeighbors = 5, seed = 4)
    val init = EigenInit.init(spark, g, 25, 2, seed = 4)
    val out = Layout.run(spark, g, init, cfg)
    assert(out.count() == 25)
    assert(finite(out))
    // A4 normalization: per-dim mean ~0, sample std ~1
    val st = out.agg(
      avg(element_at(col("pos"), 1)).as("m"),
      stddev_samp(element_at(col("pos"), 1)).as("s")).collect()(0)
    assert(math.abs(st.getDouble(0)) < 1e-6)
    assert(math.abs(st.getDouble(1) - 1.0) < 0.01)
    // moved from init
    assert(out.exceptAll(init).count() > 0)
  }

  test("layout: reproducible for same seed") {
    val g = Generators.roadNetwork(spark, 4, 4)
    val cfg = LayoutConfig(nComponents = 2, LMin = 1.0, numIterations = 3,
      sampleSize = 32, nNeighbors = 4, seed = 5)
    val a = Layout.run(spark, g, EigenInit.init(spark, g, 16, 2, seed = 5), cfg)
    val b = Layout.run(spark, g, EigenInit.init(spark, g, 16, 2, seed = 5), cfg)
    assert(a.exceptAll(b).isEmpty)
  }

  test("layout driver route matches the distributed route to float tolerance") {
    // The same kernels in both placements; only the springs and the A4
    // statistics sum in a different order, so the routes differ by a few
    // ulps (4.4e-16 measured over 3 iterations). Any semantic divergence
    // (sampling, kNN tie-breaks, intersection predicate, ddof) would
    // blow through 1e-14.
    val g = Generators.roadNetwork(spark, 5, 5)
    val cfg = LayoutConfig(nComponents = 2, LMin = 1.0, numIterations = 3,
      sampleSize = 16, nNeighbors = 5, seed = 7)
    val init = EigenInit.init(spark, g, 25, 2, seed = 7)
    val (local, dist) = bothRoutes(Layout.run(spark, g, init, cfg))
    val joined = local.select(col("id"), col("pos").as("pl"))
      .join(dist.select(col("id"), col("pos").as("pd")), "id")
    assert(joined.count() == 25)
    val maxDiff = joined.select(max(greatest(
      abs(element_at(col("pl"), 1) - element_at(col("pd"), 1)),
      abs(element_at(col("pl"), 2) - element_at(col("pd"), 2)))))
      .collect()(0).getDouble(0)
    assert(maxDiff < 1e-14, s"route divergence $maxDiff")
  }

  /** `pairs` under `pos` as gathered edge rows in `parts` partitions,
    * with their flat midpoints and eids. */
  private def gathered(pairs: Array[(Long, Long)], pos: Map[Long, Seq[Double]], d: Int,
                       parts: Int) = {
    val rows: Seq[Layout.Gathered] = pairs.toSeq.map { case (s, t) =>
      (edgeEid(s, t), s, t, pos(s).toArray, pos(t).toArray) }
    val (mid, eids) = midsOf(pairs, pos, d)
    (spark.sparkContext.parallelize(rows, parts), mid, eids)
  }

  /** The kNN of every midpoint against `rdd`: per query, (d2, rid, rsrc,
    * rdst) in merge order. */
  private def mergedKnn(rdd: org.apache.spark.rdd.RDD[Layout.Gathered], mid: Array[Double],
                        eids: Array[Long], k: Int, d: Int): Seq[Seq[(Double, Long, Long, Long)]] =
    Layout.knnPartitions(rdd, mid, eids, k, d).toSeq
      .map(_.toSeq.map { case (d2, r) => (d2, r._1, r._2, r._3) })

  private def positions(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Double]] =
    df.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap

  test("knn exact: k neighbors per query, no self-match") {
    val g = Generators.roadNetwork(spark, 4, 4)
    val pairs = g.collect().map(r => (r.getLong(0), r.getLong(1)))
    val (rdd, mid, eids) = gathered(pairs, positions(EigenInit.init(spark, g, 16, 2, seed = 6)), 2, 3)
    val knn = mergedKnn(rdd, mid, eids, 3, 2)
    assert(knn.length == pairs.length && knn.forall(_.length == 3))
    assert(knn.indices.forall(q => knn(q).forall(_._2 != eids(q))))
  }

  test("knn exact: refs in 1, 3 and 7 partitions give identical rows, equal to the brute scan") {
    // a 6x6 grid graph at integer coordinates: most midpoints tie in d2
    // with others, so the rid tie-break decides which ones are kept
    val pairs = Generators.roadNetwork(spark, 6, 6).collect().map(r => (r.getLong(0), r.getLong(1)))
    val pos = (0L until 36L).map(v => v -> Seq((v % 6).toDouble, (v / 6).toDouble)).toMap
    val (_, mid, eids) = gathered(pairs, pos, 2, 1)
    val want = eids.indices.map { q =>
      bruteKnn(mid, 2, eids, mid, q * 2, eids(q), 4).map { r =>
        val d2 = (0 until 2).map(i => (mid(q * 2 + i) - mid(r * 2 + i)) * (mid(q * 2 + i) - mid(r * 2 + i))).sum
        (d2, eids(r), pairs(r)._1, pairs(r)._2)
      }
    }
    for (parts <- Seq(1, 3, 7))
      assert(mergedKnn(gathered(pairs, pos, 2, parts)._1, mid, eids, 4, 2) == want,
        s"$parts partitions differ from the brute scan")
  }

  test("knn exact: more queries than refs per partition, some under k: same rows") {
    val g = Generators.roadNetwork(spark, 5, 5)
    val pairs = g.collect().map(r => (r.getLong(0), r.getLong(1)))
    val pos = positions(EigenInit.init(spark, g, 25, 2, seed = 6))
    // all m midpoints queried against 16 partitions of refs: the query
    // side outnumbers every partition's refs, some hold fewer than k, so
    // each query's k rows come from the merge of several partitions' lists
    val (whole, mid, eids) = gathered(pairs, pos, 2, 1)
    val one = mergedKnn(whole, mid, eids, 4, 2)
    assert(one.forall(_.length == 4))
    assert(mergedKnn(gathered(pairs, pos, 2, 16)._1, mid, eids, 4, 2) == one)
  }

  test("independent cascade: p=1 floods the component, p=0 stays at seeds") {
    val path = Generators.balancedTree(spark, 1, 4) // path of 5 nodes
    import spark.implicits._
    val seeds = Seq(0L).toDF("id")
    assert(Influence.estimatedInfluence(spark, path, seeds, 1.0) == 5)
    assert(Influence.estimatedInfluence(spark, path, seeds, 0.0) == 1)
    val mid = Influence.estimatedInfluence(spark, path, seeds, 0.6, seed = 3)
    assert(mid >= 1 && mid <= 5)
    // replayable
    assert(mid == Influence.estimatedInfluence(spark, path, seeds, 0.6, seed = 3))
  }

  test("cascade and greedy driver routes equal the distributed routes exactly") {
    import spark.implicits._
    // Integer set algebra + bit-identical hash coins: the routes must
    // agree EXACTLY, not statistically.
    val g = Generators.erdosRenyi(spark, 80, 0.06, 11)
    val seeds = Seq(0L, 3L, 7L).toDF("id")
    val (local, dist) = bothRoutes(Influence.independentCascade(spark, g, seeds, 0.3,
      maxRounds = 30, seed = 11))
    assert(local.count() > 3, "cascade should spread beyond the seeds")
    assert(local.exceptAll(dist).isEmpty && dist.exceptAll(local).isEmpty)

    val (gl, gd) = bothRoutes(Influence.greedySeeds(spark, g, k = 3, p = 0.2,
      simRounds = 10, candidatePool = 8, seed = 11))
    assert(gl.collect().map(_.getLong(0)).toSeq.sorted ==
      gd.collect().map(_.getLong(0)).toSeq.sorted)
  }

  test("greedy seeds stop at pool exhaustion (k > pool) on both routes") {
    val g = Generators.roadNetwork(spark, 3, 3)
    val (local, dist) = bothRoutes(Influence.greedySeeds(spark, g, k = 10, p = 0.3,
      simRounds = 5, candidatePool = 3, seed = 2))
    assert(local.count() == 3, "should return the pool, not crash")
    assert(local.collect().map(_.getLong(0)).toSet ==
      dist.collect().map(_.getLong(0)).toSet)
  }

  test("seed selection: top-k by radius") {
    import spark.implicits._
    val pos = Seq((0L, Array(3.0, 0.0)), (1L, Array(0.0, 1.0)),
      (2L, Array(2.0, 2.0)), (3L, Array(0.1, 0.1))).toDF("id", "pos")
    val seeds = Influence.selectSeeds(pos, 2).collect().map(_.getLong(0))
    assert(seeds.toSet == Set(0L, 2L))
  }

  test("greedy seeds: finds the hub of a star") {
    import spark.implicits._
    // star: 0 center, 1..8 leaves
    val star = (1 to 8).map(i => (0L, i.toLong)).toDF("src", "dst")
    // p=1, one round: the hub reaches all 9 nodes, any leaf only 2 —
    // a deterministic margin independent of the hash-RNG draw.
    val picked = Influence.greedySeeds(spark, star, 1, 1.0, simRounds = 1,
      candidatePool = 9, seed = 1).collect().map(_.getLong(0))
    assert(picked.head == 0L)
  }

  test("greedy seeds: k distinct seeds even when cascades saturate (p=1)") {
    import spark.implicits._
    // p=1 floods every cascade identically → every candidate ties and
    // the low-id tiebreak would re-pick the same vertex each round if
    // chosen vertices stayed in the pool.
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    val picked = Influence.greedySeeds(spark, path, 2, 1.0, simRounds = 5,
      candidatePool = 2, seed = 1).collect().map(_.getLong(0))
    assert(picked.length == 2 && picked.distinct.length == 2,
      s"duplicate seeds: ${picked.mkString(",")}")
  }

  test("end-to-end facade: grid layout, seeds, influence, radius-degree correlation") {
    val g = Generators.roadNetwork(spark, 5, 5)
    val em = GraphEm(spark, g, LayoutConfig(nComponents = 2, LMin = 1.0,
      numIterations = 5, sampleSize = 64, nNeighbors = 5, seed = 8))
    assert(em.nVertices == 25)
    em.runLayout()
    val seeds = em.selectSeeds(5)
    assert(seeds.count() == 5)
    val infl = em.estimateInfluence(seeds, 0.3)
    assert(infl >= 5 && infl <= 25)
    // ρ(radius, degree) must be computable (t1 smoke shape, SURVEY §7)
    val radii = em.positions.select(col("id"), VecOps.norm(col("pos")).as("r"))
    val degs = graft.model.GraphOps.degrees(g)
    val rho = radii.join(degs, "id").agg(corr(col("r"), col("degree"))).collect()(0)
    assert(!rho.isNullAt(0))
  }

  test("eigen init: an edge id outside [0, n) throws, naming the id") {
    import spark.implicits._
    val e = Seq((0L, 1L), (0L, 5L)).toDF("src", "dst")
    val err = intercept[IllegalArgumentException](EigenInit.init(spark, e, 5, 2))
    assert(err.getMessage.contains("vertex id 5"), err.getMessage)
  }

  test("eigen init: graphs with n <= k vertices fall back to seeded random positions") {
    // no k non-trivial eigenvectors exist; the fallback keeps GraphEm's
    // default nComponents = 3 working on a single edge or a triangle
    import spark.implicits._
    for ((es, n) <- Seq((Seq((0L, 1L)), 2), (Seq((0L, 1L), (1L, 2L), (0L, 2L)), 3))) {
      val pos = EigenInit.init(spark, es.toDF("src", "dst"), n, 3, seed = 5)
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
      assert(pos.map(_._1) == (0 until n).map(_.toLong))
      assert(pos.forall(p => p._2.length == 3 && p._2.forall(v => !v.isNaN && !v.isInfinite)))
      val random = EigenInit.randomPositions(spark, n, 3, 5)
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
      assert(pos == random)
    }
  }

  test("driver eigen init + layout: bit-identical across shuffle widths and edge partitionings") {
    // the probe sorts the pairs, so neither the collect order nor the
    // session's shuffle width may move a bit of the positions
    import spark.implicits._
    val pairs = GraphOps.undirect(Generators.barabasiAlbert(spark, 60, 2, 21))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    def run(edgeParts: Int, width: Int): Seq[(Long, Seq[Long])] = {
      spark.conf.set(key, width.toString)
      try {
        val e = pairs.toDF("src", "dst").repartition(edgeParts)
        val init = EigenInit.init(spark, e, 60, 3, seed = 21)
        Layout.run(spark, e, init, LayoutConfig(LMin = 4.0, numIterations = 10, seed = 21))
          .collect().map(r => (r.getLong(0),
            r.getSeq[Double](1).map(java.lang.Double.doubleToLongBits))).sortBy(_._1).toSeq
      } finally spark.conf.set(key, prev)
    }
    val (a, b) = (run(1, 1), run(5, 7))
    assert(a.length == 60 && a == b)
  }

  test("driver layout positions are bit-identical to a pinned digest: BA n=400, attach 22, seed 42") {
    // the embed_local graph and config: springs in (src, dst) order,
    // crossing forces after them by query then neighbour, normalization
    // over the initial collect order; any change to those orders or to a
    // kernel's arithmetic moves a bit of the positions
    val edges = GraphOps.undirect(Generators.barabasiAlbert(spark, 400, 22, 42)).persist()
    try {
      val init = EigenInit.init(spark, edges, 400, 3, 42)
      val rows = Layout.run(spark, edges, init, LayoutConfig(LMin = 4.0, numIterations = 30, seed = 42))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val bb = java.nio.ByteBuffer.allocate(8)
      def put(x: Long): Unit = { bb.clear(); bb.putLong(x); md.update(bb.array()) }
      rows.foreach { case (id, p) => put(id); p.foreach(v => put(java.lang.Double.doubleToLongBits(v))) }
      assert(rows.length == 400)
      assert(md.digest().map("%02x".format(_)).mkString ==
        "a904b1f919b698f6281c307be2a0b41be2b249139df8d96e2b3d3529b89a8308")
    } finally edges.unpersist()
  }

  test("distributed layout runs at most 3 jobs an iteration") {
    // 4 more iterations may add at most 12 jobs: per iteration the
    // position broadcast, the kNN candidates and the move with its stats
    val edges = GraphOps.undirect(Generators.barabasiAlbert(spark, 200, 5, 42)).persist()
    val init = EigenInit.init(spark, edges, 200, 3, 42).persist()
    try {
      edges.count(); init.count()
      def jobs(iters: Int): Int = countingJobs(graft.util.DriverRoute.distributed(spark)(
        Layout.run(spark, edges, init, LayoutConfig(LMin = 4.0, numIterations = iters, seed = 42))
          .count()))._2
      val (four, eight) = (jobs(4), jobs(8))
      assert(eight - four <= 12, s"4 iterations: $four jobs, 8 iterations: $eight jobs")
    } finally { init.unpersist(); edges.unpersist() }
  }

  /** The brute scan the driver loop ran before the cell grid — every
    * reference for the query at q(qb) until q(qb+d), with eid qe, into a
    * worst-out buffer, (d2, rid) ties — with its survivors listed in
    * (d2, rid, index) order. */
  private def bruteKnn(mid: Array[Double], d: Int, eids: Array[Long],
                       q: Array[Double], qb: Int, qe: Long, k: Int): Seq[Int] = {
    def dist2(b: Int): Double = {
      var d2 = 0.0; var i = 0
      while (i < d) { val df = q(qb + i) - mid(b * d + i); d2 += df * df; i += 1 }
      d2
    }
    val ds = Array.fill(k)(Double.MaxValue)
    val rs = Array.fill(k)(Long.MaxValue)
    val ridx = new Array[Int](k)
    var wi = 0
    for (rj <- eids.indices if eids(rj) != qe) {
      val d2 = dist2(rj); val rid = eids(rj)
      if (d2 < ds(wi) || (d2 == ds(wi) && rid < rs(wi))) {
        ds(wi) = d2; rs(wi) = rid; ridx(wi) = rj
        wi = 0
        for (j <- 1 until k)
          if (ds(j) > ds(wi) || (ds(j) == ds(wi) && rs(j) > rs(wi))) wi = j
      }
    }
    (0 until k).filter(s => ds(s) < Double.MaxValue).map(ridx)
      .sortBy(j => (dist2(j), eids(j), j))
  }

  /** The cell grid equals the brute scan twice: for every midpoint as a
    * query of the driver kNN over all of them, and for held-out queries
    * (every third midpoint, as it is and pushed outside the references'
    * extent) against a grid over the rest. */
  private def assertExactKnn(mid: Array[Double], d: Int, eids: Array[Long], k: Int): Unit = {
    val queries = eids.indices.toArray
    val grid = Layout.knnCells(mid, d, eids, queries, k)
    queries.foreach { q =>
      val want = bruteKnn(mid, d, eids, mid, q * d, eids(q), k)
      assert(grid(q).toSeq == want, s"query $q: grid ${grid(q).toSeq} vs brute $want")
    }
    val (held, kept) = eids.indices.partition(_ % 3 == 1)
    val refMid = kept.flatMap(j => mid.slice(j * d, (j + 1) * d)).toArray
    val refEids = kept.map(eids).toArray
    val refGrid = new Layout.CellGrid(refMid, d, refEids)
    for (j <- held; shift <- Seq(0.0, 1.0)) {
      val q = mid.slice(j * d, (j + 1) * d).map(x => x * (1 + 2 * shift) + shift)
      val want = bruteKnn(refMid, d, refEids, q, 0, eids(j), k)
      val got = refGrid.knn(q, 0, eids(j), k).toSeq
      assert(got == want, s"held-out query $j (shift $shift): grid $got vs brute $want")
    }
  }

  private def edgeEid(s: Long, t: Long): Long = {
    import graft.util.DriverRoute.foldLong
    foldLong(foldLong(42L, s), t)
  }

  /** Flat edge midpoints and eids of `pairs` under `pos`. */
  private def midsOf(pairs: Array[(Long, Long)], pos: Map[Long, Seq[Double]],
                     d: Int): (Array[Double], Array[Long]) = {
    val mid = new Array[Double](pairs.length * d)
    pairs.indices.foreach { j =>
      val (s, t) = pairs(j)
      (0 until d).foreach(i => mid(j * d + i) = (pos(s)(i) + pos(t)(i)) / 2.0)
    }
    (mid, pairs.map { case (s, t) => edgeEid(s, t) })
  }

  test("grid kNN equals the brute scan: BA n=400 at iteration 0 and after 5 iterations") {
    val edges = GraphOps.undirect(Generators.barabasiAlbert(spark, 400, 3, 13)).persist()
    try {
      val pairs = graft.util.DriverRoute.probePairs(edges, "src", "dst", 100000).get
      val init = EigenInit.init(spark, edges, 400, 3, seed = 13)
      val (mid0, eids) = midsOf(pairs, positions(init), 3)
      assertExactKnn(mid0, 3, eids, 15)
      val moved = Layout.run(spark, edges, init,
        LayoutConfig(LMin = 4.0, numIterations = 5, seed = 13))
      assertExactKnn(midsOf(pairs, positions(moved), 3)._1, 3, eids, 15)
    } finally edges.unpersist()
  }

  test("grid kNN equals the brute scan: 12x12 grid graph in 2-d, rid tie-breaks") {
    val pairs = Generators.roadNetwork(spark, 12, 12).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val pos = (0L until 144L).map(v => v -> Seq((v % 12).toDouble, (v / 12).toDouble)).toMap
    val (mid, eids) = midsOf(pairs, pos, 2)
    Seq(1, 4, 8, 15).foreach(k => assertExactKnn(mid, 2, eids, k))
  }

  test("grid kNN equals the brute scan: duplicate midpoints, m <= k, 1-d and 4-d") {
    val rnd = new scala.util.Random(5)
    // 40 distinct points, each three times; one eid is shared twice
    // (a duplicate edge), the rest distinct
    val base = Array.fill(40 * 2)(rnd.nextGaussian())
    val mid = Array.tabulate(120 * 2)(x => base(((x / 2) % 40) * 2 + x % 2))
    val eids = Array.tabulate(120)(j => if (j == 41) 1L else j.toLong)
    assertExactKnn(mid, 2, eids, 5)
    assertExactKnn(mid, 2, eids, 7)
    // m <= k: every other reference, in order
    val few = Array.fill(6 * 3)(rnd.nextDouble())
    assertExactKnn(few, 3, Array.tabulate(6)(_.toLong), 15)
    assertExactKnn(few, 3, Array.tabulate(6)(_.toLong), 5)
    // the kernel serves any dimension
    assertExactKnn(Array.fill(200)(rnd.nextGaussian()), 1, Array.tabulate(200)(_.toLong), 6)
    assertExactKnn(Array.fill(300 * 4)(rnd.nextGaussian() * 3), 4,
      Array.tabulate(300)(j => rnd.nextLong()), 9)
  }
}
