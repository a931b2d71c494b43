package graft

import org.apache.spark.sql.functions._
import graft.gen.Generators
import graft.metrics.GraphFeatures
import graft.model.GraphOps

/** Structural-feature invariants against closed forms on canonical
  * graphs, plus parity of the degree-oriented triangle enumeration
  * against the naive a<b<c form. */
class GraphFeaturesSpec extends SparkSpec {

  import spark.implicits._

  private def edges(pairs: (Long, Long)*) = pairs.toDF("src", "dst")

  /** Complete graph on 0..n-1 (canonical src<dst). */
  private def complete(n: Int) =
    edges((for (i <- 0 until n; j <- i + 1 until n)
      yield (i.toLong, j.toLong)): _*)

  private def star(n: Int) =
    edges((1 until n).map(i => (0L, i.toLong)): _*)

  /** Naive a<b<c triangle enumeration (the q17 oracle form). */
  private def bruteTriangles(e: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] = {
    val s = e.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (for {
      (a, b) <- s; (b2, c) <- s if b2 == b && s.contains((a, c))
    } yield (a, b, c)).toSet
  }

  test("triangles: compact-forward enumeration matches brute force on caveman") {
    val g = Generators.caveman(spark, 4, 5) // 4 cliques of 5: 4*C(5,3)=40 triangles
    val got = GraphFeatures.triangles(g).collect()
      .map(r => { val t = Seq(r.getLong(0), r.getLong(1), r.getLong(2)).sorted
        (t(0), t(1), t(2)) }).toSet
    val want = bruteTriangles(g).map { case (a, b, c) =>
      val t = Seq(a, b, c).sorted; (t(0), t(1), t(2)) }
    assert(got == want)
    assert(got.size == 40)
  }

  test("triangles are emitted exactly once each (no double counting)") {
    val g = Generators.caveman(spark, 3, 4)
    val n = GraphFeatures.triangles(spark.createDataFrame(g.rdd, g.schema)).count()
    assert(n == 3 * 4) // 3 cliques of 4: C(4,3)=4 each
  }

  test("localClustering: complete graph is 1, star is 0, path middle is 0") {
    val k4 = GraphFeatures.localClustering(complete(4)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    (0L to 3L).foreach { v =>
      assert(k4(v) == ((3L, 3L, 1.0)), s"K4 vertex $v: ${k4(v)}")
    }
    val st = GraphFeatures.localClustering(star(5)).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(st(0L) == 0.0)       // center: no closed wedges
    assert(st(1L) == 0.0)       // leaf: degree 1
  }

  test("localClustering: triangle-plus-tail closed form") {
    // triangle {0,1,2} with tail 2-3: coeff(0)=coeff(1)=1,
    // coeff(2)=2*1/(3*2)=1/3, coeff(3)=0 (degree 1)
    val g = edges((0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L))
    val lc = GraphFeatures.localClustering(g).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(lc(0L) == 1.0 && lc(1L) == 1.0)
    assert(math.abs(lc(2L) - 0.333333) < 1e-9) // rounded to 6
    assert(lc(3L) == 0.0)
  }

  test("linkPrediction: two shared neighbors, exact jaccard and adamic-adar") {
    // u=0 and v=1 both adjacent to w1=2 (deg 2) and w2=3 (deg 3);
    // 3 also adjacent to 4. 0-1 NOT adjacent. N(0)={2,3}, N(1)={2,3}.
    val g = edges((0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (3L, 4L))
    val lp = GraphFeatures.linkPrediction(g, minCommon = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    // two candidate pairs: (0,1) through {2,3} and, symmetrically,
    // (2,3) through {0,1}
    assert(lp.keySet == Set((0L, 1L), (2L, 3L)))
    val (n01, j01, aa01) = lp((0L, 1L))
    assert(n01 == 2L && j01 == 1.0) // jaccard = 2/(2+2-2)
    val aa = 1.0 / math.log(2) + 1.0 / math.log(3)
    assert(math.abs(aa01 - aa) < 1e-6)
    val (n23, j23, aa23) = lp((2L, 3L))
    assert(n23 == 2L && j23 == 0.666667) // 2/(2+3-2) rounded
    assert(math.abs(aa23 - 2.0 / math.log(2)) < 1e-6)
  }

  test("linkPrediction: adjacent pairs excluded; minCommon filters") {
    // same fixture plus the 0-1 edge: the pair becomes adjacent → gone
    val g = edges((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (3L, 4L))
    assert(GraphFeatures.linkPrediction(g, minCommon = 2)
      .filter(col("u") === 0 && col("v") === 1).isEmpty)
    // path 0-2-1: single shared neighbor is below minCommon=2
    val p = edges((0L, 2L), (1L, 2L))
    assert(GraphFeatures.linkPrediction(p, minCommon = 2).isEmpty)
    assert(GraphFeatures.linkPrediction(p, minCommon = 1).count() == 1)
  }

  test("linkPrediction: hub centers above maxCenterDeg are excluded") {
    // star center 0 with 4 leaves: every leaf pair shares only the hub
    val g = star(5)
    assert(GraphFeatures.linkPrediction(g, minCommon = 1).count() == 6) // C(4,2)
    assert(GraphFeatures.linkPrediction(g, minCommon = 1, maxCenterDeg = 3).isEmpty)
  }

  test("randomWalks: every transition is an edge, full length, seeded") {
    val g = Generators.caveman(spark, 3, 5)
    val w = GraphFeatures.randomWalks(g, walkLen = 5).cache()
    val nV = GraphOps.vertices(g).count()
    assert(w.filter(col("step") === 0).count() == nV) // one walk per vertex
    assert(w.count() == nV * 5)                       // no walk stalls
    // every consecutive (t, t+1) pair is a real edge of the graph
    val trans = w.as("a").join(w.as("b"),
      col("a.walk_id") === col("b.walk_id") &&
        col("b.step") === col("a.step") + 1)
      .select(least(col("a.node"), col("b.node")).as("src"),
        greatest(col("a.node"), col("b.node")).as("dst"))
    assert(trans.distinct().join(g, Seq("src", "dst"), "left_anti").isEmpty)
    // replay: identical; different seed → different corpus
    assert(GraphFeatures.randomWalks(g, 5).exceptAll(w).isEmpty)
    assert(GraphFeatures.randomWalks(g, 5, seed = 7).exceptAll(w).count() > 0)
    w.unpersist()
  }

  test("randomWalks: hub-segmented arrays reproduce the unchunked corpus") {
    // r15 verdict #5 scale-proofing: force the chunk cap below the hub
    // degree so the build takes the degree-probe + rank-contiguous
    // chunk route (caveman(3,5) hubs have degree 4; cap 3 splits them)
    // — the rank-addressed selection must be BIT-identical, so the two
    // corpora are set-equal both ways.
    val g = Generators.caveman(spark, 3, 5)
    val base = GraphFeatures.randomWalks(g, walkLen = 5).cache()
    val key = "spark.graft.adjMaxChunk"
    spark.conf.set(key, "3")
    try {
      val chunked = GraphFeatures.randomWalks(g, walkLen = 5).cache()
      assert(chunked.exceptAll(base).isEmpty && base.exceptAll(chunked).isEmpty)
      chunked.unpersist()
    } finally spark.conf.unset(key)
    base.unpersist()
  }

  test("coreNumbers: clique n-1, path 1, triangle-plus-tail piecewise") {
    val k5 = GraphFeatures.coreNumbers(spark, complete(5)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 4L).forall(k5(_) == 4L))
    val path = edges((0L, 1L), (1L, 2L), (2L, 3L))
    val pc = GraphFeatures.coreNumbers(spark, path).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 3L).forall(pc(_) == 1L))
    // triangle {0,1,2} with tail 2-3-4: triangle is the 2-core, tail 1
    val g = edges((0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L), (3L, 4L))
    val c = GraphFeatures.coreNumbers(spark, g).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c(0L) == 2L && c(1L) == 2L && c(2L) == 2L)
    assert(c(3L) == 1L && c(4L) == 1L)
  }

  test("coreNumbers: 2-D grid is uniformly 2 (2-degenerate with cycles)") {
    val g = Generators.roadNetwork(spark, 5, 4)
    val c = GraphFeatures.coreNumbers(spark, g)
    assert(c.filter(col("core") =!= 2L).isEmpty)
    assert(c.count() == 20)
  }

  test("connectedComponentsDF equals GraphX CC on chains, cliques, random") {
    import org.apache.spark.graphx.{Edge => GxEdge, Graph => GxGraph}
    def gxCC(e: org.apache.spark.sql.DataFrame) = {
      val rdd = e.rdd.map(r => GxEdge(r.getLong(0), r.getLong(1), 1))
      spark.createDataFrame(GxGraph.fromEdges(rdd, 0).connectedComponents().vertices)
        .toDF("id", "component")
    }
    val graphs = Seq(
      // long chain — the diameter case star-contraction must not stall on
      edges((0L until 40L).map(i => (i, i + 1)): _*),
      Generators.caveman(spark, 4, 5),                  // disjoint cliques
      Generators.erdosRenyi(spark, 150, 0.015, 11),     // sparse random
      edges((0L, 1L), (2L, 3L), (4L, 5L), (1L, 2L)))    // mixed comps
    graphs.foreach { g =>
      val got = GraphOps.connectedComponentsDF(spark, g)
      val want = gxCC(g)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"mismatch on ${g.count()} edges")
    }
  }

  test("bfsDistances: multi-source path fixture, unreachable absent") {
    // path 0-1-2-3-4 from both ends, plus an isolated edge 10-11
    val g = edges((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
    val d = GraphFeatures.bfsDistances(spark, g, Seq(0L, 4L)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 0L))
  }

  test("bfsDistances matches driver BFS on a random graph") {
    val g = Generators.erdosRenyi(spark, 120, 0.03, 17)
    val es = g.collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (es ++ es.map(_.swap)).groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    // driver BFS from {0, 1}
    val dist = scala.collection.mutable.Map(0L -> 0L, 1L -> 0L)
    var frontier = Set(0L, 1L)
    var round = 0L
    while (frontier.nonEmpty) {
      round += 1
      frontier = frontier.flatMap(v => adj.getOrElse(v, Array.empty[Long]))
        .filterNot(dist.contains)
      frontier.foreach(dist(_) = round)
    }
    // route parity: the distributed expansion (the 100 TB path) emits
    // the identical frame as the size-guarded driver route
    val (got, distRoute) = bothRoutes(GraphFeatures.bfsDistances(spark, g, Seq(0L, 1L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(got == dist.toMap)
    assert(distRoute == dist.toMap)
  }

  test("labelPropagation: disjoint cliques converge to clique minima; deterministic") {
    val g = Generators.caveman(spark, 5, 6)
    val l = GraphFeatures.labelPropagation(spark, g, rounds = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 30L).foreach(i => assert(l(i) == 6 * (i / 6), s"vertex $i: ${l(i)}"))
    // two triangles joined by nothing: each settles on its own min
    val two = edges((0L, 1L), (0L, 2L), (1L, 2L), (3L, 4L), (3L, 5L), (4L, 5L))
    val lt = GraphFeatures.labelPropagation(spark, two, rounds = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lt == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 3L, 5L -> 3L))
    // replay is bit-identical (pure function of the graph)
    val l2 = GraphFeatures.labelPropagation(spark, g, rounds = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l2 == l)
  }

  test("ssspWeighted: cheap long path beats expensive direct edge") {
    // 0→1 costs 10 directly, but 0→2→3→1 costs 3: round 1 settles 1 at
    // 10, round 3 must IMPROVE it — the relax-after-settle path
    val e = Seq((0L, 1L, 10L), (0L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L))
      .toDF("src", "dst", "w")
    val d = GraphFeatures.ssspWeighted(spark, e, source = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(0L -> 0L, 1L -> 3L, 2L -> 1L, 3L -> 2L))
  }

  test("ssspWeighted matches driver Dijkstra on a random weighted DAG") {
    // random directed graph with hash-deterministic weights 1..9
    val g = Generators.erdosRenyi(spark, 100, 0.04, 23)
      .select(col("src"), col("dst"),
        (pmod(xxhash64(col("src"), col("dst")), lit(9)) + 1).as("w"))
    val es = g.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val adj = es.groupBy(_._1).map { case (k, v) => k -> v.map(t => (t._2, t._3)) }
    // driver Dijkstra from 0
    val dist = scala.collection.mutable.Map(0L -> 0L)
    val pq = scala.collection.mutable.PriorityQueue((0L, 0L))(
      Ordering.by[(Long, Long), Long](-_._1))
    val settled = scala.collection.mutable.Set[Long]()
    while (pq.nonEmpty) {
      val (dv, v) = pq.dequeue()
      if (!settled(v)) {
        settled += v
        adj.getOrElse(v, Array.empty[(Long, Long)]).foreach { case (u, w) =>
          if (dist.get(u).forall(_ > dv + w)) { dist(u) = dv + w; pq.enqueue((dv + w, u)) }
        }
      }
    }
    val got = GraphFeatures.ssspWeighted(spark, g, source = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == dist.toMap)
  }

  test("stronglyConnected: composite fixture — cycles, bridge, chain, 2-peel case") {
    val e = Seq(
      (0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (3L, 10L),
      (10L, 11L), (11L, 12L), (12L, 10L),
      (20L, 21L), (21L, 22L), (30L, 31L), (31L, 30L), (40L, 0L))
      .toDF("src", "dst")
    val got = GraphFeatures.stronglyConnected(spark, e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 21L, 22L -> 22L, 30L -> 30L, 31L -> 30L, 40L -> 40L)
    assert(got == want)
  }

  test("stronglyConnected equals GraphX SCC on random directed graphs, both routes") {
    import org.apache.spark.graphx.{Edge => GxEdge, Graph => GxGraph}
    // directed ER arcs plus a reversed subset so real multi-vertex SCCs
    // form; two densities to vary the SCC structure
    Seq(0.02, 0.05).foreach { p =>
      val base = Generators.erdosRenyi(spark, 80, p, 31)
      val g = base.union(base.filter((col("src") + col("dst")) % 3 === 0)
        .select(col("dst").as("src"), col("src").as("dst")))
      // the driver-Tarjan route, then the distributed forward/backward
      // peel (the 100 TB path)
      val (got, dist) = bothRoutes(GraphFeatures.stronglyConnected(spark, g)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      val rdd = g.rdd.map(r => GxEdge(r.getLong(0), r.getLong(1), 1))
      val want = GxGraph.fromEdges(rdd, 0).stronglyConnectedComponents(20)
        .vertices.collect().toMap
      assert(got == want, s"driver-route SCC mismatch at p=$p")
      assert(dist == want, s"distributed-route SCC mismatch at p=$p")
    }
  }

  test("degreeAssortativity: star is exactly -1; complete graph is degenerate") {
    val r = GraphFeatures.degreeAssortativity(star(6)).collect()(0).getDouble(0)
    assert(r == -1.0)
    // K4: all degrees equal → corr undefined (null)
    val k = GraphFeatures.degreeAssortativity(complete(4)).collect()(0)
    assert(k.isNullAt(0))
  }

  test("pseudoDiameter: exact on the grid corner sweep and tree leaf-to-leaf") {
    val grid = GraphFeatures.pseudoDiameter(spark,
      Generators.roadNetwork(spark, 6, 5), start = 0L).collect()(0)
    assert((grid.getLong(0), grid.getLong(1), grid.getLong(2),
      grid.getLong(3), grid.getLong(4)) == ((0L, 9L, 29L, 9L, 30L)))
    val tree = GraphFeatures.pseudoDiameter(spark,
      Generators.balancedTree(spark, 3, 3), start = 0L).collect()(0)
    // root ecc = h = 3, max-id deepest leaf = 39, leaf-to-leaf lb = 2h
    assert((tree.getLong(1), tree.getLong(2), tree.getLong(3),
      tree.getLong(4)) == ((3L, 39L, 6L, 40L)))
  }

  test("pseudoDiameter: start inside one component only reaches it") {
    val two = edges((0L, 1L), (1L, 2L), (10L, 11L))
    val r = GraphFeatures.pseudoDiameter(spark, two, start = 10L).collect()(0)
    assert(r.getLong(3) == 1L && r.getLong(4) == 2L)
  }

  /** Driver Kruskal with union-find under the same (w, src, dst) total
    * order — the exact semantics mstBoruvka distributes. */
  private def kruskal(es: Seq[(Long, Long, Double)]): Set[(Long, Long, Double)] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      parent(x) = r; r
    }
    val out = scala.collection.mutable.Set[(Long, Long, Double)]()
    for ((s, d, w) <- es.sortBy(e => (e._3, e._1, e._2))) {
      val (rs, rd) = (find(s), find(d))
      if (rs != rd) { parent(rs) = rd; out += ((s, d, w)) }
    }
    out.toSet
  }

  test("mstBoruvka equals driver Kruskal on random weighted graphs") {
    Seq((60, 0.08, 7L), (120, 0.04, 11L)).foreach { case (n, p, seed) =>
      val g = Generators.erdosRenyi(spark, n, p, seed)
        .withColumn("w", (xxhash64(col("src"), col("dst"), lit(seed)) % 100000)
          .cast("double") / 100000.0)
      val es = g.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val got = GraphFeatures.mstBoruvka(spark, g).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == kruskal(es), s"MST mismatch at n=$n")
    }
  }

  test("mstBoruvka: driver-routed contraction equals the distributed CC route") {
    // the distributed route sends every round's contraction through
    // the distributed connectedComponentsDF path (the 100 TB early-round
    // posture); the default routes the small component-pair frame to
    // the driver union-find — the MST must be identical either way
    val g = Generators.erdosRenyi(spark, 90, 0.06, 5L)
      .withColumn("w", (xxhash64(col("src"), col("dst")) % 99991)
        .cast("double") / 99991.0)
    val (routed, distributed) = bothRoutes(GraphFeatures.mstBoruvka(spark, g).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
    assert(routed == distributed)
    val es = g.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(routed == kruskal(es))
  }

  test("mstBoruvka: forest on a disconnected graph, spanning and acyclic") {
    val g = Generators.caveman(spark, 3, 5) // 3 disjoint 5-cliques
      .withColumn("w", (col("src") * 31 + col("dst")).cast("double"))
    val mst = GraphFeatures.mstBoruvka(spark, g)
    assert(mst.count() == 12) // (5-1) edges per clique
    val cc = GraphOps.connectedComponentsDF(spark, mst.select("src", "dst"))
    assert(cc.select("component").distinct().count() == 3)
    val es = g.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(mst.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      == kruskal(es))
  }

  test("kTruss: clique closed forms and the two-round cascade") {
    // K5: every edge in 3 triangles -> survives k=5, empties at k=6
    val k5 = complete(5)
    assert(GraphFeatures.kTruss(spark, k5, k = 5).count() == 10)
    assert(GraphFeatures.kTruss(spark, k5, k = 6).count() == 0)
    // chain of two triangles: middle edge has support 2 in round 1 but
    // both its triangles die when the support-1 edges peel — a correct
    // fixpoint returns NO edges at k=4
    val chain = edges((20L, 21L), (20L, 22L), (21L, 22L), (21L, 23L), (22L, 23L))
    assert(GraphFeatures.kTruss(spark, chain, k = 4).count() == 0)
    // and the whole chain IS a 3-truss (every edge in >= 1 triangle)
    assert(GraphFeatures.kTruss(spark, chain, k = 3).count() == 5)
  }

  test("kTruss canonicalizes reversed/duplicated edges and drops self-loops") {
    import spark.implicits._
    // K4 fed as a mix of reversed and duplicated pairs + a self-loop:
    // canonicalization must recover the clean K4 result (6 edges at k=4)
    val messy = Seq((1L, 0L), (0L, 1L), (2L, 0L), (0L, 3L), (2L, 1L),
      (1L, 3L), (3L, 2L), (2L, 3L), (2L, 2L)).toDF("src", "dst")
    val got = GraphFeatures.kTruss(spark, messy, k = 4)
    assert(got.count() == 6)
    assert(got.filter(col("src") >= col("dst")).isEmpty)
  }

  test("kTruss refuses to return a non-converged superset") {
    // maxRounds = 1 on the two-triangle chain: round 1 peels the
    // support-1 edges but the middle edge still needs another round —
    // the loud contract throws instead of returning the superset
    val chain = edges((20L, 21L), (20L, 22L), (21L, 22L), (21L, 23L), (22L, 23L))
    intercept[IllegalStateException] {
      GraphFeatures.kTruss(spark, chain, k = 4, maxRounds = 1)
    }
  }

  test("transitivity: 1 on a clique, 0 on a star, closed form on a lollipop") {
    val k4 = GraphFeatures.transitivity(complete(4)).collect()(0)
    assert(k4.getLong(0) == 4L && k4.getLong(1) == 12L && k4.getDouble(2) == 1.0)
    val s = GraphFeatures.transitivity(star(5)).collect()(0)
    assert(s.getLong(0) == 0L && s.getDouble(2) == 0.0)
    // triangle + pendant: 1 triangle; wedges 1+1+3 = 5 → 3/5
    val lolli = GraphFeatures.transitivity(
      edges((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))).collect()(0)
    assert(lolli.getLong(0) == 1L && lolli.getLong(1) == 5L &&
      lolli.getDouble(2) == 0.6)
  }

  test("edgeJaccard: hand-computed scores on triangle-plus-pendant") {
    // (1,2): common {3}, union-{a,b} 1 → 1.0; (1,3)/(2,3): common 1 of
    // 2 → 0.5; bridge (3,4): no common → 0.0
    val got = GraphFeatures.edgeJaccard(
      edges((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got((1L, 2L)) == ((1L, 1.0)))
    assert(got((1L, 3L)) == ((1L, 0.5)) && got((2L, 3L)) == ((1L, 0.5)))
    assert(got((3L, 4L)) == ((0L, 0.0)))
  }

  test("neighborhoodFunction: exact balls on a path, sketch within tol") {
    // path 0-1-2-3: balls r=1 are 2,3,3,2; r=2 are 3,4,4,3
    val p = edges((0L, 1L), (1L, 2L), (2L, 3L))
    val got = GraphFeatures.neighborhoodFunction(spark, p, maxR = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getBoolean(3)))
      .toMap
    assert(got.size == 12)
    assert((0L to 3L).forall(v => got((v, 0)) == ((1L, true))))
    assert(got((0L, 1)) == ((2L, true)) && got((1L, 1)) == ((3L, true)))
    assert(got((2L, 1)) == ((3L, true)) && got((3L, 1)) == ((2L, true)))
    assert(got((0L, 2)) == ((3L, true)) && got((1L, 2)) == ((4L, true)))
    assert(got((2L, 2)) == ((4L, true)) && got((3L, 2)) == ((3L, true)))
  }

  test("bipartiteCheck: even cycle true, odd cycle false, per component") {
    // component A: 4-cycle (bipartite); component B: triangle (odd)
    val g = edges((0L, 1L), (1L, 2L), (2L, 3L), (0L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L))
    val got = GraphFeatures.bipartiteCheck(spark, g).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got(0L) == ((4L, true)))
    assert(got(10L) == ((3L, false)))
  }

  test("bipartiteCheck: throws when maxIter leaves a component unsettled") {
    // path of eccentricity 4 from its min-id root: maxIter=2 cannot
    // color vertices 3,4 — the check must fail loudly, not report an
    // undersized component (kTruss's non-convergence posture)
    val g = edges((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L))
    val e = intercept[IllegalArgumentException] {
      GraphFeatures.bipartiteCheck(spark, g, maxIter = 2).collect()
    }
    assert(e.getMessage.contains("maxIter"))
    // and the same graph settles fine with the default bound
    val ok = GraphFeatures.bipartiteCheck(spark, g).collect()
    assert(ok.length == 1 && ok(0).getLong(1) == 5L && ok(0).getBoolean(2))
  }

  test("modularity: caveman clique partition is 1 - 1/l; one community is 0") {
    val g = Generators.caveman(spark, 5, 6)
    val cliqueLabels = GraphOps.vertices(g)
      .select(col("id"), (col("id") - col("id") % 6).as("label"))
    val q = GraphFeatures.modularity(g, cliqueLabels).collect()(0)
    assert(q.getDouble(0) == 0.8 && q.getLong(1) == 5L)
    val oneLabel = GraphOps.vertices(g).select(col("id"), lit(0L).as("label"))
    assert(GraphFeatures.modularity(g, oneLabel).collect()(0).getDouble(0) == 0.0)
  }
}
