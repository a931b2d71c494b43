package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.util.SessionMemo
import graft.model.GraphOps
import graft.gen.Generators
import graft.linalg.EigenInit
import graft.layout.{Layout, LayoutConfig}
import graft.influence.Influence
import graft.functions.VecOps

/** Graph-operator surface exposed as driver-checkable queries.
  *
  * Exact-SQL generators (S6/S8/S12) get DuckDB oracles built from
  * `range()`; the lineitem-derived graph feeds triangle counting and
  * GraphX connected components (oracle = closed form on the
  * diameter-2 supplier–nation graph). The iterative ops (eigen-init,
  * layout, IC, PageRank) are deterministic-but-not-SQL — they appear as
  * rows-only checks, with invariants covered in ScalaTest.
  */
object GraphQueries {

  /** The canonical undirected test graph: lineitem order–part incidence
    * (same construction as q06_union_distinct). Persisted per
    * (session, dir): the graph-feature operators (q17, q80–q82) are
    * multi-pass over the edge list, and Catalyst does NOT reuse the
    * union+distinct subplan across passes once different projections
    * push into each copy — without the cache every pass repays the
    * scan+distinct shuffle. */
  def lineitemGraph(s: SparkSession, d: String): DataFrame =
    SessionMemo.frame(s, "lineitemGraph", d) {
      val src = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("src"), col("l_partkey").as("dst"))
      // Cache width follows the SOURCE scan's split count, not the
      // session's cluster-wide shuffle setting: AQE never re-sizes a
      // cached plan's output partitioning (canChangeCachedPlanOutput-
      // Partitioning defaults off), so without this the ~60k-row frame
      // was pinned at 32 near-empty partitions and EVERY consumer's
      // first map over the cache paid 32 tasks of per-task overhead
      // (q123's degree aggregate alone measured 13.6 → 2.2 cpu-s going
      // 32 → 8 tasks). Split-count sizing is scale-adaptive: a 100 TB
      // lineitem is thousands of splits and the session cap binds.
      val parts = math.max(1, math.min(
        s.conf.get("spark.sql.shuffle.partitions").toInt,
        src.rdd.getNumPartitions))
      GraphOps.undirect(src).repartition(parts, col("src"), col("dst"))
    }

  /** The lineitem graph's triangle enumeration, shared by its three
    * consumers (q156 transitivity / q157 edge Jaccard / q80 local
    * clustering): the m^1.5-bounded wedge join is the dominant cost of
    * each, and the frame itself is small (near-bipartite graph), so one
    * persisted enumeration per (session, dir) serves all — the
    * BruteTruth.topK within-session reuse pattern. The first consumer
    * pays the full enumeration inside its own timed window. */
  private def lineitemTriangles(s: SparkSession, d: String): DataFrame =
    SessionMemo.frame(s, "lineitemTriangles", d)(
      graft.metrics.GraphFeatures.triangles(lineitemGraph(s, d)))

  /** Supplier–nation bipartite graph with disjoint id spaces. */
  def supplierGraph(s: SparkSession, d: String): DataFrame =
    Tables.supplier(s, d)
      .select(col("s_nationkey").cast("long").as("src"),
        (col("s_suppkey") + lit(100000L)).cast("long").as("dst"))

  /** GraphX staticPageRank(10) over the supplier graph, cached per
    * (session, dir): q23 emits it and q37 correlates it — sharing the
    * frame saves a full GraphX run when both execute in one session. */
  private def pagerankFrame(s: SparkSession, d: String): DataFrame =
    SessionMemo.frame(s, "supplierPagerank", d) {
      import org.apache.spark.graphx.{Edge => GxEdge, Graph => GxGraph}
      val rdd = supplierGraph(s, d).rdd.map(r => GxEdge(r.getLong(0), r.getLong(1), 1))
      val pr = GxGraph.fromEdges(rdd, 0).staticPageRank(10).vertices
      s.createDataFrame(pr).toDF("id", "rank")
        .select(col("id"), round(col("rank"), 6).as("rank"))
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q14_gen_grid" -> ((s, _) => Generators.roadNetwork(s, 30, 20)),

    "q15_gen_tree" -> ((s, _) => Generators.balancedTree(s, 3, 5)),

    "q16_gen_caveman" -> ((s, _) => Generators.caveman(s, 5, 6)),

    // Triangle count over the shared degree-oriented enumeration
    // (lineitemTriangles — each triangle emitted exactly once, so the
    // count is identical to the old canonical-a<b<c double self-join
    // this query ran privately; one m^1.5-bounded enumeration per
    // session now serves q17/q80/q156/q157).
    "q17_triangles" -> ((s, d) =>
      lineitemTriangles(s, d).agg(count(lit(1)).as("n_triangles"))),

    // GraphX connected components on the supplier–nation graph; the
    // oracle is the closed form valid for this diameter-2 topology
    // (component label = min id = the nation key).
    "q18_connected_components" -> ((s, d) => {
      import org.apache.spark.graphx.{Edge => GxEdge, Graph => GxGraph}
      val rdd = supplierGraph(s, d).rdd.map(r => GxEdge(r.getLong(0), r.getLong(1), 1))
      val cc = GxGraph.fromEdges(rdd, 0).connectedComponents().vertices
      s.createDataFrame(cc).toDF("id", "component")
    }),

    // Vertex degrees of the supplier graph (A1 on a second topology).
    "q19_supplier_degrees" -> ((s, d) =>
      GraphOps.degrees(supplierGraph(s, d))),

    // ---- iterative numeric ops: INVARIANT oracles (r6 graduation).
    // The grid vertex sets are closed-form, so the DuckDB oracle
    // enumerates the ids exactly and pins the reference's own
    // embedding invariants (all-finite, max radius < 1000,
    // per-dimension variance > 1e-6 — tests/test_integration.py:40-46,
    // 130-138) as per-row booleans; a solver regression flips one. ----

    // L1 eigen-init on the 20x20 grid: smallest nontrivial eigenvectors.
    "q20_eigen_grid" -> ((s, _) => {
      val g = Generators.roadNetwork(s, 20, 20)
      val pos = EigenInit.init(s, g, 400, 2, seed = 42)
        .select(col("id"), VecOps.norm(col("pos")).as("r"),
          element_at(col("pos"), 1).as("x"), element_at(col("pos"), 2).as("y"))
      val spread = pos.agg((variance(col("x")) > 1e-6 &&
        variance(col("y")) > 1e-6).as("spread_ok"))
      pos.crossJoin(broadcast(spread))
        .select(col("id"),
          (!isnan(col("r")) && col("r") >= 0 && col("r") < 1000)
            .as("finite_ok"), col("spread_ok"))
        .orderBy("id")
    }),

    // L2/L3 full layout on a small grid; same invariant set on the
    // post-iteration positions.
    "q21_layout_grid" -> ((s, _) => {
      val g = Generators.roadNetwork(s, 12, 12)
      val cfg = LayoutConfig(nComponents = 2, LMin = 1.0, numIterations = 10,
        sampleSize = 128, nNeighbors = 8, seed = 42)
      val pos0 = Layout.run(s, g, EigenInit.init(s, g, 144, 2, seed = 42), cfg)
      val pos = pos0.select(col("id"), VecOps.norm(col("pos")).as("r"),
        element_at(col("pos"), 1).as("x"), element_at(col("pos"), 2).as("y"))
      val spread = pos.agg((variance(col("x")) > 1e-6 &&
        variance(col("y")) > 1e-6).as("spread_ok"))
      pos.crossJoin(broadcast(spread))
        .select(col("id"),
          (!isnan(col("r")) && col("r") >= 0 && col("r") < 1000)
            .as("finite_ok"), col("spread_ok"))
        .orderBy("id")
    }),

    // L4 hash-RNG independent cascade on a seeded ER graph. The
    // activated SET is deterministic but not SQL-derivable, so the
    // oracle row pins the cascade laws (seeds activate; k ≤ spread ≤ n)
    // plus an in-plan DETERMINISM proof: a second run with the same
    // seed must reproduce the set bit-for-bit (the cross-round
    // bit-equality the influence benchmark has shown since r4, now
    // hash-enforced every round).
    "q22_ic_spread" -> ((s, _) => {
      val g = Generators.erdosRenyi(s, 300, 0.02, 42)
      import s.implicits._
      val seeds = Seq(0L, 1L, 2L).toDF("id")
      def run() = Influence.independentCascade(s, g, seeds, 0.3,
        maxRounds = 50, seed = 42)
      val a1 = run().cache()
      val n = a1.count()
      val seedsIn = a1.join(seeds, "id").count() == 3
      val a2 = run()
      val replay = a1.exceptAll(a2).isEmpty && a2.exceptAll(a1).isEmpty
      Seq((3L, seedsIn, n >= 3 && n <= 300, replay))
        .toDF("n_seeds", "seeds_activated", "spread_in_bounds",
          "replay_identical")
    }),

    // L6 GraphX PageRank on the supplier graph. Oracle-checked: on this
    // disjoint star union the iteration converges exactly by round 2
    // (suppliers are dangling, nations receive nothing), so the DuckDB
    // oracle is the closed form + GraphX's final sum-to-n normalization.
    "q23_pagerank" -> ((s, d) => pagerankFrame(s, d)),

    // L6 closeness (parallel BFS over broadcast CSR); the supplier graph
    // is a disjoint union of stars, so the oracle is the closed form.
    "q35_closeness" -> ((s, d) => {
      val g = supplierGraph(s, d)
      val (verts, edges) = GraphOps.relabel(g)
      val n = verts.count()
      graft.metrics.Centralities.closeness(s, edges, n)
        .join(verts.withColumnRenamed("id", "orig").withColumnRenamed("idx", "id"), "id")
        .select(col("orig").as("id"), round(col("closeness"), 6).as("closeness"))
    }),

    // L6 betweenness (parallel Brandes over broadcast CSR), same oracle
    // structure (star centers only).
    "q36_betweenness" -> ((s, d) => {
      val g = supplierGraph(s, d)
      val (verts, edges) = GraphOps.relabel(g)
      val n = verts.count()
      graft.metrics.Centralities.betweenness(s, edges, n)
        .join(verts.withColumnRenamed("id", "orig").withColumnRenamed("idx", "id"), "id")
        .select(col("orig").as("id"), round(col("betweenness"), 9).as("betweenness"))
    }),

    // L5 greedy seed selection on a fixed generated graph (rows-only;
    // the hash-RNG cascade has no SQL analog).
    // L5 greedy seed selection — same invariant-oracle pattern as q22:
    // exactly k distinct in-range seeds, and the pick replays
    // bit-identically (the hash-RNG determinism contract).
    "q39_greedy_seeds" -> ((s, _) => {
      val g = Generators.erdosRenyi(s, 120, 0.05, 21)
      import s.implicits._
      def run() = Influence.greedySeeds(s, g, k = 3, p = 0.2, simRounds = 20,
        candidatePool = 16, seed = 21)
      val a1 = run().cache()
      val ids = a1.collect().map(_.getLong(0))
      val a2 = run()
      val replay = a1.exceptAll(a2).isEmpty && a2.exceptAll(a1).isEmpty
      Seq((3L, ids.length == 3 && ids.distinct.length == 3,
        ids.forall(i => i >= 0 && i < 120), replay))
        .toDF("k", "distinct_ok", "ids_in_range", "replay_identical")
    }),

    // A6/A7 correlation-benchmark pipeline on the 8x8 grid — r7
    // graduation from rows-only to an INVARIANT oracle. The layout
    // radii come out of the iterative spring loop (no SQL analog), so
    // the ρ values themselves can't be replayed by DuckDB; what CAN be
    // hash-enforced is the correlation algebra around them, checked on
    // the very frame the benchmark correlates:
    //  - route_agree_ok: Correlation.spearmanMany's local rank kernel
    //    vs an independent DataFrame-native route (q13's machinery:
    //    average-tie ranks via groupBy+window, Catalyst's corr over
    //    the ranks) agree within 1e-9 for every (radius, measure) pair
    //    — two implementations of ρ must meet;
    //  - sym_ok / diag_ok / rho_range_ok: the full A7 matrix over
    //    (radius + 6 centralities) is symmetric, has a unit diagonal,
    //    and every entry is a valid ρ (|ρ| ≤ 1, non-NaN — the grid has
    //    no constant centrality).
    // A regression in the rank kernel, tie handling, matrix assembly,
    // or the centrality/layout plumbing flips a pinned boolean.
    "q40_correlation_bench" -> ((s, _) => {
      import graft.api.GraphEm
      import graft.metrics.{Centralities, Correlation}
      import org.apache.spark.sql.expressions.Window
      val g = Generators.roadNetwork(s, 8, 8)
      val em = GraphEm(s, g, LayoutConfig(nComponents = 2, LMin = 1.0,
        numIterations = 5, sampleSize = 64, nNeighbors = 6, seed = 13))
      em.runLayout()
      // the whole correlation phase works on the 64-row grid frame —
      // run it data-sized (guide §2.1: cluster-width windows/joins on
      // a fixture frame are pure per-task overhead; every action below
      // is eager inside the wrapper)
      graft.util.Iterate.withSizedShuffle(s, em.nVertices) {
      val radii = em.positions
        .select(col("id"), VecOps.norm(col("pos")).as("radius"))
      val cents = Centralities.all(s, g, em.nVertices)
      val joined = radii.join(cents, "id").persist()
      joined.count()
      val measures = Seq("degree_centrality", "pagerank", "eigenvector",
        "closeness", "betweenness", "load")
      val rhos = Correlation.spearmanMany(joined, "radius", measures)
      // independent route: q13's rank construction + Catalyst corr.
      // The SIX one-row corr branches evaluate in ONE action (a tagged
      // union — each branch's plan is unchanged, so the per-measure
      // doubles are exactly the sequential .head() route's; only the
      // job count changes, §1.2/§5 driver latency)
      def rankCorrFrame(m: String): org.apache.spark.sql.DataFrame = {
        def ranks(cn: String, out: String) = {
          val w = Window.orderBy(col("_v"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          joined.select(col(cn).as("_v")).groupBy("_v")
            .agg(count(lit(1)).as("_c"))
            .withColumn(out, sum("_c").over(w) - (col("_c") - 1) / 2.0)
            .withColumnRenamed("_v", cn).drop("_c")
        }
        joined.select("radius", m)
          .join(ranks("radius", "rx"), "radius").join(ranks(m, "ry"), m)
          .agg(corr(col("rx"), col("ry")).as("_r"))
          .select(lit(m).as("_m"), col("_r"))
      }
      val rankCorrs = measures.map(rankCorrFrame).reduce(_.unionByName(_))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val routeAgree = measures.forall(m =>
        math.abs(rhos(m) - rankCorrs(m)) < 1e-9)
      val cols = "radius" +: measures
      val mat = Correlation.matrix(s, joined, cols).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
      joined.unpersist()
      em.close()
      val symOk = cols.forall(a => cols.forall(b =>
        math.abs(mat((a, b)) - mat((b, a))) < 1e-9))
      val diagOk = cols.forall(a => mat((a, a)) == 1.0)
      val rangeOk = mat.values.forall(v => !v.isNaN && math.abs(v) <= 1.0 + 1e-9)
      import s.implicits._
      measures.map(m => (m, rangeOk, symOk, diagOk, routeAgree))
        .toDF("centrality", "rho_range_ok", "sym_ok", "diag_ok",
          "route_agree_ok")
      }
    }),

    // Per-vertex local clustering coefficient on the lineitem graph —
    // degree-oriented ("compact forward") triangle enumeration, so the
    // wedge join is bounded by m^1.5 total work even under hub skew.
    "q80_clustering_coeff" -> ((s, d) =>
      graft.metrics.GraphFeatures.localClustering(lineitemGraph(s, d),
        Some(lineitemTriangles(s, d)))),

    // Link-prediction candidate scores (common neighbors / Jaccard /
    // Adamic-Adar) for non-adjacent pairs sharing ≥2 neighbors.
    "q81_link_prediction" -> ((s, d) =>
      graft.metrics.GraphFeatures.linkPrediction(lineitemGraph(s, d),
        minCommon = 2)),

    // Degree assortativity (Newman's r) of the lineitem graph.
    "q82_assortativity" -> ((s, d) =>
      graft.metrics.GraphFeatures.degreeAssortativity(lineitemGraph(s, d))),

    // Global transitivity (3·triangles / wedges) — the one-number
    // clustering summary beside q80's per-vertex coefficients.
    "q156_transitivity" -> ((s, d) =>
      graft.metrics.GraphFeatures.transitivity(lineitemGraph(s, d),
        Some(lineitemTriangles(s, d)))),

    // Per-edge neighborhood Jaccard (sparsification score): common
    // neighbors = triangles through the edge, reusing the
    // degree-oriented enumeration.
    "q157_edge_jaccard" -> ((s, d) =>
      graft.metrics.GraphFeatures.edgeJaccard(lineitemGraph(s, d),
          Some(lineitemTriangles(s, d)))
        .orderBy("src", "dst")),

    // Rich-club coefficient φ(k) = 2·E_k / (n_k·(n_k−1)) at k ∈
    // {2,4,8,16}: do high-degree vertices preferentially connect to
    // each other (Colizza et al. 2006)? One degree aggregate + two
    // broadcast degree joins onto the edges + a 4-row k explode —
    // edge-linear at any scale, output bounded by |ks|.
    "q174_rich_club" -> ((s, d) => {
      import s.implicits._
      val e = lineitemGraph(s, d)
      val deg = GraphOps.degrees(e)
      val ksCol = array(Seq(2, 4, 8, 16).map(lit): _*)
      val nk = deg.select(explode(ksCol).as("k"), col("degree"))
        .filter(col("degree") > col("k"))
        .groupBy("k").agg(count(lit(1)).as("n_nodes"))
      val ek = e
        .join(deg.select(col("id").as("src"), col("degree").as("_ds")), "src")
        .join(deg.select(col("id").as("dst"), col("degree").as("_dd")), "dst")
        .select(explode(ksCol).as("k"), col("_ds"), col("_dd"))
        .filter(col("_ds") > col("k") && col("_dd") > col("k"))
        .groupBy("k").agg(count(lit(1)).as("n_edges"))
      Seq(2, 4, 8, 16).toDF("k")
        .join(nk, Seq("k"), "left_outer").join(ek, Seq("k"), "left_outer")
        .na.fill(0L, Seq("n_nodes", "n_edges"))
        .withColumn("phi", round(when(col("n_nodes") >= 2,
          lit(2.0) * col("n_edges") /
            (col("n_nodes") * (col("n_nodes") - 1))).otherwise(0.0), 6))
        .orderBy("k")
    }),

    // Per-component bipartiteness via multi-source BFS parity: the
    // supplier stars are trees → every component bipartite, size s+1,
    // labeled by its nation root — full closed-form oracle.
    "q166_bipartite" -> ((s, d) =>
      graft.metrics.GraphFeatures.bipartiteCheck(s, supplierGraph(s, d))
        .orderBy("component")),

    // HyperBall approximate neighborhood function on the 12×10 grid:
    // per (vertex, radius ≤ 4) the exact ball size (closed-form
    // Manhattan oracle) and the HLL estimate's accuracy boolean — the
    // sketch is the 100 TB path, the exact twin is the audit
    // (q84/q88 pattern).
    "q158_anf_hyperball" -> ((s, _) =>
      graft.metrics.GraphFeatures.neighborhoodFunction(s,
          Generators.roadNetwork(s, 12, 10), maxR = 4)
        .orderBy("id", "r")),

    // Pure-DataFrame connected components (large-star/small-star
    // contraction, O(log n) rounds) — the Catalyst/AQE-native twin of
    // q18's GraphX route, same closed-form oracle.
    "q93_components_df" -> ((s, d) =>
      GraphOps.connectedComponentsDF(s, supplierGraph(s, d))),

    // DeepWalk-style deterministic random-walk corpus (one walk per
    // vertex, length 4) — every neighbor choice is md5-arithmetic the
    // oracle replays exactly, so the entire walk corpus hash-matches.
    "q92_random_walks" -> ((s, d) =>
      graft.metrics.GraphFeatures.randomWalks(lineitemGraph(s, d), walkLen = 4)),

    // k-core decomposition (distributed H-index iteration) on a
    // composite of three known-core topologies — the oracle is the
    // piecewise closed form: trees are 1-degenerate (core 1), a clique
    // of 6 is its own 5-core, and a 2-D grid peels at 2 (corners have
    // degree 2 and the cascade empties the graph at k=3).
    "q86_kcore" -> ((s, _) => {
      val tree = Generators.balancedTree(s, 3, 5)
      val cave = Generators.caveman(s, 4, 6)
        .select((col("src") + 1000).as("src"), (col("dst") + 1000).as("dst"))
      val grid = Generators.roadNetwork(s, 8, 6)
        .select((col("src") + 2000).as("src"), (col("dst") + 2000).as("dst"))
      graft.metrics.GraphFeatures.coreNumbers(s, tree.union(cave).union(grid))
    }),

    // Multi-source BFS hop distances on a composite with closed-form
    // answers: a 12×10 grid from BOTH opposite corners (distance = the
    // MIN of the two Manhattan distances — the multi-source semantics
    // in closed form) and an offset 3-ary tree from its root (depth).
    // The fixture's source set keeps the frontier loop to ~10 rounds:
    // round count is the source set's eccentricity, and each round is
    // fixed job latency at this size, so a deliberately small-diameter
    // composite measures the operator, not the scheduler.
    "q94_bfs_distances" -> ((s, _) => {
      val grid = Generators.roadNetwork(s, 12, 10)
      val tree = Generators.balancedTree(s, 3, 5)
        .select((col("src") + 10000).as("src"), (col("dst") + 10000).as("dst"))
      graft.metrics.GraphFeatures.bfsDistances(s, grid.union(tree),
        sources = Seq(0L, 119L, 10000L))
    }),

    // Deterministic synchronous label propagation on the caveman graph:
    // with the (count desc, label asc) tiebreak every clique converges
    // to its minimum id by round 2 — the closed form the oracle states.
    "q95_label_prop" -> ((s, _) =>
      graft.metrics.GraphFeatures.labelPropagation(s,
        Generators.caveman(s, 5, 6), rounds = 4)),

    // Weighted SSSP (directed Bellman–Ford rounds) on a DAG built from
    // the 3-ary tree (edge weight dst%7+1) plus root shortcuts: cheap
    // ones to depth-2 nodes (w=3, they win immediately) and expensive
    // ones to some leaves (w=20, later tree rounds must IMPROVE them —
    // exercising the relax-after-settle path BFS never hits). The
    // oracle replays every path sum through a recursive CTE.
    "q99_sssp" -> ((s, _) => {
      import s.implicits._
      val tree = Generators.balancedTree(s, 3, 5)
        .select(col("src"), col("dst"), (col("dst") % 7 + 1).cast("long").as("w"))
      val near = s.range(4, 13).toDF("dst")
        .select(lit(0L).as("src"), col("dst"), lit(3L).as("w"))
      val far = s.range(121, 364).toDF("dst").filter(col("dst") % 17 === 0)
        .select(lit(0L).as("src"), col("dst"), lit(20L).as("w"))
      graft.metrics.GraphFeatures.ssspWeighted(s,
        tree.unionByName(near).unionByName(far), source = 0L)
    }),

    // Strongly connected components (directed, forward-backward
    // coloring peel) on a composite covering every regime: two cycles
    // joined by a one-way edge (stay separate SCCs), a chain of
    // singletons (all confirm in ONE peel), a 2-cycle, and an
    // upstream-larger-id vertex that forces a SECOND peel (its color
    // floods both cycles in round one).
    "q102_scc" -> ((s, _) => {
      import s.implicits._
      val e = Seq(
        (0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L),   // cycle A
        (3L, 10L),                                 // one-way bridge
        (10L, 11L), (11L, 12L), (12L, 10L),        // cycle B
        (20L, 21L), (21L, 22L),                    // singleton chain
        (30L, 31L), (31L, 30L),                    // 2-cycle
        (40L, 0L)                                  // larger id upstream
      ).toDF("src", "dst")
      graft.metrics.GraphFeatures.stronglyConnected(s, e)
    }),

    // Pseudo-diameter (double-sweep BFS) on the 6×5 road grid from
    // corner 0: farthest = opposite corner 29 at Manhattan distance 9,
    // whose own eccentricity IS the true diameter 9 — the closed form
    // the oracle states. Small-diameter fixture on purpose: BFS rounds
    // = eccentricity and each round is fixed job latency at this size
    // (q94's note); the tree case (bound provably exact, 2h) is
    // GraphFeaturesSpec's closed-form test.
    "q109_pseudo_diameter" -> ((s, _) =>
      graft.metrics.GraphFeatures.pseudoDiameter(s,
        Generators.roadNetwork(s, 6, 5), start = 0L)),

    // Minimum spanning tree (distributed Borůvka) on the 12×10 grid
    // with weights making THE unique MST a closed form the oracle
    // enumerates: horizontals weigh 1.0 (all forced — swapping any
    // out means paying a weight-2 vertical), verticals weigh
    // 2 + src·1e-6 (distinct, so exactly the column-0 vertical joins
    // each pair of adjacent rows). A full hash match against that
    // enumeration exercises every Borůvka round end-to-end.
    "q110_mst" -> ((s, _) => {
      val grid = Generators.roadNetwork(s, 12, 10)
      val weighted = grid.withColumn("w",
        when(col("dst") === col("src") + 1, lit(1.0))
          .otherwise(lit(2.0) + col("src") * lit(1e-6)))
      graft.metrics.GraphFeatures.mstBoruvka(s, weighted)
        .select(col("src"), col("dst"), round(col("w"), 6).as("w"))
    }),

    // Personalized PageRank from seeds {1..5} on the lineitem graph,
    // 3 fixed iterations: the rank frame holds only the seeds'
    // expanding 3-hop ball. Rounded-positive filter bounds the output
    // to the support; the oracle replays all three iterations as
    // chained CTEs with the identical double arithmetic.
    // (the returned PPR frame stays persisted for this one read — its
    // lineage ends at a truncated checkpoint, so an unpersist-then-
    // recompute is not an option; one bounded cache entry per session)
    "q112_ppr" -> ((s, d) =>
      graft.metrics.Centralities.personalizedPageRank(
          s, lineitemGraph(s, d), seeds = Seq(1L, 2L, 3L, 4L, 5L))
        .select(col("id"), round(col("ppr"), 6).as("ppr"))
        .filter(col("ppr") > 0)),

    // Harmonic centrality on the 5×4 grid (n = 20 ≤ sourcesCap, so the
    // multi-source BFS is EXACT): h(v) = Σ 1/manhattan(v, u) — the
    // closed form the oracle cross-joins. Small-diameter fixture on
    // purpose (levels = diameter+1 checkpoint jobs, the q94 note);
    // persisted result frame, one bounded cache entry (the q112 note).
    "q117_harmonic" -> ((s, _) =>
      graft.metrics.Centralities.harmonicDistributed(s,
          Generators.roadNetwork(s, 5, 4), n = 20L)
        .select(col("id"), round(col("harmonic"), 6).as("harmonic"))),

    // k-truss (k=4) on a composite that exercises the CASCADE: a K4
    // (support 2 everywhere — survives), a pendant triangle glued to
    // the K4 by one edge (its outer edges have support 1 — dropped in
    // round 1, and the shared edge still stands on the K4's
    // triangles), and a 2-triangle chain whose middle edge has
    // support 2 in round 1 but loses BOTH its triangles once the
    // support-1 edges peel — only the second round removes it. The
    // oracle enumerates the surviving K4.
    "q122_ktruss" -> ((s, _) => {
      import s.implicits._
      val e = Seq(
        (0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L), // K4
        (0L, 10L), (1L, 10L),                                       // pendant tri
        (20L, 21L), (20L, 22L), (21L, 22L),                         // chain tri 1
        (21L, 23L), (22L, 23L)                                      // chain tri 2
      ).toDF("src", "dst")
      graft.metrics.GraphFeatures.kTruss(s, e, k = 4)
    }),

    // Degree-distribution histogram of the lineitem graph (the
    // degree-sequence summary every graph-stats report starts with):
    // two chained hash aggregates, both vertex- then degree-keyed.
    "q123_degree_distribution" -> ((s, d) =>
      GraphOps.degrees(lineitemGraph(s, d))
        .groupBy("degree").agg(count(lit(1)).as("n_vertices"))),

    // Modularity of the LPA partition on 5 disjoint 6-cliques — the
    // composition q95 (labels) → modularity (score). Closed form:
    // Q = l·(1/l − (1/l)²) = 1 − 1/5 = 0.8 exactly; the oracle
    // replays the formula over the generated clique edges.
    "q124_modularity" -> ((s, _) => {
      val g = Generators.caveman(s, 5, 6)
      val labels = graft.metrics.GraphFeatures.labelPropagation(s, g, rounds = 4)
      graft.metrics.GraphFeatures.modularity(g, labels)
    }),

    // A6 Spearman ρ(PageRank, degree) on the supplier graph — the
    // benchmark_correlations pipeline shape. Oracle-checked end-to-end:
    // closed-form pagerank (see q23) + degree + avg-tie-rank corr.
    "q37_rank_corr" -> ((s, d) => {
      val g = supplierGraph(s, d)
      val pr = pagerankFrame(s, d)
      val deg = GraphOps.degrees(g)
      import org.apache.spark.sql.{functions => F}
      val joined = pr.join(deg, "id")
      val rho = graft.metrics.Correlation.spearman(joined, "rank", "degree")
      import s.implicits._
      Seq(rho).toDF("rho").select(F.round(col("rho"), 6).as("rho"))
    })
  )

  /** The lineitem-graph CTE shared by the graph-feature oracles (same
    * construction as q17's). */
  private val lineitemGraphSql: String =
    """e AS (
      |  SELECT DISTINCT src, dst FROM (
      |    SELECT l_orderkey AS src, l_partkey AS dst FROM lineitem
      |    UNION ALL
      |    SELECT l_partkey AS src, l_orderkey AS dst FROM lineitem)
      |  WHERE src < dst),
      |deg AS (
      |  SELECT id, count(*) AS degree FROM (
      |    SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)
      |  GROUP BY id)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // Correlation-matrix invariant oracle (see the q40 query body):
    // fixed measure enumeration, algebra booleans pinned TRUE.
    "q40_correlation_bench" ->
      """SELECT unnest(['degree_centrality', 'pagerank', 'eigenvector',
        |    'closeness', 'betweenness', 'load']) AS centrality,
        |  TRUE AS rho_range_ok, TRUE AS sym_ok, TRUE AS diag_ok,
        |  TRUE AS route_agree_ok""".stripMargin,

    // Closed-form grid vertex enumeration + the reference's embedding
    // invariants pinned TRUE (see the q20/q21 query comments).
    "q20_eigen_grid" ->
      """SELECT CAST(range AS BIGINT) AS id, TRUE AS finite_ok,
        |  TRUE AS spread_ok FROM range(400)""".stripMargin,

    "q21_layout_grid" ->
      """SELECT CAST(range AS BIGINT) AS id, TRUE AS finite_ok,
        |  TRUE AS spread_ok FROM range(144)""".stripMargin,

    // Cascade laws + bit-exact replay pinned TRUE.
    "q22_ic_spread" ->
      """SELECT CAST(3 AS BIGINT) AS n_seeds, TRUE AS seeds_activated,
        |  TRUE AS spread_in_bounds, TRUE AS replay_identical""".stripMargin,

    "q39_greedy_seeds" ->
      """SELECT CAST(3 AS BIGINT) AS k, TRUE AS distinct_ok,
        |  TRUE AS ids_in_range, TRUE AS replay_identical""".stripMargin,

    // Grid: BFS hops from the corner pair {0, 119} = the MIN of the two
    // Manhattan distances (id = row·12 + col on the 12-wide grid).
    // Tree: hops from the root = depth; the 3-ary level boundaries are
    // [(3^d−1)/2, (3^(d+1)−3)/2], spelled as CASE ranges (h=5).
    "q94_bfs_distances" ->
      """SELECT CAST(id AS BIGINT) AS id,
        |  CAST(least(id % 12 + id // 12,
        |             (11 - id % 12) + (9 - id // 12)) AS BIGINT) AS dist
        |FROM range(120) t(id)
        |UNION ALL
        |SELECT CAST(10000 + id AS BIGINT),
        |  CAST(CASE WHEN id = 0 THEN 0 WHEN id <= 3 THEN 1
        |       WHEN id <= 12 THEN 2 WHEN id <= 39 THEN 3
        |       WHEN id <= 120 THEN 4 ELSE 5 END AS BIGINT)
        |FROM range(364) t(id)""".stripMargin,

    // Synchronous min-tiebreak LPA on disjoint 6-cliques: round 1 sends
    // every non-minimum to the clique minimum (and the minimum to the
    // second-smallest), round 2's majority vote fixes the minimum too —
    // from round 2 on every label is the clique min, 6·(id div 6).
    "q95_label_prop" ->
      """SELECT CAST(id AS BIGINT) AS id,
        |  CAST(6 * (id // 6) AS BIGINT) AS label
        |FROM range(30) t(id)""".stripMargin,

    // Closed form of the composite: cycle members label with the cycle
    // minimum, chain vertices and the upstream vertex are singletons.
    "q102_scc" ->
      """SELECT CAST(id AS BIGINT) AS id, CAST(0 AS BIGINT) AS component
        |FROM range(4) t(id)
        |UNION ALL
        |SELECT CAST(10 + id AS BIGINT), CAST(10 AS BIGINT) FROM range(3) t(id)
        |UNION ALL
        |SELECT CAST(20 + id AS BIGINT), CAST(20 + id AS BIGINT) FROM range(3) t(id)
        |UNION ALL
        |SELECT CAST(30 + id AS BIGINT), CAST(30 AS BIGINT) FROM range(2) t(id)
        |UNION ALL
        |SELECT CAST(40 AS BIGINT), CAST(40 AS BIGINT)""".stripMargin,

    // Three chained power-iteration CTEs with the IDENTICAL double
    // arithmetic (every constant CAST to DOUBLE first — DuckDB decimal
    // literals would otherwise compute 1 − 0.85 exactly where IEEE
    // gives 0.15000000000000002): x' = (1−α)s + α·Σ x_u/deg(u) over
    // both edge directions, frames carrying only the nonzero support.
    "q112_ppr" -> {
      def iter(prev: String, cur: String): String =
        s"""c$cur AS (
           |  SELECT adj.v AS id, sum(x$prev.v / deg.degree) AS c
           |  FROM adj JOIN x$prev ON x$prev.id = adj.u
           |  JOIN deg ON deg.id = adj.u GROUP BY 1),
           |x$cur AS (
           |  SELECT coalesce(c$cur.id, sd.id) AS id,
           |    (1 - CAST(0.85 AS DOUBLE)) * coalesce(sd.s, 0) +
           |    CAST(0.85 AS DOUBLE) * coalesce(c$cur.c, 0) AS v
           |  FROM c$cur FULL JOIN sd ON sd.id = c$cur.id)""".stripMargin
      s"""WITH $lineitemGraphSql,
         |adj AS (SELECT src AS u, dst AS v FROM e
         |        UNION ALL SELECT dst, src FROM e),
         |sd AS (SELECT CAST(unnest([1, 2, 3, 4, 5]) AS BIGINT) AS id,
         |         CAST(1.0 AS DOUBLE) / 5 AS s),
         |x0 AS (SELECT id, s AS v FROM sd),
         |${iter("0", "1")},
         |${iter("1", "2")},
         |${iter("2", "3")}
         |SELECT id, round(v, 6) AS ppr FROM x3 WHERE round(v, 6) > 0""".stripMargin
    },

    // Clique edges generated with range() self-joins; labels are the
    // q95 closed form (clique minima); the Q formula replays with the
    // identical division tree (integer/ integer → double in both).
    "q124_modularity" ->
      """WITH e AS (
        |  SELECT 6 * g.i + a.i AS src, 6 * g.i + b.i AS dst
        |  FROM range(5) g(i), range(6) a(i), range(6) b(i)
        |  WHERE a.i < b.i),
        |m AS (SELECT count(*) AS m FROM e),
        |lab AS (
        |  SELECT CAST(id AS BIGINT) AS id, 6 * (id // 6) AS label
        |  FROM range(30) t(id)),
        |deg AS (
        |  SELECT id, count(*) AS degree FROM (
        |    SELECT src AS id FROM e UNION ALL SELECT dst FROM e)
        |  GROUP BY 1),
        |mc AS (
        |  SELECT ls.label, count(*) AS mc
        |  FROM e JOIN lab ls ON ls.id = e.src
        |  JOIN lab ld ON ld.id = e.dst
        |  WHERE ls.label = ld.label GROUP BY 1),
        |dc AS (
        |  SELECT label, sum(degree) AS dc
        |  FROM deg JOIN lab USING (id) GROUP BY 1)
        |SELECT round(sum(coalesce(mc.mc, 0) / m.m -
        |    (dc.dc / (2 * m.m)) * (dc.dc / (2 * m.m))), 6) AS modularity,
        |  count(*) AS n_communities
        |FROM dc LEFT JOIN mc USING (label), m""".stripMargin,

    // The 4-truss of the composite = exactly the K4 (see the query
    // comment for why both peel rounds are needed to get here).
    "q122_ktruss" ->
      """SELECT CAST(a.i AS BIGINT) AS src, CAST(b.i AS BIGINT) AS dst
        |FROM range(4) a(i) JOIN range(4) b(i) ON a.i < b.i""".stripMargin,

    "q123_degree_distribution" ->
      s"""WITH $lineitemGraphSql
         |SELECT degree, count(*) AS n_vertices FROM deg
         |GROUP BY degree""".stripMargin,

    // Grid distances are Manhattan; the reciprocal sum over all other
    // vertices replays as one cross join (48² rows).
    "q117_harmonic" ->
      """WITH v AS (
        |  SELECT CAST(id AS BIGINT) AS id, id % 5 AS x, id // 5 AS y
        |  FROM range(20) t(id)),
        |d AS (
        |  SELECT a.id AS id, abs(a.x - b.x) + abs(a.y - b.y) AS dist
        |  FROM v a JOIN v b ON a.id <> b.id)
        |SELECT id, round(sum(CAST(1.0 AS DOUBLE) / dist), 6) AS harmonic
        |FROM d GROUP BY id""".stripMargin,

    // Closed form (see the query comment): corner-to-corner Manhattan
    // distance of the 6×5 grid, peripheral vertex = opposite corner.
    "q109_pseudo_diameter" ->
      """SELECT CAST(0 AS BIGINT) AS start, CAST(9 AS BIGINT) AS ecc_start,
        |  CAST(29 AS BIGINT) AS peripheral, CAST(9 AS BIGINT) AS diameter_lb,
        |  CAST(30 AS BIGINT) AS n_reachable""".stripMargin,

    // The unique grid MST enumerated directly: every horizontal edge
    // (row paths, weight 1.0) + the column-0 vertical between each
    // adjacent row pair (the minimum of that cut's distinct weights).
    "q110_mst" ->
      """SELECT CAST(s AS BIGINT) AS src, CAST(s + 1 AS BIGINT) AS dst,
        |  CAST(1.0 AS DOUBLE) AS w
        |FROM range(120) t(s) WHERE s % 12 < 11
        |UNION ALL
        |SELECT CAST(12 * r AS BIGINT), CAST(12 * r + 12 AS BIGINT),
        |  round(2.0 + 12 * r * 0.000001, 6)
        |FROM range(9) t(r)""".stripMargin,

    // Full path enumeration over the DAG (each node has ≤ 2 incoming
    // edges, so path counts stay tiny) + min per vertex.
    "q99_sssp" ->
      """WITH RECURSIVE ed AS (
        |  SELECT CAST((dst - 1) // 3 AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst,
        |    CAST(dst % 7 + 1 AS BIGINT) AS w FROM range(1, 364) t(dst)
        |  UNION ALL
        |  SELECT CAST(0 AS BIGINT), CAST(id AS BIGINT), CAST(3 AS BIGINT)
        |  FROM range(4, 13) t(id)
        |  UNION ALL
        |  SELECT CAST(0 AS BIGINT), CAST(id AS BIGINT), CAST(20 AS BIGINT)
        |  FROM range(121, 364) t(id) WHERE id % 17 = 0),
        |paths(id, d) AS (
        |  SELECT CAST(0 AS BIGINT) AS id, CAST(0 AS BIGINT) AS d
        |  UNION ALL
        |  SELECT ed.dst, paths.d + ed.w FROM paths JOIN ed ON ed.src = paths.id)
        |SELECT id, min(d) AS dist FROM paths GROUP BY id""".stripMargin,

    // Same triangle set (plain a<b<c enumeration) over 3× + the
    // degree-wedge sum; one rounded division.
    "q156_transitivity" ->
      s"""WITH $lineitemGraphSql,
         |t AS (
         |  SELECT count(*) AS tri
         |  FROM e e1 JOIN e e2 ON e2.src = e1.dst
         |  JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst),
         |w AS (SELECT sum(degree * (degree - 1) // 2) AS wedges FROM deg)
         |SELECT CAST(tri AS BIGINT) AS n_triangles,
         |  CAST(wedges AS BIGINT) AS n_wedges,
         |  round(CASE WHEN wedges > 0
         |    THEN 3.0 * tri / wedges ELSE 0.0 END, 6) AS transitivity
         |FROM t, w""".stripMargin,

    // Common neighbors per adjacent pair from the wedge join, then the
    // identical |∩| / (da + db − 2 − |∩|) arithmetic.
    "q157_edge_jaccard" ->
      s"""WITH $lineitemGraphSql,
         |adj AS (SELECT src AS a, dst AS b FROM e
         |        UNION ALL SELECT dst, src FROM e),
         |c AS (
         |  SELECT l.a AS u, r.a AS v, count(*) AS n_common
         |  FROM adj l JOIN adj r ON l.b = r.b AND l.a < r.a
         |  GROUP BY 1, 2),
         |j AS (
         |  SELECT e.src, e.dst, coalesce(c.n_common, 0) AS n_common
         |  FROM e LEFT JOIN c ON c.u = e.src AND c.v = e.dst)
         |SELECT j.src, j.dst, CAST(j.n_common AS BIGINT) AS n_common,
         |  round(CASE WHEN ds.degree + dd.degree - 2 - j.n_common > 0
         |    THEN j.n_common /
         |      CAST(ds.degree + dd.degree - 2 - j.n_common AS DOUBLE)
         |    ELSE 0.0 END, 6) AS jaccard
         |FROM j JOIN deg ds ON ds.id = j.src
         |JOIN deg dd ON dd.id = j.dst""".stripMargin,

    // Same degree cuts and pair counting at each k.
    "q174_rich_club" ->
      s"""WITH $lineitemGraphSql,
         |ks AS (SELECT unnest([2, 4, 8, 16]) AS k),
         |nk AS (SELECT k, count(*) AS n FROM deg, ks
         |       WHERE degree > k GROUP BY 1),
         |ek AS (SELECT k, count(*) AS m
         |  FROM e JOIN deg ds ON ds.id = e.src
         |  JOIN deg dd ON dd.id = e.dst, ks
         |  WHERE ds.degree > k AND dd.degree > k GROUP BY 1)
         |SELECT ks.k, coalesce(nk.n, 0) AS n_nodes,
         |  coalesce(ek.m, 0) AS n_edges,
         |  round(CASE WHEN coalesce(nk.n, 0) >= 2
         |    THEN 2.0 * coalesce(ek.m, 0) / (nk.n * (nk.n - 1))
         |    ELSE 0.0 END, 6) AS phi
         |FROM ks LEFT JOIN nk USING (k) LEFT JOIN ek USING (k)""".stripMargin,

    // Stars are trees: bipartite, size s+1, component = nation root.
    "q166_bipartite" ->
      """SELECT CAST(s_nationkey AS BIGINT) AS component,
        |  CAST(count(*) + 1 AS BIGINT) AS n_vertices,
        |  TRUE AS is_bipartite
        |FROM supplier GROUP BY 1""".stripMargin,

    // Closed-form Manhattan balls on the 12×10 grid; the HLL accuracy
    // boolean is pinned TRUE (sparse-mode sketches are exact far below
    // 2^lgK registers).
    "q158_anf_hyperball" ->
      """SELECT a.id, CAST(r.r AS INT) AS r, count(*) AS ball_exact,
        |  TRUE AS anf_ok
        |FROM range(120) a(id) CROSS JOIN range(5) r(r)
        |JOIN range(120) b(id)
        |  ON abs(a.id % 12 - b.id % 12) + abs(a.id // 12 - b.id // 12)
        |     <= r.r
        |GROUP BY 1, 2""".stripMargin,

    // Plain a<b<c triangle enumeration (the triangle SET is identical
    // to the Spark side's degree-oriented enumeration), corners
    // exploded and counted, coefficient from the closed formula.
    "q80_clustering_coeff" ->
      s"""WITH $lineitemGraphSql,
         |tri AS (
         |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
         |  FROM e e1 JOIN e e2 ON e2.src = e1.dst
         |  JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst),
         |tc AS (
         |  SELECT id, count(*) AS n_tri FROM (
         |    SELECT a AS id FROM tri UNION ALL
         |    SELECT b FROM tri UNION ALL
         |    SELECT c FROM tri)
         |  GROUP BY id)
         |SELECT d.id, d.degree, coalesce(tc.n_tri, 0) AS n_tri,
         |  round(CASE WHEN d.degree >= 2
         |    THEN 2.0 * coalesce(tc.n_tri, 0) / (d.degree * (d.degree - 1))
         |    ELSE 0.0 END, 6) AS coeff
         |FROM deg d LEFT JOIN tc USING (id)""".stripMargin,

    "q81_link_prediction" ->
      s"""WITH $lineitemGraphSql,
         |adj AS (
         |  SELECT src AS w, dst AS n FROM e
         |  UNION ALL SELECT dst, src FROM e),
         |cen AS (
         |  SELECT adj.w, adj.n, deg.degree AS wdeg
         |  FROM adj JOIN deg ON deg.id = adj.w WHERE deg.degree <= 10000),
         |p AS (
         |  SELECT a.n AS u, b.n AS v, count(*) AS n_common,
         |    sum(1.0 / ln(a.wdeg)) AS aa
         |  FROM cen a JOIN cen b ON a.w = b.w AND a.n < b.n
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |cand AS (
         |  SELECT * FROM p WHERE NOT EXISTS (
         |    SELECT 1 FROM e WHERE e.src = p.u AND e.dst = p.v))
         |SELECT u, v, n_common,
         |  round(n_common / CAST(du.degree + dv.degree - n_common AS DOUBLE), 6)
         |    AS jaccard,
         |  round(aa, 6) AS adamic_adar
         |FROM cand JOIN deg du ON du.id = cand.u
         |JOIN deg dv ON dv.id = cand.v""".stripMargin,

    "q93_components_df" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id,
        |       CAST(n_nationkey AS BIGINT) AS component FROM nation
        |WHERE n_nationkey IN (SELECT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT CAST(s_suppkey + 100000 AS BIGINT),
        |       CAST(s_nationkey AS BIGINT) FROM supplier""".stripMargin,

    // Each step joins on (vertex, chosen rank); the choice is
    // (md5₁₃ of "seed:walk:step") mod degree — 52-bit non-negative,
    // identical arithmetic in both engines.
    "q92_random_walks" ->
      s"""WITH $lineitemGraphSql,
         |adj AS (
         |  SELECT id, nbr,
         |    row_number() OVER (PARTITION BY id ORDER BY nbr) - 1 AS rk
         |  FROM (SELECT src AS id, dst AS nbr FROM e
         |        UNION ALL SELECT dst, src FROM e)),
         |v AS (SELECT DISTINCT id FROM adj),
         |s1 AS (
         |  SELECT v.id AS walk_id, adj.nbr AS cur
         |  FROM v JOIN deg ON deg.id = v.id
         |  JOIN adj ON adj.id = v.id AND adj.rk =
         |    CAST('0x' || substr(md5('42:' || CAST(v.id AS VARCHAR) || ':1'), 1, 13)
         |      AS BIGINT) % deg.degree),
         |s2 AS (
         |  SELECT s1.walk_id, adj.nbr AS cur
         |  FROM s1 JOIN deg ON deg.id = s1.cur
         |  JOIN adj ON adj.id = s1.cur AND adj.rk =
         |    CAST('0x' || substr(md5('42:' || CAST(s1.walk_id AS VARCHAR) || ':2'), 1, 13)
         |      AS BIGINT) % deg.degree),
         |s3 AS (
         |  SELECT s2.walk_id, adj.nbr AS cur
         |  FROM s2 JOIN deg ON deg.id = s2.cur
         |  JOIN adj ON adj.id = s2.cur AND adj.rk =
         |    CAST('0x' || substr(md5('42:' || CAST(s2.walk_id AS VARCHAR) || ':3'), 1, 13)
         |      AS BIGINT) % deg.degree)
         |SELECT id AS walk_id, 0 AS step, id AS node FROM v
         |UNION ALL SELECT walk_id, 1, cur FROM s1
         |UNION ALL SELECT walk_id, 2, cur FROM s2
         |UNION ALL SELECT walk_id, 3, cur FROM s3""".stripMargin,

    "q86_kcore" ->
      """SELECT CAST(id AS BIGINT) AS id, CAST(1 AS BIGINT) AS core
        |FROM range(364) t(id)
        |UNION ALL
        |SELECT CAST(1000 + id AS BIGINT), CAST(5 AS BIGINT) FROM range(24) t(id)
        |UNION ALL
        |SELECT CAST(2000 + id AS BIGINT), CAST(2 AS BIGINT) FROM range(48) t(id)""".stripMargin,

    "q82_assortativity" ->
      s"""WITH $lineitemGraphSql,
         |b AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e)
         |SELECT round(corr(CAST(ds.degree AS DOUBLE), CAST(dd.degree AS DOUBLE)), 6)
         |  AS assortativity
         |FROM b JOIN deg ds ON ds.id = b.src
         |JOIN deg dd ON dd.id = b.dst""".stripMargin,

    "q14_gen_grid" ->
      """SELECT src, src + 1 AS dst FROM range(600) t(src) WHERE src % 30 < 29
        |UNION ALL
        |SELECT src, src + 30 AS dst FROM range(600) t(src) WHERE src < 570""".stripMargin,

    "q15_gen_tree" ->
      """SELECT (dst - 1) // 3 AS src, dst FROM range(1, 364) t(dst)""".stripMargin,

    "q16_gen_caveman" ->
      """SELECT a.src, b.dst FROM range(30) a(src), range(30) b(dst)
        |WHERE a.src < b.dst AND a.src // 6 = b.dst // 6""".stripMargin,

    "q17_triangles" ->
      """WITH e AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT l_orderkey AS src, l_partkey AS dst FROM lineitem
        |    UNION ALL
        |    SELECT l_partkey AS src, l_orderkey AS dst FROM lineitem)
        |  WHERE src < dst)
        |SELECT count(*) AS n_triangles
        |FROM e e1 JOIN e e2 ON e1.dst = e2.src
        |JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst""".stripMargin,

    "q18_connected_components" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id,
        |       CAST(n_nationkey AS BIGINT) AS component FROM nation
        |WHERE n_nationkey IN (SELECT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT CAST(s_suppkey + 100000 AS BIGINT),
        |       CAST(s_nationkey AS BIGINT) FROM supplier""".stripMargin,

    "q19_supplier_degrees" ->
      """SELECT id, count(*) AS degree FROM (
        |  SELECT CAST(s_nationkey AS BIGINT) AS id FROM supplier
        |  UNION ALL
        |  SELECT CAST(s_suppkey + 100000 AS BIGINT) FROM supplier)
        |GROUP BY id""".stripMargin,

    // The supplier graph is a disjoint union of per-nation stars:
    // Wasserman-Faust closeness and Brandes betweenness have closed
    // forms. N = nations-with-suppliers + suppliers; s_u = star size.
    "q35_closeness" ->
      """WITH su AS (SELECT s_nationkey AS nk, count(*) AS s FROM supplier GROUP BY 1),
        |nn AS (SELECT (SELECT count(*) FROM su) + (SELECT count(*) FROM supplier) AS n)
        |SELECT CAST(nk AS BIGINT) AS id,
        |  round((s * 1.0 / (n - 1)) * 1.0, 6) AS closeness
        |FROM su, nn
        |UNION ALL
        |SELECT CAST(s_suppkey + 100000 AS BIGINT),
        |  round((su.s * 1.0 / (n - 1)) * (su.s * 1.0 / (1 + 2 * (su.s - 1))), 6)
        |FROM supplier JOIN su ON su.nk = s_nationkey, nn""".stripMargin,

    "q36_betweenness" ->
      """WITH su AS (SELECT s_nationkey AS nk, count(*) AS s FROM supplier GROUP BY 1),
        |nn AS (SELECT (SELECT count(*) FROM su) + (SELECT count(*) FROM supplier) AS n)
        |SELECT CAST(nk AS BIGINT) AS id,
        |  round(s * (s - 1.0) / ((n - 1.0) * (n - 2.0)), 9) AS betweenness
        |FROM su, nn
        |UNION ALL
        |SELECT CAST(s_suppkey + 100000 AS BIGINT), 0.0 FROM supplier""".stripMargin,

    // GraphX staticPageRank(10) semantics (pinned empirically against
    // Spark 4.1: init 1.0; r' = 0.15 + 0.85·Σ_in r/outdeg per round; ONE
    // final normalization to sum(r) = n). All edges here point
    // nation → supplier, so suppliers are dangling (send nothing) and
    // nations have in-degree 0: from round 2 on, r(nation) = 0.15 and
    // r(supplier in a star of s) = 0.15 + 0.85·0.15/s — exact closed
    // form at 10 rounds. Unnormalized total = 0.15·n + 0.1275·#nations
    // (each star's suppliers contribute Σ 1/s = 1 per nation).
    "q23_pagerank" ->
      """WITH su AS (SELECT s_nationkey AS nk, count(*) AS s FROM supplier GROUP BY 1),
        |c AS (SELECT (SELECT count(*) FROM su) AS nn,
        |             (SELECT count(*) FROM supplier) AS ns),
        |sc AS (SELECT (nn + ns) * 1.0 / (0.15 * (nn + ns) + 0.1275 * nn) AS f
        |       FROM c)
        |SELECT CAST(nk AS BIGINT) AS id, round(0.15 * f, 6) AS rank
        |FROM su, sc
        |UNION ALL
        |SELECT CAST(s_suppkey + 100000 AS BIGINT),
        |  round((0.15 + 0.1275 / su.s) * f, 6)
        |FROM supplier JOIN su ON su.nk = s_nationkey, sc""".stripMargin,

    // Spearman ρ over (closed-form pagerank, degree), average tie ranks
    // (the q13 rank-correlation shape on the q23/q19 oracle columns;
    // the Spark side correlates the ROUNDED q23 ranks, so the oracle
    // rounds before ranking too — rounding merges tie groups).
    "q37_rank_corr" ->
      """WITH su AS (SELECT s_nationkey AS nk, count(*) AS s FROM supplier GROUP BY 1),
        |c AS (SELECT (SELECT count(*) FROM su) AS nn,
        |             (SELECT count(*) FROM supplier) AS ns),
        |sc AS (SELECT (nn + ns) * 1.0 / (0.15 * (nn + ns) + 0.1275 * nn) AS f
        |       FROM c),
        |pr AS (
        |  SELECT CAST(nk AS BIGINT) AS id, round(0.15 * f, 6) AS x
        |  FROM su, sc
        |  UNION ALL
        |  SELECT CAST(s_suppkey + 100000 AS BIGINT),
        |    round((0.15 + 0.1275 / su.s) * f, 6)
        |  FROM supplier JOIN su ON su.nk = s_nationkey, sc),
        |deg AS (
        |  SELECT id, count(*) AS y FROM (
        |    SELECT CAST(s_nationkey AS BIGINT) AS id FROM supplier
        |    UNION ALL
        |    SELECT CAST(s_suppkey + 100000 AS BIGINT) FROM supplier)
        |  GROUP BY id),
        |j AS (SELECT x, y FROM pr JOIN deg USING (id)),
        |ranked AS (
        |  SELECT x, y,
        |    row_number() OVER (ORDER BY x) AS rnx,
        |    row_number() OVER (ORDER BY y) AS rny
        |  FROM j),
        |tied AS (
        |  SELECT avg(rnx) OVER (PARTITION BY x) AS rx,
        |         avg(rny) OVER (PARTITION BY y) AS ry
        |  FROM ranked)
        |SELECT round(corr(rx, ry), 6) AS rho FROM tied""".stripMargin
  )
}
