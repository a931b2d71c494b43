package graft.metrics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.GraphOps

/** Per-vertex and per-pair structural graph features — the
  * feature-engineering layer a link-prediction / graph-ML pipeline
  * computes over an edge list (beyond the reference's centrality set;
  * the reference stops at the classical centralities built in
  * benchmark.py:73-107 and the radial metrics).
  *
  * All inputs are canonical undirected edge lists (`src < dst`, no
  * self-loops — [[GraphOps.undirect]] output). Everything here is a
  * pure DataFrame program whose shuffles key on vertex or pair ids:
  *
  *  - [[triangles]] uses the degree-ordered orientation ("compact
  *    forward"): each edge is directed from its lower-(degree, id)
  *    endpoint, so every vertex's out-neighborhood is O(sqrt m) on any
  *    graph and the wedge self-join is bounded by m^(3/2) WORK TOTAL,
  *    never by the square of a hub's degree — the standard bound that
  *    makes distributed triangle enumeration survive skewed degree
  *    distributions at 100 TB.
  *  - [[linkPrediction]] enumerates wedges through each shared
  *    neighbor; work is sum(deg(w)^2) over wedge centers, so hubs above
  *    `maxCenterDeg` are excluded (documented operator semantics, the
  *    same stop-shingle reasoning as Dedup.jaccardPairs — a hub shared
  *    by everything carries no pairwise signal and only quadratic
  *    cost).
  */
object GraphFeatures {

  /** One row per triangle {a, b, c}, emitted exactly once with the
    * wedge center first (the triangle's (degree, id)-minimum vertex)
    * and `b < c` by id. Two shuffles on vertex keys + one on the
    * closing-edge pair key. */
  def triangles(edges: DataFrame): DataFrame =
    trianglesWithHandles(edges)._1

  /** [[triangles]] plus the internally persisted frames, so an
    * ITERATIVE caller (kTruss re-enumerates per peel round) can
    * unpersist them once the round's aggregate is materialized. */
  private[metrics] def trianglesWithHandles(
      edges: DataFrame): (DataFrame, Seq[DataFrame]) = {
    // deg feeds two attach joins and arcs feeds both sides of the wedge
    // self-join; Catalyst duplicates unshared subtrees (it plans a tree,
    // not a DAG), so without the persists the degree aggregate ran twice
    // and the whole deg-attach pipeline four times (measured: 4×
    // exchanges of the same frame in one q156 run — guide §2.4).
    val deg = GraphOps.degrees(edges)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // direct each edge from its lower-(degree, id) endpoint; src<dst
    // canonical input makes the tie case u=src
    val arcs = edges
      .join(deg.withColumnRenamed("id", "src").withColumnRenamed("degree", "sdeg"), "src")
      .join(deg.withColumnRenamed("id", "dst").withColumnRenamed("degree", "ddeg"), "dst")
      .select(
        when(col("sdeg") <= col("ddeg"), col("src")).otherwise(col("dst")).as("u"),
        when(col("sdeg") <= col("ddeg"), col("dst")).otherwise(col("src")).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // wedges at u over its (bounded) out-neighborhood, closed by the
    // canonical edge (x, y), x<y by id
    val a1 = arcs.select(col("u"), col("v").as("x"))
    val a2 = arcs.select(col("u"), col("v").as("y"))
    val tri = a1.join(a2, "u").filter(col("x") < col("y"))
      .join(edges.withColumnRenamed("src", "x").withColumnRenamed("dst", "y"),
        Seq("x", "y"), "left_semi")
      .select(col("u").as("a"), col("x").as("b"), col("y").as("c"))
    (tri, Seq(deg, arcs))
  }

  /** Per-vertex triangle participation count: each triangle counted at
    * all three corners. `tri` lets a caller that already materialized
    * [[triangles]] for the same graph reuse it (the q156/q157/q80
    * family shares one enumeration per session that way). */
  def triangleCounts(edges: DataFrame, tri: Option[DataFrame] = None): DataFrame =
    tri.getOrElse(triangles(edges))
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_tri"))

  /** Local clustering coefficient per vertex:
    * `2·T(v) / (deg(v)·(deg(v)−1))`, 0 for degree < 2. Emits every
    * vertex with its degree and triangle count (coefficient rounded to
    * 6 so the double division hashes stably across engines). */
  def localClustering(edges: DataFrame, tri: Option[DataFrame] = None): DataFrame = {
    val deg = GraphOps.degrees(edges)
    deg.join(triangleCounts(edges, tri), Seq("id"), "left_outer")
      .select(col("id"), col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        round(
          when(col("degree") >= 2,
            lit(2.0) * coalesce(col("n_tri"), lit(0L)) /
              (col("degree") * (col("degree") - 1)))
            .otherwise(lit(0.0)), 6).as("coeff"))
  }

  /** Global transitivity: `3·#triangles / #wedges` with
    * `#wedges = Σ_v deg(v)·(deg(v)−1)/2` — the one-number clustering
    * summary beside [[localClustering]]'s per-vertex view. One
    * triangle enumeration (the m^(3/2)-bounded [[triangles]] plan) and
    * one degree aggregate; both collapse to single-row frames before
    * the final broadcast-tiny cross join. Integer counts, one rounded
    * double division — engine-exact. */
  def transitivity(edges: DataFrame, triOpt: Option[DataFrame] = None): DataFrame = {
    val tri = triOpt.getOrElse(triangles(edges)).agg(count(lit(1)).as("n_triangles"))
    val wedges = GraphOps.degrees(edges)
      .agg(sum(expr("degree * (degree - 1) div 2")).as("n_wedges"))
    tri.crossJoin(broadcast(wedges))
      .select(col("n_triangles"), col("n_wedges"),
        round(when(col("n_wedges") > 0,
          lit(3.0) * col("n_triangles") / col("n_wedges"))
          .otherwise(lit(0.0)), 6).as("transitivity"))
  }

  /** Per-edge neighborhood Jaccard similarity:
    * `|N(a)∩N(b)| / |N(a)∪N(b) − {a,b}|` for every edge (a,b) — the
    * local-similarity score graph sparsification keeps top-k of
    * (Satuluri et al. 2011): intra-community edges score high, bridges
    * score ~0. The common-neighbor count per edge is exactly the
    * number of triangles THROUGH that edge, so it reuses
    * [[triangles]]' skew-bounded enumeration (explode each triangle to
    * its three canonical edges + one pair-keyed count) instead of a
    * raw wedge self-join — hub degrees never square. Two broadcast-
    * eligible degree joins finish; edges on no triangle score 0. */
  def edgeJaccard(edges: DataFrame, tri: Option[DataFrame] = None): DataFrame = {
    val deg = GraphOps.degrees(edges)
    val common = tri.getOrElse(triangles(edges))
      .select(explode(array(
        array(col("a"), col("b")), array(col("a"), col("c")),
        array(col("b"), col("c")))).as("p"))
      .select(least(col("p")(0), col("p")(1)).as("src"),
        greatest(col("p")(0), col("p")(1)).as("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("n_common"))
    edges.join(common, Seq("src", "dst"), "left_outer")
      .na.fill(0L, Seq("n_common"))
      .join(deg.select(col("id").as("src"), col("degree").as("_ds")), "src")
      .join(deg.select(col("id").as("dst"), col("degree").as("_dd")), "dst")
      .select(col("src"), col("dst"), col("n_common"),
        round(when(col("_ds") + col("_dd") - 2 - col("n_common") > 0,
          col("n_common") /
            (col("_ds") + col("_dd") - 2 - col("n_common")).cast("double"))
          .otherwise(lit(0.0)), 6).as("jaccard"))
  }

  /** Approximate neighborhood function via HyperBall (Boldi & Vigna
    * 2013): per vertex and radius r ∈ [0, maxR], the estimated number
    * of vertices within ≤ r hops, maintained as an HLL sketch per
    * vertex that each round absorbs its neighbors' sketches — the
    * O(m·maxR) sketch-merge dataflow that computes distance
    * distributions and effective diameters on graphs where all-pairs
    * BFS is unthinkable (registers per vertex are constant-size; the
    * round is one vertex-keyed join + one vertex-keyed
    * `hll_union_agg`).
    *
    * Beside the sketch, an EXACT ball twin (iterated distinct
    * (vertex, member) pairs — Σ|ball| state, affordable on bounded
    * test graphs, the q84/q88 exact-beside-sketch audit pattern) lets
    * the output carry `anf_ok`: the HLL estimate within
    * `max(1, tol·exact)` of truth. At 100 TB the sketch column IS the
    * operator; the exact twin is the harness. Each round's states are
    * lineage-checkpointed ([[graft.util.Iterate]]); handles stay
    * persisted because every round contributes rows to the output. */
  def neighborhoodFunction(spark: org.apache.spark.sql.SparkSession,
                           edges: DataFrame, maxR: Int,
                           lgK: Int = 12, tol: Double = 0.05): DataFrame = {
    require(maxR >= 1, s"neighborhoodFunction needs maxR >= 1, got $maxR")
    // static across rounds — partitioned + sorted on the sketch/ball
    // join's key (dst), so rounds exchange only the evolving state
    // (guide §2.4); persisted because TWO joins read it per round
    val adj = edges.union(edges.select(col("dst").as("src"),
        col("src").as("dst")))
      .repartition(col("dst")).sortWithinPartitions("dst")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vertices = adj.select(col("src").as("id")).distinct()
    var sk = vertices.groupBy("id")
      .agg(hll_sketch_agg(col("id"), lit(lgK)).as("sk"))
    var ball = vertices.select(col("id"), col("id").as("u"))
    val rounds = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def snapshot(r: Int): DataFrame =
      sk.select(col("id"), hll_sketch_estimate(col("sk")).as("_est"))
        .join(ball.groupBy("id").agg(count(lit(1)).as("ball_exact")), "id")
        .select(col("id"), lit(r).as("r"), col("ball_exact"),
          (abs(col("_est") - col("ball_exact")) <=
            greatest(lit(1.0), lit(tol) * col("ball_exact"))).as("anf_ok"))
    sk = graft.util.Iterate.checkpoint(spark, sk)._1
    ball = graft.util.Iterate.checkpoint(spark, ball)._1
    rounds += snapshot(0)
    for (r <- 1 to maxR) {
      val skMsgs = adj.join(sk.withColumnRenamed("id", "dst"), "dst")
        .select(col("src").as("id"), col("sk"))
      sk = graft.util.Iterate.checkpoint(spark,
        skMsgs.union(sk).groupBy("id")
          .agg(hll_union_agg(col("sk")).as("sk")))._1
      val ballMsgs = adj.join(ball.withColumnRenamed("id", "dst"), "dst")
        .select(col("src").as("id"), col("u"))
      ball = graft.util.Iterate.checkpoint(spark,
        ballMsgs.union(ball).distinct())._1
      rounds += snapshot(r)
    }
    rounds.reduce(_ unionByName _)
  }

  /** Link-prediction candidate scores for NON-adjacent vertex pairs
    * that share at least `minCommon` neighbors: common-neighbor count,
    * Jaccard overlap of neighborhoods, and Adamic–Adar
    * (`Σ_w 1/ln deg(w)` over shared neighbors w — Adamic & Adar 2003).
    *
    * Wedge centers with degree > `maxCenterDeg` are excluded by
    * definition (see object doc): at 100 TB a hub shared by millions of
    * vertices would alone emit deg²/2 wedge rows while ranking every
    * pair it touches identically. The cap is the operator's semantics,
    * not a silent truncation — pairs are still complete for every
    * center at or below the cap.
    *
    * Shuffle structure: one (center)-keyed self-join, one (u, v) pair
    * aggregation with map-side partials, two broadcast-eligible degree
    * joins, one anti-join against the edge set on the pair key.
    *
    * PRECONDITION (like [[GraphOps.degrees]]): `edges` must be a
    * deduplicated, self-loop-free undirected edge list in the src<dst
    * canonical form ([[GraphOps.undirect]] produces exactly this).
    * The slice-based wedge enumeration relies on it: a duplicate
    * neighbor in a center's sorted array would emit u==v and repeated
    * pairs that the canonical edge set excludes by construction.
    */
  def linkPrediction(edges: DataFrame, minCommon: Int = 2,
                     maxCenterDeg: Int = 10000): DataFrame = {
    val adj = edges.select(col("src").as("w"), col("dst").as("n"))
      .union(edges.select(col("dst").as("w"), col("src").as("n")))
    // ONE hash aggregate folds the adjacency into a sorted neighbor
    // array per center; degree is size(ns), so no separate degree
    // aggregate or degree join. Wedge pairs are then enumerated by two
    // CHAINED generators over each array — the intermediate slice per
    // (center, u) row is ≤ deg elements, so memory stays bounded under
    // hub skew — replacing the old cached self-join (measured: the
    // centers repartition+sort+persist and the merge scan together
    // cost ~28 s CPU at sf0.1; the Σdeg²/2 pair rows and the pair
    // aggregate are unchanged — that volume is the algorithm). The
    // ascending array order makes u < v structural (slice starts past
    // u's position), and the Adamic–Adar term 1/ln(deg) is evaluated
    // once per CENTER, not once per wedge row.
    val deg = GraphOps.degrees(edges)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // LOSSLESS endpoint prune: n_common(u,v) ≤ min(deg(u), deg(v)), so
    // an entry whose own degree is < minCommon can never appear in a
    // surviving pair — drop it from every center's array BEFORE pair
    // enumeration (here ~1/7 of the order-side entries are degree-1
    // line items, and the wedge volume falls quadratically in the kept
    // fraction). Centers keep their FULL degree for the cap filter and
    // the Adamic–Adar weight via the deg join below.
    val adjF =
      if (minCommon > 1)
        adj.join(broadcast(deg.withColumnRenamed("id", "n")), "n")
          .filter(col("degree") >= minCommon).select(col("w"), col("n"))
      else adj
    val base = adjF.groupBy(col("w"))
      .agg(sort_array(collect_list(col("n"))).as("ns"))
      .join(broadcast(deg.withColumnRenamed("id", "w")), "w")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.util.Iterate.withObjectAggHash(edges.sparkSession) {
      base.count()
    }
    val ctr = base.filter(col("degree") <= maxCenterDeg)
      // degree-1 centers produce no u<v pair, so their _aaw value is
      // never summed — but ANSI mode evaluates the division on every
      // center, so guard ln(1)=0
      .withColumn("_aaw", when(col("degree") > 1,
        lit(1.0) / log(col("degree").cast("double"))).otherwise(lit(0.0)))
    // pack the pair key into ONE long when ids fit 32 bits (shuffle
    // rows shrink 32 → 24 B and the aggregate compares one word);
    // arbitrary id spaces take the generic two-column key
    // null-guarded (r15 ADVICE): min/max aggregate to null on an empty
    // edge frame — route the empty case through the generic key path,
    // which correctly yields an empty result
    val idRange = deg.agg(min(col("id")), max(col("id"))).head
    val packable = !idRange.isNullAt(0) && !idRange.isNullAt(1) &&
      idRange.getLong(0) >= 0 && idRange.getLong(1) < (1L << 31)
    val wedgesRaw = ctr
      .select(col("_aaw"), col("ns"), posexplode(col("ns")).as(Seq("i", "u")))
      .select(col("_aaw"), col("u"),
        explode(slice(col("ns"), col("i") + 2, size(col("ns")))).as("v"))
    val aggregated =
      if (packable)
        wedgesRaw
          .select((shiftleft(col("u"), 32) + col("v")).as("_k"), col("_aaw"))
          .groupBy("_k")
          .agg(count(lit(1)).as("n_common"), sum(col("_aaw")).as("aa"))
          .select(shiftright(col("_k"), 32).as("u"),
            col("_k").bitwiseAND(lit(0xFFFFFFFFL)).as("v"),
            col("n_common"), col("aa"))
      else
        wedgesRaw.groupBy("u", "v")
          .agg(count(lit(1)).as("n_common"), sum(col("_aaw")).as("aa"))
    val pairs = aggregated
      .filter(col("n_common") >= minCommon)
      // candidates only: drop pairs already linked (canonical u<v
      // matches the src<dst edge key directly)
      .join(edges.withColumnRenamed("src", "u").withColumnRenamed("dst", "v"),
        Seq("u", "v"), "left_anti")
    pairs
      .join(deg.withColumnRenamed("id", "u").withColumnRenamed("degree", "udeg"), "u")
      .join(deg.withColumnRenamed("id", "v").withColumnRenamed("degree", "vdeg"), "v")
      .select(col("u"), col("v"), col("n_common"),
        round(col("n_common") /
          (col("udeg") + col("vdeg") - col("n_common")).cast("double"), 6)
          .as("jaccard"),
        round(col("aa"), 6).as("adamic_adar"))
  }

  /** Core number (k-core decomposition) per vertex via iterated
    * neighborhood H-index (Lü, Zhou, Zhang & Stanley 2016, "The
    * H-index of a network node"): start from c₀(v) = deg(v) and
    * repeatedly set c(v) to the H-index of its neighbors' current
    * values — the unique fixpoint is the core number.
    *
    * This is the distributed formulation of choice at scale: the
    * classic sequential peel is inherently ordered, while each H-index
    * round here is one neighbor join + one per-vertex ordered
    * aggregate (H = max over the descending-sorted neighbor values of
    * min(rank, value)), all keyed on vertex id. Values only decrease,
    * so convergence is monotone; rounds needed in practice are small
    * (bounded by the core-value spread, not n). Lineage per round is
    * cut with [[graft.util.Iterate.checkpoint]].
    */
  def coreNumbers(spark: org.apache.spark.sql.SparkSession, edges: DataFrame,
                  maxIter: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // static across rounds; persisted pre-partitioned + sorted on the
    // round join's key so only the evolving H-index frame is ever
    // exchanged (the personalizedPageRank treatment, guide §2.4)
    val adj = edges.select(col("src").as("id"), col("dst").as("nbr"))
      .union(edges.select(col("dst").as("id"), col("src").as("nbr")))
      .repartition(col("nbr")).sortWithinPartitions("nbr")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val m2 = adj.count()
    var (c, handle) = graft.util.Iterate.checkpoint(spark,
      GraphOps.degrees(edges).withColumnRenamed("degree", "c"))
    var converged = false
    var it = 0
    // iterative state is orders smaller than the session's fact-table
    // shuffle sizing, and each H-index round is several vertex-keyed
    // stages — run the loop data-sized (the Layout/BFS loop treatment)
    graft.util.Iterate.withSizedShuffle(spark, m2) {
      while (!converged && it < maxIter) {
        val nbrVals = adj.join(
          c.withColumnRenamed("id", "nbr").withColumnRenamed("c", "cn"), "nbr")
          .select(col("id"), col("cn"))
        val w = Window.partitionBy("id").orderBy(col("cn").desc)
        val next = nbrVals
          .withColumn("rn", row_number().over(w).cast("long"))
          .groupBy("id").agg(max(least(col("rn"), col("cn"))).as("cNew"))
        // carry the previous value beside the new one: ONE checkpointed
        // frame serves both the next round's state and the convergence
        // check, with no extra join job afterward
        val (joined, nextHandle, changed) = graft.util.Iterate.checkpointWith(
          spark, c.join(next, "id")
            .select(col("id"), col("cNew").as("c"), col("c").as("cPrev")))(
          rdd => rdd.filter(r => r.getLong(1) != r.getLong(2)).count())
        converged = changed == 0
        handle.unpersist()
        c = joined.select("id", "c"); handle = nextHandle
        it += 1
      }
    }
    adj.unpersist()
    c.withColumnRenamed("c", "core")
  }

  /** Deterministic uniform random walks — DeepWalk / node2vec corpus
    * generation (Perozzi et al. 2014), the data-prep step that feeds a
    * skip-gram trainer from a graph. Every step's neighbor choice is
    * `hash(seed, walk, step) mod degree` with the hash drawn from the
    * first 13 md5 hex digits (52 bits, non-negative, exact in any
    * engine — the [[graft.pipeline.TextAnalysis.weightedSample]]
    * parity construction), so the full walk corpus is replayable
    * bit-for-bit on any cluster shape AND expressible in SQL for the
    * oracle gate.
    *
    * Shape: ONE hash aggregate folds the whole adjacency into a sorted
    * neighbor array per vertex (no window sort, no separate degree
    * frame — degree is `size(nbrs)` and the old rank-rk row is
    * `element_at(nbrs, rk+1)`, identical ascending-neighbor indexing),
    * then per step one equi-join of the walk state against that n-row
    * cached frame. The previous layout materialized a RANKED 2·m-row
    * frame plus a degree frame and ran TWO joins per step, each
    * merge-scanning all 2·m ranked rows; the array frame shrinks the
    * static side ~2·m/n ≈ 14× and halves the per-step joins.
    * Emits the long format (walk_id, step, node). */
  def randomWalks(edges: DataFrame, walkLen: Int,
                  seed: Long = 42): DataFrame = {
    require(walkLen >= 1, s"walkLen must be >= 1, got $walkLen")
    val spark = edges.sparkSession
    val adj = edges.select(col("src").as("id"), col("dst").as("nbr"))
      .union(edges.select(col("dst").as("id"), col("src").as("nbr")))
    // HUB-SEGMENTED arrays past `spark.graft.adjMaxChunk` neighbors
    // (r15 verdict #5, guide §2.5/§5): an unbounded per-vertex array
    // makes a 100 M-degree hub one multi-GB aggregation buffer and
    // row. The walk selects by RANK in ascending neighbor order, so
    // hub arrays split into rank-CONTIGUOUS chunks (row_number over
    // the hub's sorted arcs — a one-time spillable sort of only the
    // hub rows), each carrying (deg, offset); the draw lands in
    // exactly one chunk and `element_at(chunk, draw − offset + 1)`
    // reproduces the unchunked selection bit-for-bit. The route is
    // decided by a degree probe that only runs when the free upper
    // bound (total arcs = 2·|edges|) exceeds the cap — every bench
    // graph takes the probe-free unchunked path with the identical
    // plan as before.
    val maxChunk = spark.conf
      .get("spark.graft.adjMaxChunk", (1 << 22).toString).toInt
    val m2 = 2L * edges.count()
    lazy val degF = adj.groupBy("id").agg(count(lit(1)).as("deg"))
    val maxDeg =
      if (m2 <= maxChunk) m2
      else degF.agg(coalesce(max(col("deg")), lit(0L))).head.getLong(0)
    val chunked = maxDeg > maxChunk
    // static across steps: persisted partitioned + locally sorted on
    // the step join's key so each step's sort-merge join reuses the
    // cached layout and only the walk state is ever exchanged
    // (guide §2.4)
    val adjArr = (if (!chunked)
        adj.groupBy("id")
          .agg(sort_array(collect_list(col("nbr"))).as("nbrs"))
      else {
        import org.apache.spark.sql.expressions.Window
        val withDeg = adj.join(degF, "id")
        val small = withDeg.filter(col("deg") <= maxChunk)
          .groupBy("id")
          .agg(sort_array(collect_list(col("nbr"))).as("nbrs"),
            first(col("deg")).as("deg"))
          .select(col("id"), col("nbrs"), col("deg"), lit(0L).as("offset"))
        val hubs = withDeg.filter(col("deg") > maxChunk)
          .withColumn("_rn", row_number().over(
            Window.partitionBy("id").orderBy("nbr")).cast("long") - 1)
          .groupBy(col("id"), expr(s"_rn div $maxChunk").as("_chunk"))
          .agg(sort_array(collect_list(col("nbr"))).as("nbrs"),
            first(col("deg")).as("deg"))
          .select(col("id"), col("nbrs"), col("deg"),
            (col("_chunk") * maxChunk).as("offset"))
        small.unionByName(hubs)
      })
      .sortWithinPartitions("id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize the build eagerly under the raised ObjectHashAggregate
    // fallback threshold (see Iterate.withObjectAggHash: the default 128
    // turns this collect_list into a per-partition sort)
    graft.util.Iterate.withObjectAggHash(spark) {
      adjArr.count()
    }
    def draw(step: Int): Column =
      conv(substring(md5(concat_ws(":", lit(seed.toString),
        col("walk_id").cast("string"), lit(step.toString))), 1, 13), 16, 10)
        .cast("long")
    // step 0 is every distinct endpoint — exactly adjArr's key set, so
    // both its readers (step 1 and the final union) are cheap cache
    // projections; no separate vertex-distinct job (the chunked route
    // must dedupe: a hub key holds one row per chunk)
    var state: DataFrame =
      if (!chunked) adjArr.select(col("id").as("walk_id"), col("id").as("cur"))
      else adjArr.select(col("id").as("walk_id"), col("id").as("cur")).distinct()
    var out = state.select(col("walk_id"), lit(0).as("step"),
      col("cur").as("node"))
    for (t <- 1 until walkLen) {
      // persist each step: the final union reads every step's frame
      // once, and step t+1 extends step t without replaying its joins
      val joined = state.join(adjArr.withColumnRenamed("id", "cur"), "cur")
      state = (if (!chunked)
          joined.select(col("walk_id"),
            element_at(col("nbrs"),
              (draw(t) % size(col("nbrs"))).cast("int") + 1).as("cur"))
        else
          joined
            .withColumn("_draw", draw(t) % col("deg"))
            .filter(col("_draw") >= col("offset") &&
              col("_draw") < col("offset") + size(col("nbrs")))
            .select(col("walk_id"),
              element_at(col("nbrs"),
                (col("_draw") - col("offset")).cast("int") + 1).as("cur")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out = out.unionByName(
        state.select(col("walk_id"), lit(t).as("step"), col("cur").as("node")))
    }
    out
  }

  /** Multi-source BFS hop distances over an undirected edge list: one
    * row `(id, dist)` per vertex reachable from any of `sources`, with
    * `dist` = fewest hops to the nearest source.
    *
    * Frontier-expansion form: per round ONE vertex-keyed join of the
    * current frontier against the adjacency list, a distinct, and an
    * anti-join against the settled set — no per-vertex state beyond the
    * (id, dist) frame, lineage cut per round with
    * [[graft.util.Iterate.checkpoint]]. Rounds = eccentricity of the
    * source set, which on real-world (small-diameter) graphs is a
    * handful; each round's work is bounded by the frontier's incident
    * edges, so the total across rounds is O(m) — the textbook
    * distributed BFS shape. (Centralities' closeness runs the same
    * expansion over a bit-packed multi-source state; this is the
    * single-frame variant a feature pipeline joins FROM.)
    */
  def bfsDistances(spark: org.apache.spark.sql.SparkSession, edges: DataFrame,
                   sources: Seq[Long], maxIter: Int = 200): DataFrame = {
    require(sources.nonEmpty, "bfsDistances needs at least one source")
    import spark.implicits._
    // Size-guarded driver route (r16; the stronglyConnected/mstBoruvka
    // precedent, guide §5 driver latency): the distributed expansion
    // pays one checkpoint job per ROUND (= source-set eccentricity),
    // which on a small graph is the whole cost. Up to
    // `DriverRoute.GraphEdges` edges a driver level-BFS emits the
    // identical (id, dist) frame — sources at 0 (present in the
    // graph or not, as the distributed init does), levels capped at
    // maxIter; above the cap the distributed loop runs unchanged (the
    // 100 TB path; this Seq-sources form already implies driver-known
    // sources). Spec-pinned equal to the forced-distributed route.
    graft.util.DriverRoute.probePairs(
      edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst")),
      "src", "dst", graft.util.DriverRoute.GraphEdges) match {
      case Some(arr) =>
        import scala.collection.mutable
        val adj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
        arr.foreach { case (s, d) =>
          adj.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += d
          adj.getOrElseUpdate(d, mutable.ArrayBuffer.empty) += s
        }
        val dist = mutable.LinkedHashMap.empty[Long, Long]
        sources.distinct.foreach(s => dist(s) = 0L)
        var frontier: Seq[Long] = sources.distinct
        var round = 0
        val empty = mutable.ArrayBuffer.empty[Long]
        while (frontier.nonEmpty && round < maxIter) {
          round += 1
          val next = mutable.ArrayBuffer.empty[Long]
          frontier.foreach { v =>
            adj.getOrElse(v, empty).foreach { n =>
              if (!dist.contains(n)) { dist(n) = round.toLong; next += n }
            }
          }
          frontier = next.toSeq
        }
        dist.toSeq.toDF("id", "dist")
      case None =>
        bfsDistancesFrom(spark, edges, sources.distinct.toDF("id"), maxIter)
    }
  }

  /** [[bfsDistances]] with the source set as a DataFrame — the form a
    * DISTRIBUTED caller needs when the sources are themselves computed
    * (e.g. one root per component, unbounded count) and must never
    * collect to a driver Seq. */
  def bfsDistancesFrom(spark: org.apache.spark.sql.SparkSession,
                       edges: DataFrame, sources: DataFrame,
                       maxIter: Int = 200): DataFrame = {
    // static across rounds — partitioned + sorted on the frontier
    // join's key, so rounds exchange only the frontier (guide §2.4)
    val adj = edges.select(col("src").as("id"), col("dst").as("nbr"))
      .union(edges.select(col("dst").as("id"), col("src").as("nbr")))
      .repartition(col("id")).sortWithinPartitions("id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val m2 = adj.count() // materialize + size the loop's shuffles
    val init = sources.select(col("id")).distinct()
      .withColumn("dist", lit(0L))
    var (dist, handle, initCount) = graft.util.Iterate.checkpointWith(
      spark, init)(_.count())
    require(initCount > 0, "bfsDistancesFrom needs at least one source")
    var prevCount = initCount
    var frontier = dist
    var round = 0
    var done = false
    // rounds = source-set eccentricity: per-round cost is dominated by
    // fixed shuffle/job latency on graphs whose frontier is small, so
    // the loop runs with data-sized shuffling and ONE job per round
    // (the checkpoint's own materializing count doubles as the
    // convergence check)
    graft.util.Iterate.withSizedShuffle(spark, m2) {
      while (!done && round < maxIter) {
        round += 1
        val next = frontier.join(adj, "id")
          .select(col("nbr").as("id")).distinct()
          .join(dist, Seq("id"), "left_anti")
          .withColumn("dist", lit(round.toLong))
        val (nextDist, nextHandle, cnt) = graft.util.Iterate.checkpointWith(
          spark, dist.unionByName(next))(_.count())
        done = cnt == prevCount // no new vertices settled
        prevCount = cnt
        handle.unpersist()
        dist = nextDist; handle = nextHandle
        frontier = nextDist.filter(col("dist") === round)
      }
    }
    adj.unpersist()
    dist
  }

  /** Bipartiteness check with 2-coloring, per component: BFS-parity
    * colors (distance from the component's minimum-id root, mod 2) are
    * valid iff no edge joins two same-colored endpoints — the odd-
    * cycle test, run on every component at once. Emits one row per
    * component: size and `is_bipartite`.
    *
    * Fully distributed: components from the large-star/small-star
    * contraction, roots as a FRAME (id = component label — never a
    * driver-side source list, so a graph with millions of components
    * works), one multi-source BFS ([[bfsDistancesFrom]] — rounds =
    * max component eccentricity), one edge-conflict join, one
    * component-keyed aggregate.
    *
    * `maxIter` bounds the BFS; if any component vertex is still
    * uncolored when the bound trips (eccentricity > maxIter) the check
    * THROWS rather than reporting an undersized component with a
    * possibly wrong verdict — the same fail-loud posture as
    * [[kTruss]]'s non-convergence guard. */
  def bipartiteCheck(spark: org.apache.spark.sql.SparkSession,
                     edges: DataFrame, maxIter: Int = 200): DataFrame = {
    val cc = GraphOps.connectedComponentsDF(spark, edges)
    val roots = cc.filter(col("id") === col("component")).select("id")
    val dist = bfsDistancesFrom(spark, edges, roots, maxIter)
    val uncolored = cc.join(dist, Seq("id"), "left_anti").count()
    require(uncolored == 0L,
      s"bipartiteCheck: $uncolored component vertices were not reached " +
        s"within maxIter=$maxIter BFS rounds — a component's " +
        "eccentricity exceeds the bound; raise maxIter")
    val colored = cc.join(dist, "id")
      .select(col("id"), col("component"), pmod(col("dist"), lit(2L)).as("color"))
    val conflicted = edges
      .join(colored.select(col("id").as("src"), col("color").as("_ca"),
        col("component")), "src")
      .join(colored.select(col("id").as("dst"), col("color").as("_cb")), "dst")
      .filter(col("_ca") === col("_cb"))
      .select("component").distinct()
      .withColumn("_odd", lit(true))
    colored.groupBy("component").agg(count(lit(1)).as("n_vertices"))
      .join(conflicted, Seq("component"), "left_outer")
      .select(col("component"), col("n_vertices"),
        col("_odd").isNull.as("is_bipartite"))
  }

  /** Synchronous label-propagation community detection (Raghavan et al.
    * 2007, deterministic variant): every vertex starts with its own id
    * as label; each round ALL vertices simultaneously adopt the most
    * frequent label among their neighbors, ties broken toward the
    * smaller label. The (count DESC, label ASC) tiebreak makes the
    * whole run a pure function of the graph — replayable in any engine,
    * unlike the randomized-order original.
    *
    * Per round: one vertex-keyed join (labels onto adjacency), one
    * (id, label)-keyed count aggregate with map-side partials, one
    * per-vertex argmax window — all shuffles on vertex keys, lineage
    * cut per round. Fixed `rounds`, not convergence-tested: synchronous
    * LPA can 2-cycle on bipartite structures, so a fixpoint test may
    * never fire; bounded rounds is the standard remedy. */
  def labelPropagation(spark: org.apache.spark.sql.SparkSession,
                       edges: DataFrame, rounds: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // static across rounds — partitioned + sorted on the vote join's
    // key (nbr), so rounds exchange only the labels frame (guide §2.4)
    val adj = edges.select(col("src").as("id"), col("dst").as("nbr"))
      .union(edges.select(col("dst").as("id"), col("src").as("nbr")))
      .repartition(col("nbr")).sortWithinPartitions("nbr")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val m2 = adj.count()
    var (labels, handle) = graft.util.Iterate.checkpoint(spark,
      GraphOps.vertices(edges).select(col("id"), col("id").as("label")))
    graft.util.Iterate.withSizedShuffle(spark, m2) {
      for (_ <- 1 to rounds) {
        val votes = adj
          .join(labels.withColumnRenamed("id", "nbr"), "nbr")
          .groupBy("id", "label").agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy("id")
          .orderBy(col("cnt").desc, col("label").asc)
        val chosen = votes.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).select(col("id"), col("label").as("newLabel"))
        val (next, nextHandle) = graft.util.Iterate.checkpoint(spark,
          labels.join(chosen, Seq("id"), "left_outer")
            .select(col("id"),
              coalesce(col("newLabel"), col("label")).as("label")))
        handle.unpersist()
        labels = next; handle = nextHandle
      }
    }
    adj.unpersist()
    labels
  }

  /** Single-source shortest paths over a DIRECTED weighted edge list
    * `(src, dst, w)` with non-negative integer weights — the
    * delta-less distributed Bellman–Ford: each round relaxes only the
    * vertices improved last round (one join on the frontier's out-edges
    * + one min-aggregate + one anti-join/merge, all vertex-keyed),
    * terminating when no distance improves. Rounds ≤ the longest
    * shortest path's hop count; work per round is the frontier's
    * out-degree sum, so the total is O(m · rounds_touched) with the
    * usual frontier sparsity in practice. Long arithmetic throughout —
    * distances are exact, no float drift across engines. Unreachable
    * vertices are absent from the result (no sentinel rows). */
  def ssspWeighted(spark: org.apache.spark.sql.SparkSession, edges: DataFrame,
                   source: Long, maxIter: Int = 200): DataFrame = {
    import spark.implicits._
    // static across rounds — partitioned + sorted on the relax join's
    // key (src), so rounds exchange only the frontier (guide §2.4)
    val e = edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .repartition(col("src")).sortWithinPartitions("src")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val m = e.count()
    def initFrame() = Seq(source).toDF("id").withColumn("dist", lit(0L))
    var (dist, handle) = graft.util.Iterate.checkpoint(spark, initFrame())
    // the frontier is checkpointed separately (a FRESH frame — the
    // checkpoint contract forbids consuming one Dataset's rdd twice):
    // it feeds the NEXT round after this round's dist handle is released
    var (frontier, fHandle) = graft.util.Iterate.checkpoint(spark, initFrame())
    var round = 0
    var done = false
    graft.util.Iterate.withSizedShuffle(spark, m) {
      while (!done && round < maxIter) {
        round += 1
        val cand = frontier.join(e.withColumnRenamed("src", "id"), "id")
          .groupBy(col("dst").as("nid"))
          .agg(min(col("dist") + col("w")).as("nd"))
        val improved = cand
          .join(dist.withColumnRenamed("id", "nid").withColumnRenamed("dist", "cur"),
            Seq("nid"), "left_outer")
          .filter(col("cur").isNull || col("nd") < col("cur"))
          .select(col("nid").as("id"), col("nd").as("dist"))
        val (nextFrontier, nfHandle, fCnt) = graft.util.Iterate.checkpointWith(
          spark, improved)(_.count())
        val (nextDist, ndHandle) = graft.util.Iterate.checkpoint(spark,
          dist.join(nextFrontier, Seq("id"), "left_anti").unionByName(nextFrontier))
        done = fCnt == 0
        handle.unpersist(); fHandle.unpersist()
        dist = nextDist; handle = ndHandle
        frontier = nextFrontier; fHandle = nfHandle
      }
    }
    e.unpersist(); fHandle.unpersist()
    dist
  }

  /** Strongly connected components of a DIRECTED edge list via the
    * coloring / forward-backward peel (Orzan 2004; the MapReduce SCC of
    * Rastogi et al.): repeat until no vertices remain —
    *
    *  1. forward-propagate the MAX vertex id ("color") along edges to
    *     fixpoint: color(v) = max id among vertices that reach v in the
    *     remaining subgraph (each round one edge join + per-vertex max);
    *  2. every root (color(v) = v) anchors a component; walk BACKWARD
    *     from all roots simultaneously, staying inside one color:
    *     a vertex joins SCC(c) iff it reaches c through vertices
    *     colored c — exactly the forward∩backward closure;
    *  3. emit the confirmed vertices labeled by their component's
    *     MINIMUM member id (GraphX's labeling) and peel them off.
    *
    * Every phase is a vertex-keyed join/aggregate; peel count is
    * bounded by the SCC-DAG structure (chains of singletons confirm in
    * ONE peel — all roots walk backward at once), and per-phase rounds
    * by the remaining subgraph's diameter. Progress per peel is
    * guaranteed: the remaining subgraph's maximum id is always its own
    * root. Vertices are the edge list's endpoints (self-loops dropped
    * — they don't change components).
    */
  def stronglyConnected(spark: org.apache.spark.sql.SparkSession,
                        edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val e0 = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst")).distinct()
    // Size-guarded driver route (r16; the mstBoruvka contraction
    // precedent, guide §5 driver latency): the distributed
    // forward/backward peel costs tens of checkpoint jobs of pure
    // scheduler latency, which on a fixture-scale graph IS the whole
    // query (q102: a 13-edge graph paid ~6 s of wall). Up to
    // `DriverRoute.GraphEdges` canonical arcs, an iterative driver
    // Tarjan emits the identical (id, min-member component) labeling;
    // above the cap the distributed peel runs unchanged — the 100 TB
    // path. Spec-pinned equal to the forced-distributed route.
    graft.util.DriverRoute.probePairs(e0, "src", "dst",
      graft.util.DriverRoute.GraphEdges) match {
      case Some(arr) =>
        import spark.implicits._
        return sccTarjanLocal(arr).toSeq.sortBy(_._1)
          .toDF("id", "component")
      case None => ()
    }
    var (e, eh) = graft.util.Iterate.checkpoint(spark, e0)
    var (verts, vh) = graft.util.Iterate.checkpoint(spark,
      GraphOps.vertices(e0).select(col("id")))
    var out: DataFrame = null
    var outH: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = null
    var peel = 0
    var nLeft = verts.count()
    graft.util.Iterate.withSizedShuffle(spark, nLeft) {
      while (nLeft > 0 && peel < maxIter) {
        peel += 1
        // 1. forward max-color fixpoint
        var (color, ch) = graft.util.Iterate.checkpoint(spark,
          verts.select(col("id"), col("id").as("color")))
        var stable = false
        while (!stable) {
          val push = e.join(color.withColumnRenamed("id", "src"), "src")
            .groupBy(col("dst").as("id")).agg(max(col("color")).as("inc"))
          val (next, nh, changed) = graft.util.Iterate.checkpointWith(spark,
            color.join(push, Seq("id"), "left_outer")
              .select(col("id"),
                greatest(col("color"), coalesce(col("inc"), col("color")))
                  .as("color"), col("color").as("prev")))(
            rdd => rdd.filter(r => r.getLong(1) != r.getLong(2)).count())
          stable = changed == 0
          ch.unpersist()
          color = next.select("id", "color"); ch = nh
        }
        // 2. backward confirmation within one color, all roots at once
        var (conf, fh, confCount) = graft.util.Iterate.checkpointWith(spark,
          color.filter(col("id") === col("color")).select("id", "color"))(
          _.count())
        var grown = true
        while (grown) {
          val step = e.join(conf.withColumnRenamed("id", "dst"), "dst")
            .select(col("src").as("id"), col("color")).distinct()
            .join(color.withColumnRenamed("color", "c2"), "id")
            .filter(col("color") === col("c2"))
            .select("id", "color")
          val (next, nh, added) = graft.util.Iterate.checkpointWith(spark,
            conf.unionByName(step).distinct())(_.count())
          // tracked count: a re-count job per round over the cached
          // frame is pure latency
          grown = added > confCount
          confCount = added
          fh.unpersist()
          conf = next; fh = nh
        }
        // 3. emit with min-member labels, then peel
        val labels = conf.groupBy("color").agg(min(col("id")).as("component"))
        val emitted = conf.join(labels, "color").select("id", "component")
        val (batch, bh) = graft.util.Iterate.checkpoint(spark, emitted)
        if (out == null) { out = batch; outH = bh }
        else {
          val (merged, mh) = graft.util.Iterate.checkpoint(spark,
            out.unionByName(batch))
          outH.unpersist(); bh.unpersist()
          out = merged; outH = mh
        }
        val confirmedIds = conf.select("id")
        val (nextVerts, nvh, left) = graft.util.Iterate.checkpointWith(spark,
          verts.join(confirmedIds, Seq("id"), "left_anti"))(_.count())
        vh.unpersist(); verts = nextVerts; vh = nvh
        nLeft = left
        if (nLeft > 0) { // the last peel never reads the filtered edges
          val (nextE, neh) = graft.util.Iterate.checkpoint(spark,
            e.join(confirmedIds.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
              .join(confirmedIds.withColumnRenamed("id", "dst"), Seq("dst"), "left_anti")
              .select("src", "dst"))
          eh.unpersist(); e = nextE; eh = neh
        }
        ch.unpersist(); fh.unpersist()
      }
    }
    vh.unpersist(); eh.unpersist()
    if (out != null) out
    else { // no edges survived canonicalization: no endpoint vertices
      import org.apache.spark.sql.types._
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("id", LongType), StructField("component", LongType))))
    }
  }

  /** Driver kernel of [[stronglyConnected]]'s small route: ITERATIVE
    * Tarjan (explicit work stack — a 5M-edge chain would blow the JVM
    * call stack recursive) over the collected canonical arcs, each SCC
    * labeled by its MINIMUM member id (the distributed peel's and
    * GraphX's labeling). Returns one (id, component) per endpoint
    * vertex. */
  private def sccTarjanLocal(arr: Array[(Long, Long)]): Array[(Long, Long)] = {
    import scala.collection.mutable
    val adj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
    val verts = mutable.LinkedHashSet.empty[Long]
    arr.foreach { case (s, d) =>
      adj.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += d
      verts += s; verts += d
    }
    val index = mutable.HashMap.empty[Long, Int]
    val lowlink = mutable.HashMap.empty[Long, Int]
    val onStack = mutable.HashSet.empty[Long]
    val stack = mutable.ArrayBuffer.empty[Long]
    val comp = mutable.HashMap.empty[Long, Long]
    var counter = 0
    val empty = mutable.ArrayBuffer.empty[Long]
    verts.foreach { root =>
      if (!index.contains(root)) {
        // work frames: (vertex, next child offset)
        val work = mutable.ArrayBuffer[(Long, Int)]((root, 0))
        while (work.nonEmpty) {
          val (v, ci) = work.remove(work.length - 1)
          if (ci == 0) {
            index(v) = counter; lowlink(v) = counter; counter += 1
            stack += v; onStack += v
          }
          val ns = adj.getOrElse(v, empty)
          var i = ci
          var descended = false
          while (i < ns.length && !descended) {
            val w = ns(i)
            if (!index.contains(w)) {
              work += ((v, i + 1)); work += ((w, 0)); descended = true
            } else {
              if (onStack(w)) lowlink(v) = math.min(lowlink(v), index(w))
              i += 1
            }
          }
          if (!descended) {
            if (lowlink(v) == index(v)) {
              // pop the SCC, label by its min member
              val members = mutable.ArrayBuffer.empty[Long]
              var w = 0L
              do {
                w = stack.remove(stack.length - 1); onStack -= w
                members += w
              } while (w != v)
              val minId = members.min
              members.foreach(m => comp(m) = minId)
            }
            // propagate lowlink to the parent frame, if any
            if (work.nonEmpty) {
              val (p, _) = work(work.length - 1)
              lowlink(p) = math.min(lowlink(p), lowlink(v))
            }
          }
        }
      }
    }
    verts.iterator.map(v => (v, comp(v))).toArray
  }

  /** Degree assortativity: Pearson correlation of endpoint degrees over
    * all directed edge instances (both orientations — Newman 2002's
    * r for undirected graphs). One degree aggregate, two
    * broadcast-eligible joins, one scalar aggregate. Computed from
    * guarded covariance/stddev components rather than `corr` so a
    * regular graph (zero degree variance) yields NULL instead of an
    * ANSI divide-by-zero. */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val deg = GraphOps.degrees(edges)
    val both = edges.union(
      edges.select(col("dst").as("src"), col("src").as("dst")))
    both
      .join(deg.withColumnRenamed("id", "src").withColumnRenamed("degree", "sdeg"), "src")
      .join(deg.withColumnRenamed("id", "dst").withColumnRenamed("degree", "ddeg"), "dst")
      .agg(covar_pop(col("sdeg").cast("double"), col("ddeg").cast("double")).as("cov"),
        stddev_pop(col("sdeg").cast("double")).as("sdx"),
        stddev_pop(col("ddeg").cast("double")).as("sdy"))
      .select(round(
        when(col("sdx") * col("sdy") > 0, col("cov") / (col("sdx") * col("sdy"))),
        6).as("assortativity"))
  }

  /** Pseudo-diameter by the double-sweep BFS heuristic (Magnien,
    * Latapy & Habib 2009): BFS from `start`, hop to the farthest
    * vertex found (ties → larger id, a total order), BFS again — the
    * second eccentricity is a lower bound on the true diameter that is
    * EXACT on trees and in practice tight on real graphs, at the cost
    * of two BFS passes instead of the all-pairs computation (which is
    * Θ(n·m) and simply does not exist at 100 TB). Emits ONE summary
    * row: (start, ecc_start, peripheral, diameter_lb, n_reachable).
    *
    * Both sweeps are [[bfsDistances]] — vertex-keyed frontier joins,
    * rounds = eccentricity. The only driver transfer is the argmax
    * row between the sweeps and the final ≤1-row summary (bounded
    * collects, the EigenInit contract).
    */
  def pseudoDiameter(spark: org.apache.spark.sql.SparkSession,
                     edges: DataFrame, start: Long): DataFrame = {
    val sweep1 = bfsDistances(spark, edges, Seq(start))
    val peak = sweep1.orderBy(col("dist").desc, col("id").desc)
      .limit(1).collect()(0)
    val (peripheral, ecc1) = (peak.getLong(0), peak.getLong(1))
    val sweep2 = bfsDistances(spark, edges, Seq(peripheral))
    sweep2.agg(max(col("dist")).as("diameter_lb"),
        count(lit(1)).as("n_reachable"))
      .select(lit(start).as("start"), lit(ecc1).as("ecc_start"),
        lit(peripheral).as("peripheral"), col("diameter_lb"),
        col("n_reachable"))
  }

  /** Minimum spanning forest by distributed Borůvka over a weighted
    * canonical edge list (src < dst, w): each round EVERY component
    * selects its minimum-weight outgoing edge under the (w, src, dst)
    * total order, the selected edges merge their components, repeat
    * until no component has an outgoing edge. Components at least
    * halve per round ⇒ ≤ log₂(n) rounds. With distinct weights the
    * result is THE unique MST; ties resolve as if perturbed by edge
    * id — deterministic, engine-replayable.
    *
    * Per round: two vertex-keyed label joins + a component-keyed
    * min-struct aggregate (map-side partial — each partition sends at
    * most one candidate edge per component), then the SELECTED edge
    * graph (≤ #components rows, geometrically shrinking) is
    * contracted with [[GraphOps.connectedComponentsDF]] and the
    * ≤ #components relabel map joins back. The full edge list is
    * touched once per round and never re-shuffled — it stays
    * partitioned and persisted; lineage is cut every round. The min
    * edges selected under a consistent total order cannot form cycles
    * (mutual picks dedupe on the edge key), the Borůvka invariant
    * that keeps the accumulated set a forest.
    */
  def mstBoruvka(spark: org.apache.spark.sql.SparkSession,
                 edges: DataFrame, maxRounds: Int = 40): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val e0 = edges.select(col("src"), col("dst"), col("w").cast("double").as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val m = e0.count()
    var (labels, lh) = graft.util.Iterate.checkpoint(spark,
      GraphOps.vertices(e0.select("src", "dst"))
        .select(col("id"), col("id").as("comp")))
    // selected edges accrue per round; the union is materialized ONCE
    // at the end (one checkpoint job) instead of a per-round checkpoint
    // — the frame is only read after the loop (guide §1.2: fewer jobs)
    val picked = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var round = 0
    var done = false
    graft.util.Iterate.withSizedShuffle(spark, m) {
      while (!done && round < maxRounds) {
        round += 1
        val cand = e0
          .join(labels.select(col("id").as("src"), col("comp").as("_cs")), "src")
          .join(labels.select(col("id").as("dst"), col("comp").as("_cd")), "dst")
          .filter(col("_cs") =!= col("_cd"))
        val sel = cand
          .select(col("_cs").as("_comp"),
            struct(col("w"), col("src"), col("dst"), col("_cs"), col("_cd")).as("_e"))
          .union(cand.select(col("_cd").as("_comp"),
            struct(col("w"), col("src"), col("dst"), col("_cs"), col("_cd")).as("_e")))
          .groupBy("_comp").agg(min(col("_e")).as("_e"))
          .select(col("_e.src").as("src"), col("_e.dst").as("dst"),
            col("_e.w").as("w"), col("_e._cs").as("_cs"), col("_e._cd").as("_cd"))
          .distinct()
          .persist(StorageLevel.MEMORY_AND_DISK)
        if (sel.isEmpty) { done = true; sel.unpersist() }
        else {
          // contract: CC over the selected component-pair graph. One
          // Borůvka selection per component keeps this frame at most
          // one row per live component, and components at least halve
          // per round, so after round 1 it is far below the edge count
          // — small enough that a driver union-find (min-label roots,
          // the exact labeling connectedComponentsDF produces) replaces
          // the nested distributed CC loop's ~10 jobs per round with
          // one bounded collect. Above `DriverRoute.GraphEdges` pairs the
          // distributed CC runs unchanged (the 100 TB early rounds).
          val compEdges = sel.select(
            least(col("_cs"), col("_cd")).as("src"),
            greatest(col("_cs"), col("_cd")).as("dst")).distinct()
          val remap = graft.util.DriverRoute
            .probePairs(compEdges, "src", "dst", graft.util.DriverRoute.GraphEdges) match {
            case Some(arr) =>
              val parent = scala.collection.mutable.HashMap.empty[Long, Long]
              def find(x: Long): Long = {
                var r = x
                while (parent.getOrElse(r, r) != r) r = parent(r)
                var c = x
                while (parent.getOrElse(c, c) != c) {
                  val n = parent(c); parent(c) = r; c = n
                }
                r
              }
              arr.foreach { case (a, b) =>
                val (ra, rb) = (find(a), find(b))
                // link larger root under smaller: every root stays the
                // MIN id of its component, matching connectedComponentsDF
                if (ra != rb) {
                  if (ra < rb) parent(rb) = ra else parent(ra) = rb
                }
              }
              val ids = arr.iterator
                .flatMap(p => Iterator(p._1, p._2)).toSet
              import spark.implicits._
              broadcast(ids.toSeq.sorted
                .map(i => (i, find(i))).toDF("id", "component"))
            case None => GraphOps.connectedComponentsDF(spark, compEdges)
          }
          val (nl, nlh) = graft.util.Iterate.checkpoint(spark,
            labels.join(remap.select(col("id").as("comp"),
                col("component").as("_nc")), Seq("comp"), "left")
              .select(col("id"), coalesce(col("_nc"), col("comp")).as("comp")))
          lh.unpersist(); labels = nl; lh = nlh
          picked += sel // the persisted frame itself, for exact unpersist
        }
      }
    }
    e0.unpersist(); lh.unpersist()
    if (picked.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("src", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("dst", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("w", org.apache.spark.sql.types.DoubleType))))
    else {
      val (mst, _) = graft.util.Iterate.checkpoint(spark,
        picked.map(_.select("src", "dst", "w")).reduce(_ unionByName _))
      picked.foreach(_.unpersist(blocking = false))
      mst
    }
  }

  /** k-truss decomposition (Cohen 2008): the maximal subgraph in which
    * every edge participates in ≥ k−2 triangles — the standard
    * cohesive-subgraph mining step between k-core (vertex-level) and
    * clique (exact). Iterative peel: enumerate triangles of the
    * CURRENT edge set ([[triangles]] — degree-oriented, m^1.5 work
    * bound under any skew), aggregate per-edge support, drop edges
    * under threshold, repeat until stable — dropping an edge can kill
    * its neighbors' triangles, so the cascade must re-run to a
    * fixpoint. Rounds are typically few (each round removes every
    * currently-unsupported edge at once); all shuffles key on vertex
    * or edge pairs, lineage cut per round. Input is canonicalized
    * up front (least/greatest + distinct, self-loops dropped), so
    * reversed or duplicated edges are handled; a cascade that has not
    * converged within `maxRounds` throws rather than silently
    * returning a superset of the truss.
    */
  def kTruss(spark: org.apache.spark.sql.SparkSession, edges: DataFrame,
             k: Int, maxRounds: Int = 100): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    var (e, h) = graft.util.Iterate.checkpoint(spark,
      edges.select(least(col("src"), col("dst")).as("src"),
          greatest(col("src"), col("dst")).as("dst"))
        .filter(col("src") < col("dst")).distinct())
    var prev = -1L
    var cur = e.count()
    var round = 0
    graft.util.Iterate.withSizedShuffle(spark, cur) {
      while (cur != prev && cur > 0 && round < maxRounds) {
        round += 1
        // tri feeds THREE union legs: persist it per round (else the
        // whole wedge enumeration replays once per leg) and drop it —
        // and the enumeration's internal frames — once the round's
        // support aggregate is materialized
        val (triRaw, triHandles) = trianglesWithHandles(e)
        val tri = triRaw
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val support = tri.select(
            array(least(col("a"), col("b")), greatest(col("a"), col("b"))).as("_e"))
          .union(tri.select(
            array(least(col("a"), col("c")), greatest(col("a"), col("c"))).as("_e")))
          .union(tri.select(
            array(least(col("b"), col("c")), greatest(col("b"), col("c"))).as("_e")))
          .select(col("_e")(0).as("src"), col("_e")(1).as("dst"))
          .groupBy("src", "dst").agg(count(lit(1)).as("_supp"))
        val (next, nh, cnt) = graft.util.Iterate.checkpointWith(spark,
          e.join(support, Seq("src", "dst"), "left")
            .filter(coalesce(col("_supp"), lit(0L)) >= k - 2)
            .select("src", "dst"))(_.count())
        tri.unpersist(blocking = false)
        triHandles.foreach(_.unpersist(blocking = false))
        h.unpersist()
        e = next; h = nh
        prev = cur; cur = cnt
      }
    }
    if (cur != prev && cur > 0)
      throw new IllegalStateException(
        s"kTruss(k=$k) did not reach a fixpoint in $maxRounds rounds " +
          s"($cur edges remain, still shrinking) — raise maxRounds; " +
          "returning the non-converged superset would be silently wrong")
    e
  }

  /** Newman modularity of a vertex partition:
    * Q = Σ_c [ m_c/m − (d_c/2m)² ] over communities c, with m_c the
    * community's internal edge count and d_c its degree sum — the
    * standard quality score for [[labelPropagation]] (or any) labels.
    * One edge→label join pair + two label-keyed aggregates + a scalar
    * sum; the community frame is ≤ #labels rows, so the final sum is
    * bounded by the community count, not the graph.
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val l = labels.select(col("id"), col("label"))
    val tagged = edges
      .join(l.select(col("id").as("src"), col("label").as("_ls")), "src")
      .join(l.select(col("id").as("dst"), col("label").as("_ld")), "dst")
    val m = tagged.count().toDouble
    val internal = tagged.filter(col("_ls") === col("_ld"))
      .groupBy(col("_ls").as("label")).agg(count(lit(1)).as("mc"))
    val degSum = GraphOps.degrees(edges)
      .join(l, "id").groupBy("label").agg(sum(col("degree")).as("dc"))
    degSum.join(internal, Seq("label"), "left")
      .select((coalesce(col("mc"), lit(0L)) / lit(m) -
        (col("dc") / lit(2.0 * m)) * (col("dc") / lit(2.0 * m))).as("_q"))
      .agg(round(sum(col("_q")), 6).as("modularity"),
        count(lit(1)).as("n_communities"))
  }
}
