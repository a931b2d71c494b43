package graft.metrics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.GraphOps

/** Centrality measures (reference L6: benchmark.py:73-107, all computed
  * via NetworkX on the driver). Spark disposition:
  *
  *  - Up to `DriverRoute.CentralityEdges` edges `all` collects ONE driver CSR and
  *    returns a local frame of driver arrays: closeness, betweenness and
  *    load from ONE job of per-source BFS ([[sweep]], the standard
  *    distributed-Brandes layout: exact, embarrassingly parallel; the
  *    reference caps betweenness at n<5000, run_benchmarks.py:311-313),
  *    degree, PageRank and eigenvector as driver passes. The CSR's rows
  *    are sorted and partials are summed in partition order, so every
  *    value depends on the edge multiset alone; no shuffle, no join.
  *  - Above it, `all` outer-joins distributed implementations: a degree
  *    aggregate, DataFrame power iteration for PageRank and eigenvector,
  *    and level-synchronous multi-source BFS / Brandes for closeness,
  *    betweenness and load (sources sampled above `sourcesCap`, the
  *    classic Eppstein–Wang / pivot-sampling estimate).
  */
object Centralities {

  /** Compressed sparse rows of the symmetrized graph. */
  final case class Csr(n: Int, off: Array[Int], nbr: Array[Int])

  /** Degree centrality: degree/(n-1) (nx.degree_centrality). */
  def degreeCentrality(edges: DataFrame, n: Long): DataFrame =
    GraphOps.degrees(edges)
      .select(col("id"), (col("degree") / (n - 1.0)).as("degree_centrality"))

  /** [[degreeCentrality]] from the CSR offsets (a self-loop counts
    * twice on both); isolated vertices read 0.0. */
  private def degreeCsr(g: Csr): Array[Double] =
    Array.tabulate(g.n) { v =>
      val d = g.off(v + 1) - g.off(v)
      if (d == 0) 0.0 else d / (g.n - 1.0)
    }

  /** CSR of the undirected graph from ONE edge collect. */
  def collectCsr(edges: DataFrame, n: Long): Csr =
    csrOf(edges.select(col("src").cast("long"), col("dst").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))), n)

  /** CSR of the undirected graph on ids [0, n) from its (src, dst)
    * pairs; each row is sorted, so the CSR does not depend on the pair
    * order. An id outside [0, n) throws IllegalArgumentException. */
  def csrOf(es: Array[(Long, Long)], n: Long): Csr = {
    require(n >= 0 && n < Int.MaxValue, s"vertex count $n out of range")
    val nn = n.toInt
    val deg = new Array[Int](nn)
    es.foreach { case (s, d) =>
      if (s < 0 || s >= n || d < 0 || d >= n)
        throw new IllegalArgumentException(
          s"edge ($s, $d): vertex id ${if (s < 0 || s >= n) s else d} outside [0, $n)")
      deg(s.toInt) += 1; deg(d.toInt) += 1
    }
    val off = new Array[Int](nn + 1)
    var i = 0
    while (i < nn) { off(i + 1) = off(i) + deg(i); i += 1 }
    val nbr = new Array[Int](2 * es.length)
    val cur = off.clone()
    es.foreach { case (s, d) =>
      nbr(cur(s.toInt)) = d.toInt; cur(s.toInt) += 1
      nbr(cur(d.toInt)) = s.toInt; cur(d.toInt) += 1
    }
    i = 0
    while (i < nn) { java.util.Arrays.sort(nbr, off(i), off(i + 1)); i += 1 }
    Csr(nn, off, nbr)
  }

  /** PageRank via GraphX — the distributed path for graphs past
    * broadcast scale (benchmark.py:95-98 uses nx.pagerank). */
  def pageRank(spark: SparkSession, edges: DataFrame, iters: Int = 20,
               resetProb: Double = 0.15): DataFrame = {
    import org.apache.spark.graphx.{Edge => GxEdge, Graph => GxGraph}
    val dir = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val rdd = dir.rdd.map(r => GxEdge(r.getLong(0), r.getLong(1), 1))
    val pr = GxGraph.fromEdges(rdd, 0).staticPageRank(iters, resetProb).vertices
    val df = spark.createDataFrame(pr).toDF("id", "rank")
    // normalize to sum 1 like NetworkX
    val total = df.agg(sum("rank")).collect()(0).getDouble(0)
    df.select(col("id"), (col("rank") / total).as("pagerank"))
  }

  /** nx.pagerank semantics on the broadcast CSR: damped power iteration
    * x' = (1-α)/n + α(Σ_{u∈N(v)} x_u/deg_u + dangling/n), tol-converged.
    * GraphX's 20-iteration Pregel costs ~40 driver-blocking jobs — on a
    * sub-broadcast graph this is a few ms of arithmetic instead. */
  def pageRankCsr(g: Csr, alpha: Double = 0.85, tol: Double = 1e-6,
                  maxIter: Int = 100): Array[Double] = {
    val Csr(n, off, nbr) = g
    var x = Array.fill(n)(1.0 / n)
    var it = 0
    var done = false
    while (it < maxIter && !done) {
      val y = new Array[Double](n)
      var dangling = 0.0
      var v = 0
      while (v < n) {
        val d = off(v + 1) - off(v)
        if (d == 0) dangling += x(v)
        else {
          val share = x(v) / d
          var j = off(v)
          while (j < off(v + 1)) { y(nbr(j)) += share; j += 1 }
        }
        v += 1
      }
      val base = (1.0 - alpha) / n + alpha * dangling / n
      var err = 0.0
      v = 0
      while (v < n) {
        val nv = base + alpha * y(v)
        err += math.abs(nv - x(v))
        y(v) = nv
        v += 1
      }
      x = y
      // nx convergence: err < n * tol
      if (err < n * tol) done = true
      it += 1
    }
    x
  }

  /** nx.pagerank semantics, DISTRIBUTED: the same damped power
    * iteration as [[pageRankCsr]] (x' = (1-α)/n + α(Σ_{u∈N(v)} x_u/deg_u
    * + dangling/n), stop when L1 err < n·tol), one join+agg per
    * iteration over the symmetrized edges — so the `all()` pagerank is
    * ROUTE-INVARIANT: a graph crossing the route cap gets the same
    * values either side, up to float summation order.
    *
    * Dangling handling is analytic, not a per-iteration job: on an
    * undirected graph the only dangling vertices are isolated ones, and
    * every isolated vertex holds exactly `base(t)` from iteration 1 on,
    * so the dangling mass follows the driver-side recurrence
    * D(t+1) = n₀ · base(t). The per-iteration L1 error rides the
    * checkpoint's materializing action — ONE job per iteration.
    *
    * The returned frame is PERSISTED (its lineage ends at a truncated
    * checkpoint); callers may unpersist it when done. */
  def pageRankDistributed(spark: SparkSession, edges: DataFrame, n: Long,
                          alpha: Double = 0.85, tol: Double = 1e-6,
                          maxIter: Int = 100): DataFrame = {
    val sym = symmetrize(edges).persist()
    // (id, deg) once; deg never changes across iterations
    val (degAll, degH) = graft.util.Iterate.checkpoint(spark,
      spark.range(n).toDF("id")
        .join(sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg")),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("deg"), lit(0L)).as("deg")))
    val n0 = degAll.filter(col("deg") === 0).count()
    graft.util.Iterate.withSizedShuffle(spark, n) {
      var x = degAll.select(col("id"), lit(1.0 / n).as("v"))
      var handle: Option[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]] = None
      var dangling = n0.toDouble / n
      var it = 0
      var done = false
      while (it < maxIter && !done) {
        val base = (1.0 - alpha) / n + alpha * dangling / n
        val contrib = sym
          .join(x.select(col("id").as("src"), col("v")), "src")
          .join(degAll.select(col("id").as("src"), col("deg")), "src")
          .groupBy(col("dst").as("id"))
          .agg(sum(col("v") / col("deg")).as("c"))
        val nextRaw = x.select(col("id"), col("v").as("pv"))
          .join(contrib, Seq("id"), "left")
          .select(col("id"),
            (lit(base) + lit(alpha) * coalesce(col("c"), lit(0.0))).as("v"),
            col("pv"))
        // L1 error computed inside the materializing action: no extra job
        val (next, nh, err) = graft.util.Iterate.checkpointWith(spark, nextRaw) {
          rdd => rdd.map(r => math.abs(r.getDouble(1) - r.getDouble(2))).sum()
        }
        handle.foreach(_.unpersist(blocking = false))
        handle = Some(nh)
        x = next.select(col("id"), col("v"))
        dangling = n0 * base
        if (err < n * tol) done = true
        it += 1
      }
      val result = x.select(col("id"), col("v").as("pagerank")).persist()
      result.count()
      handle.foreach(_.unpersist(blocking = false))
      degH.unpersist(blocking = false)
      sym.unpersist()
      result
    }
  }

  /** (src, nbrs, deg) neighbor arrays of the symmetrized graph for
    * [[personalizedPageRank]], PERSISTED; `m2` is the arc count.
    *
    * HUB-SEGMENTED (r15 verdict #5, guide §2.5 skew / §5 memory): an
    * unbounded per-vertex array makes a 100 M-degree hub ONE multi-GB
    * aggregation buffer and row, so no array holds more than `maxChunk`
    * neighbors (`spark.graft.adjMaxChunk`, default 2²² ≈ 32 MB of longs
    * per buffer — far above any bench graph, so locally every vertex
    * keeps exactly one chunk and the plan is unchanged). A hub's arcs
    * split by their rank over the hub's sorted arcs into ceil(deg/cap)
    * contiguous chunks (the randomWalks layout: a hash of dst would put
    * a multigraph hub's duplicate arcs into one chunk), each row
    * carrying the FULL degree for the contribution division; the per-dst
    * sum is chunking-invariant (same multiset of v/deg terms). The route
    * is decided by a degree probe that runs ONLY when the free upper
    * bound (total arcs) exceeds the cap — a graph whose whole arc count
    * fits one chunk cannot contain a hub that doesn't.
    *
    * The build runs under a raised ObjectHashAggregate fallback
    * threshold: the default (128 distinct keys) silently degrades every
    * >128-group-per-partition collect_list to a SORT-based aggregate —
    * the exact window sort this layout removes (measured: 21 s CPU map
    * side at the default, hash path below it). The threshold stays
    * finite so the spill path survives (Iterate.withObjectAggHash doc). */
  private[graft] def adjacencyChunks(spark: SparkSession, edges: DataFrame,
                                     m2: Long, maxChunk: Int): DataFrame =
    graft.util.Iterate.withObjectAggHash(spark) {
      val arcs = symmetrize(edges)
      // degree probe BEFORE the array build: the hazard is the
      // aggregation buffer itself. One narrow two-stage aggregate
      // (coalesce: null on an empty graph — r15 ADVICE).
      lazy val degF = arcs.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val maxDeg =
        if (m2 <= maxChunk) m2
        else degF.agg(coalesce(max(col("deg")), lit(0L))).head.getLong(0)
      val a = (if (maxDeg <= maxChunk)
          // no hub exceeds the cap: single-chunk arrays, degree free as
          // size(nbrs) — no join, no extra shuffle (the measured fast
          // path; every bench graph takes it)
          arcs.groupBy(col("src"))
            .agg(collect_list(col("dst")).as("nbrs"))
            .select(col("src"), col("nbrs"),
              size(col("nbrs")).cast("long").as("deg"))
        else {
          // hub route: only the hub rows pay the rank sort; integer
          // `div` (SQL `/` on longs is double division)
          import org.apache.spark.sql.expressions.Window
          val withDeg = arcs.join(degF, "src")
          val hubs = withDeg.filter(col("deg") > maxChunk)
            .withColumn("_rn", row_number().over(
              Window.partitionBy("src").orderBy("dst")).cast("long") - 1)
            .select(col("src"), col("dst"), col("deg"),
              expr(s"_rn div $maxChunk").as("_chunk"))
          withDeg.filter(col("deg") <= maxChunk).withColumn("_chunk", lit(0L))
            .unionByName(hubs)
            .groupBy(col("src"), col("_chunk"))
            .agg(collect_list(col("dst")).as("nbrs"), first(col("deg")).as("deg"))
            .select(col("src"), col("nbrs"), col("deg"))
        })
        .sortWithinPartitions("src")
        .persist()
      a.count()
      a
    }

  /** Personalized PageRank (fixed-iteration power form): restart mass
    * concentrated on `seeds` instead of uniform — the "importance
    * relative to THESE nodes" ranking behind related-item and
    * node-similarity queries. x₀ = s, then
    * x' = (1−α)·s + α·Σ_{u∈N(v)} x_u/deg(u) for exactly `iters`
    * rounds (fixed, not tolerance-stopped: the run is then a finite
    * arithmetic circuit any engine replays — the q92 determinism
    * reasoning applied to floats, every +/× in the same shape).
    *
    * The rank frame only ever holds the seeds' expanding neighborhood
    * (support after k rounds = k-hop ball), not the full vertex set —
    * at 100 TB with a handful of seeds that is the whole point of PPR
    * over global PageRank. Per round: one edge join + vertex-keyed
    * sum, full-outer with the ≤|seeds|-row restart frame, lineage cut
    * per round ([[pageRankDistributed]]'s loop without the dangling
    * recurrence — an undirected graph's only dangling vertices are
    * isolated, and those never receive mass from elsewhere anyway).
    * Returned frame: (id, ppr), unnormalized (mass ≤ 1; the remainder
    * is in-flight teleport mass — standard for truncated PPR). */
  def personalizedPageRank(spark: SparkSession, edges: DataFrame,
                           seeds: Seq[Long], alpha: Double = 0.85,
                           iters: Int = 3): DataFrame = {
    require(seeds.nonEmpty, "personalizedPageRank needs at least one seed")
    // The graph side is STATIC across iterations while only the rank
    // frame evolves: ONE hash aggregate folds the whole arc list into
    // neighbor arrays (no window sort — the old shape paid an exchange
    // + a full per-partition sort to fold the degree onto each of the
    // 2·m arcs, and every round's sort-merge join then merge-scanned
    // all 2·m cached arc rows). Each round joins the (small) rank
    // frame against the array frame and explodes only the MATCHED
    // sources' arcs — per-round work scales with the rank support's
    // incident arcs, not the graph (guide §2.3/§2.4).
    //
    // 2·m is known without a pass over the arrays (every edge is two
    // arcs), so the BUILD runs data-sized too — the session-wide
    // shuffle width on an n-row frame was pure per-task overhead.
    val m2 = 2L * edges.count()
    val maxChunk = spark.conf
      .get("spark.graft.adjMaxChunk", (1 << 22).toString).toInt
    import spark.implicits._
    val s0 = seeds.distinct.sorted.toDF("id")
      .select(col("id"), lit(1.0 / seeds.distinct.size).as("s"))
    var x = s0.select(col("id"), col("s").as("v"))
    var handle: Option[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]] = None
    graft.util.Iterate.withSizedShuffle(spark, m2) {
      val adjArr = adjacencyChunks(spark, edges, m2, maxChunk)
      // TELEPORT FOLDED INTO THE CONTRIB AGGREGATE (r15 verdict #4):
      // the restart mass enters as ≤|seeds| extra pre-aggregate rows,
      // so each round is ONE join + ONE shuffle — the old shape paid a
      // second (full-outer) join of the contrib frame against the seed
      // frame per round. The arithmetic shape is unchanged:
      // (1−α)·s + α·Σ contrib, with the Σ over the identical term
      // multiset.
      for (_ <- 1 to iters) {
        val nextRaw = adjArr
          .join(x.select(col("id").as("src"), col("v")), "src")
          .select(explode(col("nbrs")).as("id"),
            (col("v") / col("deg")).as("_c"),
            lit(null).cast("double").as("_s"))
          .unionByName(s0.select(col("id"),
            lit(null).cast("double").as("_c"), col("s").as("_s")))
          .groupBy(col("id"))
          .agg((lit(1.0 - alpha) * coalesce(max(col("_s")), lit(0.0)) +
            lit(alpha) * coalesce(sum(col("_c")), lit(0.0))).as("v"))
        val (next, nh) = graft.util.Iterate.checkpoint(spark, nextRaw)
        handle.foreach(_.unpersist(blocking = false))
        handle = Some(nh)
        x = next
      }
      val out = x.select(col("id"), col("v").as("ppr")).persist()
      out.count()
      handle.foreach(_.unpersist(blocking = false))
      adjArr.unpersist()
      out
    }
  }

  /** Eigenvector centrality by power iteration on the adjacency;
    * falls back to degree centrality on failure (benchmark.py:82-93). */
  def eigenvectorCentrality(spark: SparkSession, edges: DataFrame, n: Long,
                            iters: Int = 50): DataFrame =
    column(spark, "eigenvector", eigenvectorCsr(collectCsr(edges, n), iters))

  def eigenvectorCsr(g: Csr, iters: Int = 50): Array[Double] = {
    val Csr(nn, off, nbr) = g
    var x = Array.fill(nn)(1.0 / math.sqrt(nn.toDouble))
    var it = 0
    while (it < iters) {
      val y = new Array[Double](nn)
      var v = 0
      while (v < nn) {
        var j = off(v)
        while (j < off(v + 1)) { y(v) += x(nbr(j)); j += 1 }
        v += 1
      }
      val nrm = math.sqrt(y.map(d => d * d).sum)
      if (nrm == 0.0) return degreeCsr(g)
      x = y.map(_ / nrm)
      it += 1
    }
    x
  }

  /** Distributed eigenvector centrality: DataFrame power iteration
    * (gather–scatter matvec per step, the EigenInit mat-vec shape) for
    * graphs past broadcast scale. Falls back to degree on zero vector.
    * Returned frame is PERSISTED (like the other distributed
    * centralities) — callers may unpersist when done; the loop's
    * intermediate checkpoints are all released before returning. */
  def eigenvectorDistributed(spark: SparkSession, edges: DataFrame, n: Long,
                             iters: Int = 50): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .persist()
    try {
      var x = spark.range(n).toDF("id")
        .withColumn("v", lit(1.0 / math.sqrt(n.toDouble)))
      var it = 0
      var done = false
      var handle: Option[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]] = None
      while (it < iters && !done) {
        val y = sym.join(x.withColumnRenamed("id", "src")
            .withColumnRenamed("v", "xv"), "src")
          .groupBy(col("dst").as("id")).agg(sum("xv").as("v"))
        // vertices with no in-edges drop out of the matvec — rejoin as 0;
        // previous (normalized) value rides along for the convergence dot
        val yFull = spark.range(n).toDF("id").join(y, Seq("id"), "left")
          .select(col("id"), coalesce(col("v"), lit(0.0)).as("v"))
          .join(x.select(col("id"), col("v").as("pv")), Seq("id"))
        // norm AND convergence aggregates ride the checkpoint's
        // materializing action — ONE job per iteration; with prev
        // normalized, ||y/‖y‖ − prev||² = 2 − 2·(y·prev)/‖y‖.
        val (yc, yh, (sq, dot)) = graft.util.Iterate.checkpointWith(spark, yFull) {
          rdd => rdd.map { r =>
            val v = r.getDouble(1); val pv = r.getDouble(2); (v * v, v * pv)
          }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
        }
        handle.foreach(_.unpersist(blocking = false))
        val nrm = math.sqrt(sq)
        if (nrm == 0.0) throw new ArithmeticException("zero vector")
        x = yc.select(col("id"), (col("v") / nrm).as("v"))
        handle = Some(yh)
        // numerically-converged: remaining fixed iterations are no-ops
        // at the scheduler floor (bipartite oscillation never trips
        // this, so those graphs still run the full budget like the CSR
        // route)
        if (2.0 - 2.0 * dot / nrm < 1e-16) done = true
        it += 1
      }
      // materialize the result off the last checkpoint, then release it
      // (r2 advisor: the final handle used to stay persisted forever)
      val result = x.select(col("id"), col("v").as("eigenvector")).persist()
      result.count()
      handle.foreach(_.unpersist(blocking = false))
      result
    } catch {
      case _: ArithmeticException =>
        degreeCentrality(edges, n).withColumnRenamed("degree_centrality", "eigenvector")
    } finally sym.unpersist()
  }

  /** Closeness, betweenness and load of every vertex from ONE BFS per
    * source, in ONE job over the sources:
    *  - closeness: Wasserman–Faust improved form as NetworkX default,
    *    ((r-1)/(n-1)) * ((r-1)/sum_d) with r = reachable count;
    *  - betweenness: Brandes, δ_v += σ_v/σ_w · (1 + δ_w);
    *  - load (nx.load_centrality, Newman 2001): the unit arriving at w is
    *    split EQUALLY among w's np(w) predecessors, (1 + δ_w)/np(w). nx's
    *    `if x == source: break` quirk is unreachable: a distance-1 node's
    *    only predecessor IS the source, which both forms exclude.
    * A partition reuses O(n) scratch arrays across its sources and finds
    * predecessors by rescanning the CSR (`dist(v) == dist(w) - 1`). It
    * returns its sources' closeness and dense dependency partial sums,
    * which the driver adds in partition-index order, then divides by
    * (n-1)(n-2) (nx's 2/((n-1)(n-2)) per unordered pair; a division, not
    * a reciprocal multiply, for bit-parity with SQL oracles). */
  private def sweep(spark: SparkSession, g: Csr)
      : (Array[Double], Array[Double], Array[Double]) = {
    val n = g.n
    val bc = spark.sparkContext.broadcast(g)
    val parts = try spark.sparkContext
      .parallelize(0 until n, math.min(64, math.max(1, n / 16)))
      .mapPartitions { sources =>
        val Csr(_, off, nbr) = bc.value
        val ids = sources.toArray
        val cl = new Array[Double](ids.length)
        val bet = new Array[Double](n)
        val ld = new Array[Double](n)
        val dist = Array.fill(n)(-1)
        val sigma = new Array[Double](n)
        val np = new Array[Int](n)
        val db = new Array[Double](n)
        val dl = new Array[Double](n)
        val order = new Array[Int](n) // BFS queue; read backwards, the stack
        var k = 0
        while (k < ids.length) {
          val s = ids(k)
          dist(s) = 0; sigma(s) = 1.0; order(0) = s
          var head = 0; var tail = 1; var sumD = 0L
          while (head < tail) {
            val v = order(head); head += 1
            var j = off(v)
            while (j < off(v + 1)) {
              val w = nbr(j)
              if (dist(w) < 0) {
                dist(w) = dist(v) + 1; sumD += dist(w); order(tail) = w; tail += 1 }
              if (dist(w) == dist(v) + 1) { sigma(w) += sigma(v); np(w) += 1 }
              j += 1
            }
          }
          cl(k) = if (sumD > 0)
            ((tail - 1).toDouble / (n - 1)) * ((tail - 1).toDouble / sumD)
          else 0.0
          var i = tail - 1
          while (i > 0) {
            val w = order(i)
            val bw = 1.0 + db(w)
            val lw = (1.0 + dl(w)) / np(w)
            var j = off(w)
            while (j < off(w + 1)) {
              val v = nbr(j)
              if (dist(v) == dist(w) - 1) { db(v) += sigma(v) / sigma(w) * bw; dl(v) += lw }
              j += 1
            }
            bet(w) += db(w); ld(w) += dl(w)
            i -= 1
          }
          i = 0
          while (i < tail) {
            val v = order(i)
            dist(v) = -1; sigma(v) = 0.0; np(v) = 0; db(v) = 0.0; dl(v) = 0.0
            i += 1
          }
          k += 1
        }
        Iterator.single((ids, cl, bet, ld))
      }.collect()
    finally bc.destroy()
    val closeness = new Array[Double](n)
    val bet = new Array[Double](n)
    val ld = new Array[Double](n)
    parts.foreach { case (ids, c, b, l) =>
      var i = 0
      while (i < ids.length) { closeness(ids(i)) = c(i); i += 1 }
      i = 0
      while (i < n) { bet(i) += b(i); ld(i) += l(i); i += 1 }
    }
    val denom = if (n > 2) (n - 1.0) * (n - 2.0) else 1.0
    (closeness, bet.map(_ / denom), ld.map(_ / denom))
  }

  private def column(spark: SparkSession, name: String, xs: Array[Double]) =
    spark.createDataFrame(xs.toSeq.zipWithIndex.map(p => (p._2.toLong, p._1))).toDF("id", name)

  /** Closeness centrality ([[sweep]]), exact. */
  def closeness(spark: SparkSession, edges: DataFrame, n: Long): DataFrame =
    column(spark, "closeness", sweep(spark, collectCsr(edges, n))._1)

  /** Betweenness centrality — exact Brandes ([[sweep]]). */
  def betweenness(spark: SparkSession, edges: DataFrame, n: Long): DataFrame =
    column(spark, "betweenness", sweep(spark, collectCsr(edges, n))._2)

  /** Load centrality (nx.load_centrality; benchmark.py:105-107). */
  def load(spark: SparkSession, edges: DataFrame, n: Long): DataFrame =
    column(spark, "load", sweep(spark, collectCsr(edges, n))._3)

  // ------------------------------------------------------------------
  // Distributed (past-broadcast-scale) closeness / betweenness / load:
  // level-synchronous multi-source BFS in DataFrames. Exact when
  // sources = all vertices; pivot-sampled estimate (scaled by n/|S|)
  // when n > sourcesCap.
  // ------------------------------------------------------------------

  /** Forward BFS from every source in `sources` simultaneously.
    * Returns per-level frames (s, v, sigma) and the union of visited
    * (s, v, dist, sigma). Jobs scale with graph diameter — the standard
    * price of level-synchronous BFS; each level is one join+agg over
    * the whole frontier, so a 1000-executor cluster does all sources
    * at once. */
  private def multiSourceBfs(spark: SparkSession, sym: DataFrame,
                             sources: DataFrame)
      : (Seq[DataFrame], Seq[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]) = {
    val handles = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
    var levels = List.empty[DataFrame]
    var (frontier, fh) = graft.util.Iterate.checkpoint(spark,
      sources.select(col("s"), col("s").as("v"), lit(1.0).as("sigma")))
    handles += fh
    levels ::= frontier
    // visited = lazy union over the ALREADY-checkpointed level frames —
    // re-materializing the whole visited set every level doubled the
    // loop's checkpoint cost. Compacted into its own checkpoint every 8
    // levels so anti-join fan-in and plan depth stay bounded on
    // high-diameter graphs (grids, roads).
    var visitedParts: List[DataFrame] =
      List(frontier.select(col("s"), col("v")))
    var frontierCount = frontier.count()
    while (frontierCount > 0) {
      val cand = frontier.join(sym.withColumnRenamed("src", "v"), "v")
        .select(col("s"), col("dst").as("v"), col("sigma"))
      val nextRaw = cand.join(visitedParts.reduce(_ union _),
          Seq("s", "v"), "left_anti")
        .groupBy("s", "v").agg(sum("sigma").as("sigma"))
      // the frontier count rides the checkpoint's materializing action
      val (next, nh, cnt) =
        graft.util.Iterate.checkpointWith(spark, nextRaw)(_.count())
      handles += nh
      frontierCount = cnt
      if (cnt > 0) {
        visitedParts ::= next.select(col("s"), col("v"))
        if (visitedParts.length >= 8) {
          val (vc, vh) = graft.util.Iterate.checkpoint(spark,
            visitedParts.reduce(_ union _))
          handles += vh
          visitedParts = List(vc)
        }
        levels ::= next
        frontier = next
      }
    }
    (levels.reverse, handles.toSeq)
  }

  /** Harmonic centrality h(v) = Σ_{s≠v} 1/d(s, v) (Marchiori–Latora;
    * the closeness variant that stays meaningful on DISCONNECTED
    * graphs — unreachable pairs contribute 0 instead of poisoning a
    * reciprocal-of-sum). Exact for n ≤ sourcesCap, else the sampled
    * estimate scaled by n/|S| — the closeness frame of
    * [[bfsMeasuresDistributed]] with a reciprocal-sum accumulator over
    * the same level-synchronous multi-source BFS; one extra aggregate
    * over the already-computed (s, v, dist) levels, so the marginal
    * cost over closeness is one job. Returned frame is PERSISTED;
    * callers may unpersist. */
  def harmonicDistributed(spark: SparkSession, edges: DataFrame, n: Long,
                          sourcesCap: Int = 256, seed: Long = 42): DataFrame = {
    // Size-guarded driver route (r16; the bfsDistances/stronglyConnected
    // precedent): in EXACT mode (n ≤ sourcesCap — every vertex is a
    // source, no sampling to replay) on a ≤DriverRoute.GraphEdges-edge graph,
    // n driver BFS sweeps replace ~diameter checkpoint jobs of pure
    // scheduler latency. Identical output frame: one row per id in
    // [0, n), h = Σ_{d(s,v)>0} 1/d (unreachable → 0.0), scale 1.
    // Sampled mode (n > sourcesCap) always runs distributed.
    if (n <= sourcesCap) {
      graft.util.DriverRoute.probeIdPairs(edges, "src", "dst",
        graft.util.DriverRoute.GraphEdges) match {
        case Some(arr) =>
          import scala.collection.mutable
          val adj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
          arr.foreach { case (s, d) =>
            adj.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += d
            adj.getOrElseUpdate(d, mutable.ArrayBuffer.empty) += s
          }
          val h = new Array[Double](n.toInt)
          val empty = mutable.ArrayBuffer.empty[Long]
          var s = 0L
          while (s < n) {
            val dist = mutable.HashMap.empty[Long, Long]
            dist(s) = 0L
            var frontier: Seq[Long] = Seq(s)
            var round = 0L
            while (frontier.nonEmpty) {
              round += 1
              val next = mutable.ArrayBuffer.empty[Long]
              frontier.foreach { v =>
                adj.getOrElse(v, empty).foreach { nb =>
                  if (!dist.contains(nb)) { dist(nb) = round; next += nb }
                }
              }
              frontier = next.toSeq
            }
            dist.foreach { case (v, d) =>
              if (d > 0 && v >= 0 && v < n) h(v.toInt) += 1.0 / d
            }
            s += 1
          }
          import spark.implicits._
          return (0L until n).map(i => (i, h(i.toInt)))
            .toDF("id", "harmonic").persist()
        case None => ()
      }
    }
    val sym = symmetrize(edges).persist()
    val (sources, nS) = pickSources(spark, n, sourcesCap, seed)
    val (levels, handles) = multiSourceBfs(spark, sym, sources)
    val byDist = levels.zipWithIndex.map { case (l, d) =>
      l.select(col("s"), col("v"), lit(d).as("dist")) }
      .reduce(_ union _)
    val scale = n.toDouble / nS
    val agg = byDist.filter(col("dist") > 0).groupBy("v")
      .agg(sum(lit(1.0) / col("dist")).as("h"))
    val out = spark.range(n).toDF("id")
      .join(agg.withColumnRenamed("v", "id"), Seq("id"), "left")
      .select(col("id"),
        (coalesce(col("h"), lit(0.0)) * lit(scale)).as("harmonic"))
    val result = out.persist()
    result.count()
    handles.foreach(_.unpersist(blocking = false))
    sym.unpersist()
    result
  }

  /** Distributed closeness + betweenness + load from (possibly
    * sampled) sources: ONE forward multi-source BFS and ONE backward
    * accumulation computing the Brandes (σ-proportional) and Newman
    * (equal-split) deltas as two columns of the same per-level frame.
    * Exact for |sources| = n; otherwise closeness is the Eppstein–Wang
    * style estimate (reach and distance sums scaled by n/|S|) and the
    * deltas the scaled pivot estimate. MetricsSpec's threshold-0 test
    * holds it to the driver-CSR closed forms. Returned
    * frames are PERSISTED (they must outlive the BFS checkpoints
    * released here); callers may unpersist. */
  def bfsMeasuresDistributed(spark: SparkSession, edges: DataFrame, n: Long,
                             sourcesCap: Int = 256, seed: Long = 42)
      : (DataFrame, DataFrame, DataFrame) = {
    val sym = symmetrize(edges).persist()
    val (sources, nS) = pickSources(spark, n, sourcesCap, seed)
    val (levels, handles) = multiSourceBfs(spark, sym, sources)
    val scale = n.toDouble / nS
    // ---- closeness from the forward levels ----
    val byDist = levels.zipWithIndex.map { case (l, d) =>
      l.select(col("s"), col("v"), lit(d).as("dist")) }
      .reduce(_ union _)
    val agg = byDist.groupBy("v").agg(
      count(lit(1)).as("reachS"), sum("dist").as("sumD"))
    val closenessOut = spark.range(n).toDF("id")
      .join(agg.withColumnRenamed("v", "id"), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("reachS"), lit(0L)).cast("double").as("reachS"),
        coalesce(col("sumD"), lit(0L)).cast("double").as("sumD"))
      .select(col("id"),
        when(col("sumD") > 0,
          ((col("reachS") * scale - 1.0) / (n - 1.0)) *
            ((col("reachS") * scale - 1.0) / (col("sumD") * scale)))
          .otherwise(lit(0.0)).as("closeness"))
      .persist()
    closenessOut.count()
    // ---- backward accumulation, both delta rules at once ----
    val extraHandles = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
    val L = levels.length
    var accum = List.empty[DataFrame]
    var deltaAbove: DataFrame = levels(L - 1)
      .select(col("s"), col("v"), lit(0.0).as("db"), lit(0.0).as("dl"))
    var lvl = L - 2
    while (lvl >= 0) {
      val wFrame = levels(lvl + 1)
        .join(deltaAbove, Seq("s", "v"))
        .select(col("s"), col("v").as("w"), col("sigma").as("sigma_w"),
          col("db").as("db_w"), col("dl").as("dl_w"))
      val pairs = wFrame
        .join(sym.withColumnRenamed("src", "w").withColumnRenamed("dst", "pv"), "w")
        .join(levels(lvl).select(col("s"), col("v").as("pv"),
          col("sigma").as("sigma_v")), Seq("s", "pv"))
      val np = pairs.groupBy("s", "w").agg(count(lit(1)).as("np"))
      val contribs = pairs.join(np, Seq("s", "w"))
        .select(col("s"), col("pv").as("v"),
          (col("sigma_v") / col("sigma_w") * (lit(1.0) + col("db_w"))).as("cb"),
          ((lit(1.0) + col("dl_w")) / col("np")).as("cl"))
      val deltaRaw = levels(lvl).select(col("s"), col("v"))
        .join(contribs.groupBy("s", "v")
          .agg(sum("cb").as("db"), sum("cl").as("dl")), Seq("s", "v"), "left")
        .select(col("s"), col("v"),
          coalesce(col("db"), lit(0.0)).as("db"),
          coalesce(col("dl"), lit(0.0)).as("dl"))
      val (delta, dh) = graft.util.Iterate.checkpoint(spark, deltaRaw)
      extraHandles += dh
      accum ::= delta.filter(col("v") =!= col("s"))
      deltaAbove = delta
      lvl -= 1
    }
    val denom = if (n > 2) (n - 1.0) * (n - 2.0) else 1.0
    val summed =
      if (accum.isEmpty)
        spark.range(0).toDF("id")
          .withColumn("sb", lit(0.0)).withColumn("sl", lit(0.0))
      else accum.reduce(_ union _).groupBy(col("v").as("id"))
        .agg(sum("db").as("sb"), sum("dl").as("sl"))
    val both = spark.range(n).toDF("id")
      .join(summed, Seq("id"), "left")
      .select(col("id"),
        (coalesce(col("sb"), lit(0.0)) * scale / denom).as("betweenness"),
        (coalesce(col("sl"), lit(0.0)) * scale / denom).as("load"))
      .persist()
    both.count()
    (handles ++ extraHandles).foreach(_.unpersist(blocking = false))
    sym.unpersist()
    (closenessOut,
      both.select(col("id"), col("betweenness")),
      both.select(col("id"), col("load")))
  }

  private def symmetrize(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))

  /** Deterministic source pick: all vertices when n ≤ cap, else the
    * `cap` smallest xxhash64(seed, id) values (a seeded sample). */
  private def pickSources(spark: SparkSession, n: Long, cap: Int,
                          seed: Long): (DataFrame, Long) = {
    val ids = spark.range(n).toDF("s")
    if (n <= cap) (ids, n)
    else (ids.orderBy(xxhash64(lit(seed), col("s")), col("s")).limit(cap),
      cap.toLong)
  }

  /** All reference centralities (benchmark.py:73-107) in one frame
    * (id, degree_centrality, pagerank, eigenvector, closeness,
    * betweenness, load), one row per id in [0, n).
    * `DriverRoute.CentralityEdges` caps the edge probe ([[graft.util.DriverRoute.rowsAtMost]], then
    * [[graft.util.DriverRoute.probeIdPairs]]; no job when a loaded
    * persisted frame was probed before): at or below it every measure
    * is a driver array over ONE CSR (closeness, betweenness and load from
    * the one [[sweep]] job) and the result is a local frame — no join,
    * no shuffle; past it every measure routes to its distributed
    * implementation and the frames are outer-joined on id. */
  def all(spark: SparkSession, edges: DataFrame, n: Long): DataFrame = {
    import graft.util.DriverRoute
    import DriverRoute.CentralityEdges
    val probed =
      if (DriverRoute.rowsAtMost(edges, CentralityEdges))
        DriverRoute.probeIdPairs(edges, "src", "dst", CentralityEdges)
      else None
    probed match {
      case Some(pairs) =>
        val g = csrOf(pairs, n)
        val (cl, bt, ld) = sweep(spark, g)
        val (deg, pr, ev) = (degreeCsr(g), pageRankCsr(g), eigenvectorCsr(g))
        import spark.implicits._
        (0 until g.n).map(i => (i.toLong, deg(i), pr(i), ev(i), cl(i), bt(i), ld(i)))
          .toDF("id", "degree_centrality", "pagerank", "eigenvector",
            "closeness", "betweenness", "load")
      case None =>
        // pageRankDistributed (not GraphX static) so pagerank semantics
        // are route-invariant across the route cap —
        // same nx convergence rule as pageRankCsr on both sides; the
        // three BFS measures share ONE forward BFS + backward pass.
        val (cl, bt, ld) = bfsMeasuresDistributed(spark, edges, n)
        Seq(pageRankDistributed(spark, edges, n),
          eigenvectorDistributed(spark, edges, n), cl, bt, ld)
          .foldLeft(degreeCentrality(edges, n)) {
            (acc, df) => acc.join(df, Seq("id"), "outer")
          }.na.fill(0.0)
    }
  }
}
