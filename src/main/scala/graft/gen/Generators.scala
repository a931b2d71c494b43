package graft.gen

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph generators (reference: generators.py). Two implementation
  * families, chosen by the algorithm's data dependencies:
  *
  *  - *Distributed, hash-seeded*: anything whose edge set is a pure
  *    function of (i, j, seed) — ER, SBM, bipartite, geometric, grid,
  *    tree, ring lattice, caveman. These scale to arbitrary n: the
  *    candidate space is generated with `spark.range` and thinned with a
  *    deterministic `xxhash64`-derived Bernoulli, so the same seed gives
  *    the same graph on any cluster size and the whole plan is
  *    codegen'd (no RNG state, no driver bottleneck).
  *  - *Driver-side, seeded*: inherently sequential preferential/
  *    rewiring processes (BA, Watts-Strogatz rewiring, powerlaw
  *    cluster, random regular, scale-free) — like the reference, which
  *    also runs these single-threaded in NetworkX (generators.py:112-151).
  *    n at generation time is small (benchmarks use n≤500); the result
  *    is parallelized immediately.
  *
  * Stochastic outputs are seed-deterministic within THIS engine but do
  * not bit-match NetworkX (SURVEY.md §2.1 footnote); structural
  * invariants are the contract, as in the reference's own tests.
  */
object Generators {

  /** Deterministic uniform in [0,1) from hashed columns: top 53 bits of
    * xxhash64 (built-in, codegen'd) scaled — the seeded-Bernoulli
    * refinement documented in SURVEY.md §2.8. */
  def hashUniform(seed: Long, cols: Column*): Column =
    shiftrightunsigned(xxhash64((lit(seed) +: cols): _*), 11)
      .cast("double") / lit(9007199254740992.0) // 2^53

  private def canon(df: DataFrame): DataFrame =
    df.select(least(col("src"), col("dst")).as("src"),
      greatest(col("src"), col("dst")).as("dst"))
      .filter(col("src") < col("dst")).distinct()

  /** Data-sized id range: ~10k ids per slice, capped at the cluster's
    * default parallelism. `spark.range`'s default slice count is the
    * core count, so a 30-vertex fixture graph otherwise becomes a
    * 32-partition frame whose every downstream union/reference costs a
    * full wide stage of empty tasks (measured: a 6×5-grid BFS query ran
    * 128-task generator scans — pure scheduler latency). Content is
    * partition-invariant: every generator derives edges from (id, seed)
    * hashes, never from row order. */
  private def range(spark: SparkSession, start: Long, end: Long): DataFrame = {
    val slices = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong, (end - start) / 10000 + 1))
    spark.range(start, end, 1, slices.toInt).toDF("id")
  }
  private def range(spark: SparkSession, n: Long): DataFrame =
    range(spark, 0L, n)

  /** G(n,p) Erdős–Rényi (generators.py:32-49). Candidate space is the
    * upper triangle; O(n²) candidates is inherent to dense-p ER. */
  def erdosRenyi(spark: SparkSession, n: Long, p: Double, seed: Long): DataFrame = {
    val a = range(spark, n).toDF("src")
    val b = range(spark, n).toDF("dst")
    a.crossJoin(b).filter(col("src") < col("dst"))
      .filter(hashUniform(seed, col("src"), col("dst")) < p)
  }

  /** Stochastic block model (generators.py:67-109); block label of id i
    * is floor(i / nPerBlock) (generators.py:106). */
  def sbm(spark: SparkSession, nPerBlock: Long, numBlocks: Long,
          pIn: Double, pOut: Double, seed: Long): DataFrame = {
    val n = nPerBlock * numBlocks
    val a = range(spark, n).toDF("src")
    val b = range(spark, n).toDF("dst")
    val sameBlock = floor(col("src") / nPerBlock) === floor(col("dst") / nPerBlock)
    a.crossJoin(b).filter(col("src") < col("dst"))
      .filter(hashUniform(seed, col("src"), col("dst")) <
        when(sameBlock, pIn).otherwise(pOut))
  }

  /** 2D grid / road network, exact (generators.py:176-196): node (r,c) →
    * id r*w+c; right neighbor when c<w-1, down neighbor when r<h-1. */
  def roadNetwork(spark: SparkSession, width: Long, height: Long): DataFrame = {
    val ids = range(spark, width * height).toDF("src")
    val right = ids.filter(col("src") % width < width - 1)
      .select(col("src"), (col("src") + 1).as("dst"))
    val down = ids.filter(col("src") < width * (height - 1))
      .select(col("src"), (col("src") + width).as("dst"))
    right.union(down)
  }

  /** Balanced r-ary tree of height h, exact (generators.py:217-232):
    * node i>0 has parent (i-1)/r. */
  def balancedTree(spark: SparkSession, r: Long, h: Int): DataFrame = {
    // n = (r^(h+1)-1)/(r-1) nodes for r>1, h+1 for r==1
    val n = if (r == 1) h.toLong + 1
    else (0 to h).map(i => math.pow(r.toDouble, i.toDouble).toLong).sum
    range(spark, 1, n).toDF("dst")
      .select(((col("dst") - 1) / r).cast("long").as("src"), col("dst"))
  }

  /** Connected caveman: l cliques of size k, exact (generators.py:302-320).
    * NetworkX's connected_caveman additionally rewires one edge per
    * clique to the next; we emit the plain caveman cliques (the
    * reference uses nx.caveman_graph at generators.py:318). */
  def caveman(spark: SparkSession, l: Long, k: Long): DataFrame = {
    val ids = range(spark, l * k).toDF("src")
    val b = range(spark, l * k).toDF("dst")
    ids.crossJoin(b)
      .filter(col("src") < col("dst") &&
        floor(col("src") / k) === floor(col("dst") / k))
  }

  /** Relaxed caveman (generators.py:323-341): caveman + hash-seeded
    * rewiring of each edge's dst with probability p (engine-deterministic
    * variant; self-loops/dups dropped in canon). */
  def relaxedCaveman(spark: SparkSession, l: Long, k: Long, p: Double, seed: Long): DataFrame = {
    val n = l * k
    val base = caveman(spark, l, k)
    val rewired = base.withColumn("u", hashUniform(seed, col("src"), col("dst")))
      .withColumn("dst",
        when(col("u") < p,
          pmod(xxhash64(lit(seed + 1), col("src"), col("dst")), lit(n)))
          .otherwise(col("dst")))
      .drop("u")
    canon(rewired)
  }

  /** Ring lattice: each node connected to k/2 neighbors on each side —
    * the Watts–Strogatz substrate (generators.py:132-151), exact. */
  def ringLattice(spark: SparkSession, n: Long, k: Int): DataFrame = {
    val ids = range(spark, n).toDF("src")
    val offsets = range(spark, 1, k / 2 + 1).toDF("off")
    canon(ids.crossJoin(offsets)
      .select(col("src"), ((col("src") + col("off")) % n).as("dst")))
  }

  /** Watts–Strogatz (generators.py:132-151): ring lattice + hash-seeded
    * rewiring of dst with probability p (engine-deterministic variant). */
  def wattsStrogatz(spark: SparkSession, n: Long, k: Int, p: Double, seed: Long): DataFrame = {
    val base = ringLattice(spark, n, k)
    canon(base.withColumn("u", hashUniform(seed, col("src"), col("dst")))
      .withColumn("dst",
        when(col("u") < p,
          pmod(xxhash64(lit(seed + 1), col("src"), col("dst")), lit(n)))
          .otherwise(col("dst")))
      .drop("u"))
  }

  /** Random bipartite top×bottom with p=0.1 (generators.py:199-214);
    * bottom ids offset by nTop. */
  def bipartite(spark: SparkSession, nTop: Long, nBottom: Long,
                p: Double = 0.1, seed: Long = 42): DataFrame = {
    val top = range(spark, nTop).toDF("src")
    val bot = range(spark, nTop, nTop + nBottom).toDF("dst")
    top.crossJoin(bot).filter(hashUniform(seed, col("src"), col("dst")) < p)
  }

  /** Random geometric graph in the unit cube (generators.py:280-299).
    * Scale path: points are bucketed into cells of side `radius`; only
    * same-or-adjacent-cell pairs are distance-tested, turning the O(n²)
    * theta join into an equi-join on cell keys — the standard spatial
    * grid join. Exact for the given seed.
    */
  def geometric(spark: SparkSession, n: Long, radius: Double,
                dim: Int = 2, seed: Long = 42): DataFrame = {
    require(dim == 2 || dim == 3, "grid join implemented for dim 2 or 3")
    val coords = (0 until dim).map(d =>
      hashUniform(seed + d, col("id")).as(s"c$d"))
    val pts = range(spark, n).select(col("id") +: coords: _*)
    val cells = (0 until dim).map(d => floor(col(s"c$d") / radius).as(s"cell$d"))
    val ptsC = pts.select((col("id") +: (0 until dim).map(d => col(s"c$d"))) ++ cells: _*)

    // neighbor-cell offsets: each point joins candidates in its own and
    // adjacent cells; generate offset rows and join on shifted cell key.
    val offs = -1 to 1
    val offsetRows = (if (dim == 2) for (a <- offs; b <- offs) yield (a, b, 0)
    else for (a <- offs; b <- offs; c <- offs) yield (a, b, c))
    import spark.implicits._
    val offDf = offsetRows.toDF("o0", "o1", "o2")
    val left = ptsC.crossJoin(broadcast(offDf))
      .select(
        (col("id").as("src") +: (0 until dim).map(d => col(s"c$d").as(s"a$d"))) ++
          (0 until dim).map(d => (col(s"cell$d") + col(s"o$d")).as(s"jcell$d")): _*)
    val right = ptsC.select(
      (col("id").as("dst") +: (0 until dim).map(d => col(s"c$d").as(s"b$d"))) ++
        (0 until dim).map(d => col(s"cell$d").as(s"jcell$d")): _*)
    val distSq = (0 until dim).map(d =>
      (col(s"a$d") - col(s"b$d")) * (col(s"a$d") - col(s"b$d"))).reduce(_ + _)
    left.join(right, (0 until dim).map(d => s"jcell$d"))
      .filter(col("src") < col("dst") && distSq < radius * radius)
      .select("src", "dst")
  }

  // ---- driver-side sequential generators (parallelized on return) ----

  private def toDf(spark: SparkSession, edges: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    canon(edges.toDF("src", "dst"))
  }

  /** Barabási–Albert preferential attachment (generators.py:112-129):
    * repeated-node list trick — each new node attaches to m targets
    * sampled ∝ degree. */
  def barabasiAlbert(spark: SparkSession, n: Int, m: Int, seed: Long): DataFrame = {
    require(n > m && m >= 1)
    val rnd = new scala.util.Random(seed)
    val repeated = scala.collection.mutable.ArrayBuffer[Long]()
    val edges = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    var targets = (0 until m).map(_.toLong)
    for (v <- m until n) {
      targets.foreach { t =>
        edges += ((v.toLong, t))
        repeated += t; repeated += v.toLong
      }
      val picked = scala.collection.mutable.Set[Long]()
      while (picked.size < m) picked += repeated(rnd.nextInt(repeated.size))
      targets = picked.toIndexedSeq
    }
    toDf(spark, edges.toSeq)
  }

  /** Powerlaw cluster graph (generators.py:154-173): BA plus triad
    * closure with probability p. */
  def powerlawCluster(spark: SparkSession, n: Int, m: Int, p: Double, seed: Long): DataFrame = {
    require(n > m && m >= 1)
    val rnd = new scala.util.Random(seed)
    val adj = Array.fill(n)(scala.collection.mutable.Set[Int]())
    val repeated = scala.collection.mutable.ArrayBuffer[Int]()
    def addEdge(a: Int, b: Int): Unit = if (a != b && !adj(a).contains(b)) {
      adj(a) += b; adj(b) += a; repeated += a; repeated += b
    }
    (0 until m).foreach(i => repeated += i)
    for (v <- m until n) {
      var added = 0
      var target = repeated(rnd.nextInt(repeated.size))
      while (added < m) {
        if (!adj(v).contains(target) && target != v) {
          addEdge(v, target); added += 1
          // triad step: close a triangle with a neighbor of target
          if (added < m && rnd.nextDouble() < p && adj(target).nonEmpty) {
            val nbrs = adj(target).toIndexedSeq
            val w = nbrs(rnd.nextInt(nbrs.size))
            if (w != v && !adj(v).contains(w)) { addEdge(v, w); added += 1 }
          }
        }
        if (added < m) target = repeated(rnd.nextInt(repeated.size))
      }
    }
    toDf(spark, adj.zipWithIndex.flatMap { case (s, i) =>
      s.toSeq.filter(_ > i).map(j => (i.toLong, j.toLong))
    }.toSeq)
  }

  /** Random d-regular graph via the pairing model with restart on clash
    * (generators.py:235-252). */
  def randomRegular(spark: SparkSession, n: Int, d: Int, seed: Long): DataFrame = {
    require(n * d % 2 == 0, "n*d must be even")
    val rnd = new scala.util.Random(seed)
    var attempt = 0
    while (attempt < 1000) {
      val stubs = rnd.shuffle((0 until n).flatMap(v => Seq.fill(d)(v)).toVector)
      val pairs = stubs.grouped(2).map { case Vector(a, b) => (a, b) }.toSeq
      val ok = pairs.forall { case (a, b) => a != b } &&
        pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct.size == pairs.size
      if (ok) return toDf(spark, pairs.map { case (a, b) => (a.toLong, b.toLong) })
      attempt += 1
    }
    sys.error(s"random_regular($n,$d) failed after 1000 attempts")
  }

  /** Directed scale-free grown graph collapsed to undirected with
    * self-loops removed (generators.py:255-277). Simplified Bollobás
    * process: α add-new-src, β add-edge, γ add-new-dst. */
  def scaleFree(spark: SparkSession, n: Int, alpha: Double = 0.41,
                beta: Double = 0.54, seed: Long = 42): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val edges = scala.collection.mutable.ArrayBuffer[(Long, Long)]((0L, 1L), (1L, 2L), (2L, 0L))
    val inRep = scala.collection.mutable.ArrayBuffer[Long](1L, 2L, 0L)
    val outRep = scala.collection.mutable.ArrayBuffer[Long](0L, 1L, 2L)
    var next = 3L
    while (next < n) {
      val r = rnd.nextDouble()
      val (s, t) = if (r < alpha) { val t = inRep(rnd.nextInt(inRep.size)); val s = next; next += 1; (s, t) }
      else if (r < alpha + beta) (outRep(rnd.nextInt(outRep.size)), inRep(rnd.nextInt(inRep.size)))
      else { val s = outRep(rnd.nextInt(outRep.size)); val t = next; next += 1; (s, t) }
      if (s != t) { edges += ((s, t)); outRep += s; inRep += t }
    }
    toDf(spark, edges.toSeq)
  }
}
