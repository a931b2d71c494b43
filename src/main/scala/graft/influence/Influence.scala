package graft.influence

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VecOps
import graft.gen.Generators.hashUniform
import graft.util.DriverRoute

/** Influence-maximization surface (reference: influence.py).
  *
  * The IC simulation replaces ndlib's opaque RNG with a hash-RNG —
  * success of an activation attempt is `xxhash64(seed, src, dst, round)`
  * mapped to [0,1) compared against p — a documented semantic refinement
  * (SURVEY.md §7 risk 4) that makes every simulation exactly replayable
  * on any cluster, which the reference cannot do.
  */
object Influence {

  /** W1 seed selection (influence.py:27-37): top-k vertices by embedding
    * radius. TakeOrderedAndProject — no full sort materialized. */
  def selectSeeds(pos: DataFrame, k: Int): DataFrame =
    pos.select(col("id"), VecOps.norm(col("pos")).as("radius"))
      .orderBy(col("radius").desc, col("id").asc)
      .limit(k)

  /** Both-direction adjacency of a canonical edge list. */
  private def adjacency(eArr: Array[(Long, Long)]): java.util.HashMap[Long, Array[Long]] = {
    val tmp = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Long]]()
    def add(a: Long, b: Long): Unit =
      tmp.computeIfAbsent(a, _ => scala.collection.mutable.ArrayBuffer.empty[Long]) += b
    eArr.foreach { case (s, d) => add(s, d); add(d, s) }
    val out = new java.util.HashMap[Long, Array[Long]](tmp.size() * 2)
    tmp.forEach((k, v) => out.put(k, v.toArray))
    out
  }

  /** Driver-side replay of hashUniform(seed, src, dst, lit(round)):
    * `lit(round)` is an INT literal, so the last fold is hashInt —
    * bit-identical to the distributed coin, which is what makes the two
    * routes return the SAME infected set, not a statistical twin. */
  private def coin(seed: Long, src: Long, dst: Long, round: Int): Double = {
    import graft.util.DriverRoute._
    toUniform(foldInt(foldLong(foldLong(hashStart(seed), src), dst), round))
  }

  /** Driver-local cascade: identical frontier/round/coin semantics to
    * the distributed loop (set algebra over integers — no FP order to
    * diverge on). */
  private def cascadeLocal(adj: java.util.HashMap[Long, Array[Long]],
                           seeds: Array[Long], p: Double, maxRounds: Int,
                           seed: Long): java.util.HashSet[Long] = {
    val infected = new java.util.HashSet[Long]()
    seeds.foreach(infected.add)
    var frontier = seeds.distinct
    var round = 0
    while (frontier.nonEmpty && round < maxRounds) {
      val cand = new java.util.HashSet[Long]()
      frontier.foreach { src =>
        val nbrs = adj.get(src)
        if (nbrs != null) {
          var i = 0
          while (i < nbrs.length) {
            if (coin(seed, src, nbrs(i), round) < p) cand.add(nbrs(i))
            i += 1
          }
        }
      }
      val newly = new scala.collection.mutable.ArrayBuffer[Long](cand.size())
      cand.forEach(d => if (!infected.contains(d)) newly += d)
      newly.foreach(infected.add)
      frontier = newly.toArray
      round += 1
    }
    infected
  }

  /** L4 Independent Cascade (influence.py:40-84) as an iterative
    * frontier propagation: each round, active frontier nodes attempt to
    * infect neighbors with probability p; a node activates at most once.
    * Returns the final infected vertex set. Edges must be canonical
    * (src<dst); propagation uses both directions.
    *
    * Up to `DriverRoute.LoopEdges` long/long edges the loop replays on
    * the driver with bit-identical coins (a distributed cascade round is one scheduler
    * barrier; on a sub-500k-edge graph that's ALL it is); the two
    * routes return the same set, asserted by EmbeddingSpec.
    *
    * Scale (distributed route): each round is frontier ⋈ edges (shuffle
    * on id) + anti-join against infected; infected is checkpointed to
    * truncate lineage.
    */
  def independentCascade(spark: SparkSession, edges: DataFrame, seeds: DataFrame,
                         p: Double, maxRounds: Int = 100, seed: Long = 42): DataFrame =
    DriverRoute.probePairs(edges, "src", "dst", DriverRoute.LoopEdges) match {
      case Some(eArr) =>
        // no distinct(): it costs a shuffle job, and cascadeLocal
        // de-duplicates the seeds on the driver
        val seedIds = seeds.select(col("id").cast("long")).collect().map(_.getLong(0))
        val inf = cascadeLocal(adjacency(eArr), seedIds, p, maxRounds, seed)
        val out = new Array[Long](inf.size())
        val it = inf.iterator(); var i = 0
        while (it.hasNext) { out(i) = it.next(); i += 1 }
        import spark.implicits._
        out.sorted.toSeq.toDF("id")
      case None =>
        graft.util.Iterate.withSizedShuffle(spark, edges.count()) {
          independentCascadeLoop(spark, edges, seeds, p, maxRounds, seed)
        }
    }

  private def independentCascadeLoop(spark: SparkSession, edges: DataFrame,
                                     seeds: DataFrame, p: Double, maxRounds: Int,
                                     seed: Long): DataFrame = {
    val dir = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .persist()
    // infected = a LIST of per-round checkpointed frames; the anti-join
    // runs against their (lazy) union, so each round costs exactly ONE
    // job — the newly-infected checkpoint whose materializing action is
    // the frontier count. Handles stay persisted until the loop ends
    // (they back the union), then one final checkpoint owns the result.
    // cast matches the driver route's long output — without it an
    // int-typed seeds frame would give a route-dependent result schema
    val (seeds0, h0, cnt0) = graft.util.Iterate.checkpointWith(
      spark, seeds.select(col("id").cast("long")).distinct())(_.count())
    var parts = List(seeds0)
    var handles = List(h0)
    var frontier = seeds0
    var round = 0
    var frontierCount = cnt0
    while (frontierCount > 0 && round < maxRounds) {
      val attempts = dir.join(frontier.withColumnRenamed("id", "src"), "src")
        .filter(hashUniform(seed, col("src"), col("dst"), lit(round)) < p)
        .select(col("dst").as("id")).distinct()
      val infectedUnion = parts.reduce(_ union _)
      val (newly, nh, cnt) = graft.util.Iterate.checkpointWith(spark,
        attempts.join(infectedUnion, Seq("id"), "left_anti"))(_.count())
      frontierCount = cnt
      if (cnt > 0) { parts ::= newly; handles ::= nh; frontier = newly }
      else nh.unpersist(blocking = false)
      round += 1
    }
    val (result, _) = graft.util.Iterate.checkpoint(spark, parts.reduce(_ union _))
    handles.foreach(_.unpersist(blocking = false))
    dir.unpersist()
    result
  }

  /** A9 influence count (influence.py:81-84). */
  def estimatedInfluence(spark: SparkSession, edges: DataFrame, seeds: DataFrame,
                         p: Double, maxRounds: Int = 100, seed: Long = 42): Long =
    independentCascade(spark, edges, seeds, p, maxRounds, seed).count()

  /** L5 greedy seed selection (influence.py:87-128): k rounds of
    * best-marginal-gain. All candidates of a round are evaluated in ONE
    * Spark job by keying the cascade state with the candidate id —
    * the cluster-parallel form of the reference's per-candidate loop.
    * Candidates are capped to the top `candidatePool` by degree
    * (the reference evaluates all n, which is O(n·k) simulations; the
    * pool cap is the standard CELF-style practicality).
    *
    * Why not CELF lazy evaluation: CELF trades candidate evaluations
    * for SEQUENTIAL re-evaluations of the current top candidate, but
    * under Spark the scarce resource is driver-blocking job rounds, not
    * per-candidate work — the batched form runs a whole round's
    * candidates in the same jobs one candidate would cost, so laziness
    * would only add rounds. (CELF's bound also assumes submodularity,
    * which round-indexed hash coins slightly violate.)
    */
  def greedySeeds(spark: SparkSession, edges: DataFrame, k: Int, p: Double,
                  simRounds: Int = 50, candidatePool: Int = 64,
                  seed: Long = 42): DataFrame =
    DriverRoute.probePairs(edges, "src", "dst", DriverRoute.LoopEdges) match {
      case Some(eArr) => greedySeedsLocal(spark, eArr, k, p, simRounds,
        candidatePool, seed)
      case None =>
        graft.util.Iterate.withSizedShuffle(spark, edges.count()) {
          greedySeedsLoop(spark, edges, k, p, simRounds, candidatePool, seed)
        }
    }

  /** Driver twin of [[greedySeedsLoop]]: same degree-capped pool, same
    * per-round coins (seed + roundK), same (count desc, cand asc)
    * argmax — candidates fan out across cores, every marginal count is
    * an integer, so the routes agree exactly. */
  private def greedySeedsLocal(spark: SparkSession, eArr: Array[(Long, Long)],
                               k: Int, p: Double, simRounds: Int,
                               candidatePool: Int, seed: Long): DataFrame = {
    val adj = adjacency(eArr)
    val degs = new java.util.HashMap[Long, Long]()
    eArr.foreach { case (s, d) =>
      degs.merge(s, 1L, _ + _); degs.merge(d, 1L, _ + _)
    }
    val pool0 = {
      val b = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      degs.forEach((id, dg) => b += ((id, dg)))
      b.sortBy { case (id, dg) => (-dg, id) }.take(candidatePool).map(_._1).toArray
    }
    var chosen = Vector.empty[Long]
    // stops early when the pool is exhausted (k > pool size) — returns
    // the seeds that exist rather than crashing on an empty argmax
    var roundK = 0
    while (roundK < k && chosen.length < pool0.length) {
      val pool = pool0.filterNot(chosen.contains)
      val counts = new Array[Int](pool.length)
      java.util.stream.IntStream.range(0, pool.length).parallel().forEach { ci =>
        counts(ci) = cascadeLocal(adj, (pool(ci) +: chosen).toArray, p,
          simRounds, seed + roundK).size()
      }
      val best = pool.indices.minBy(ci => (-counts(ci), pool(ci)))
      chosen = chosen :+ pool(best)
      roundK += 1
    }
    import spark.implicits._
    chosen.toDF("id")
  }

  private def greedySeedsLoop(spark: SparkSession, edges: DataFrame, k: Int,
                              p: Double, simRounds: Int, candidatePool: Int,
                              seed: Long): DataFrame = {
    import graft.model.GraphOps
    val dir = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .persist()
    val candidates = GraphOps.degrees(edges)
      .orderBy(col("degree").desc, col("id").asc).limit(candidatePool)
      .select(col("id").as("cand")).persist()
    val poolSize = candidates.count()

    var chosen = Seq.empty[Long]
    // same pool-exhaustion stop as the driver twin (k > pool size)
    for (roundK <- 0 until k if chosen.length < poolSize) {
      // Already-chosen vertices leave the candidate pool (the reference
      // skips `node in seeds`, influence.py:110-112) — round-indexed
      // hash coins make cascades non-monotone in the seed set, so a
      // chosen low-id candidate could otherwise win a count tiebreak
      // again and produce duplicate seeds. `chosen` is ≤ k values, so
      // an isin filter (no extra shuffle) beats an anti join here.
      val pool =
        if (chosen.isEmpty) candidates
        else candidates.filter(!col("cand").isin(chosen: _*))
      // state: (cand, id) infected pairs — every candidate's cascade in
      // one job; infected_0 = {cand} ∪ chosen per candidate. Same
      // one-job-per-round union-of-parts shape as independentCascade.
      val base = pool.select(col("cand"), col("cand").as("id"))
      val (inf0, h0, cnt0) = graft.util.Iterate.checkpointWith(spark,
        (if (chosen.isEmpty) base
        else base.union(pool.crossJoin(
          spark.createDataFrame(chosen.map(Tuple1(_))).toDF("id"))))
          .distinct())(_.count())
      var parts = List(inf0)
      var handles = List(h0)
      var frontier = inf0
      var r = 0
      var cnt = cnt0
      while (cnt > 0 && r < simRounds) {
        val attempts = dir.join(frontier.withColumnRenamed("id", "src"), "src")
          .filter(hashUniform(seed + roundK, col("src"), col("dst"), lit(r)) < p)
          .select(col("cand"), col("dst").as("id")).distinct()
        val infectedUnion = parts.reduce(_ union _)
        val (newly, nh, c) = graft.util.Iterate.checkpointWith(spark,
          attempts.join(infectedUnion, Seq("cand", "id"), "left_anti"))(_.count())
        cnt = c
        if (c > 0) { parts ::= newly; handles ::= nh; frontier = newly }
        else nh.unpersist(blocking = false)
        r += 1
      }
      val best = parts.reduce(_ union _).groupBy("cand").count()
        .orderBy(col("count").desc, col("cand").asc).limit(1)
        .collect()(0).getLong(0)
      chosen = chosen :+ best
      handles.foreach(_.unpersist(blocking = false))
    }
    dir.unpersist(); candidates.unpersist()
    spark.createDataFrame(chosen.map(Tuple1(_))).toDF("id")
  }

  /** A10 random-baseline: mean IC influence over `trials` hash-seeded
    * random k-seed sets (benchmark.py:343-349). */
  def randomBaseline(spark: SparkSession, edges: DataFrame, k: Int, p: Double,
                     trials: Int = 5, maxRounds: Int = 100, seed: Long = 42): Double = {
    val verts = graft.model.GraphOps.vertices(edges).persist()
    val counts = (0 until trials).map { t =>
      val seeds = verts
        .orderBy(hashUniform(seed + t, col("id")).asc, col("id").asc).limit(k)
      estimatedInfluence(spark, edges, seeds, p, maxRounds, seed + 1000 + t).toDouble
    }
    verts.unpersist()
    counts.sum / trials
  }
}
