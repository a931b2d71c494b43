package graft.bench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.GraphEm
import graft.layout.LayoutConfig
import graft.metrics.{Centralities, Correlation}
import graft.model.GraphOps
import graft.influence.Influence
import graft.functions.VecOps

/** Benchmark harness mirroring the reference's three pipelines
  * (benchmark.py:18-380):
  *  - run_benchmark / benchmark_correlations: generate → centralities →
  *    embed → radii → Spearman ρ(radius, centrality) per measure;
  *  - run_influence_benchmark: embedding seeds vs greedy vs random
  *    baseline with timings.
  * Results come back as DataFrames for the S19 sinks (csv/markdown).
  */
object Harness {

  /** benchmark_correlations (benchmark.py:166-243): one row per
    * centrality with ρ(embedding radius, centrality). */
  def correlationBenchmark(spark: SparkSession, edges: DataFrame,
                           cfg: LayoutConfig = LayoutConfig()): DataFrame =
    graft.util.Iterate.withSizedShuffle(spark, edges.count()) {
      correlationBenchmarkImpl(spark, edges, cfg)
    }

  private def correlationBenchmarkImpl(spark: SparkSession, edges: DataFrame,
                                       cfg: LayoutConfig): DataFrame = {
    val em = GraphEm(spark, edges, cfg)
    try {
      em.runLayout()
      correlationFromPositions(spark, edges, em.positions, em.nVertices)
    } finally em.close()
  }

  /** The ρ table for ALREADY-computed positions — the facade's
    * `GraphEm.correlationReport()` path (no layout re-run). */
  def correlationFromPositions(spark: SparkSession, edges: DataFrame,
                               positions: DataFrame, nVertices: Long): DataFrame = {
    val radii = positions
      .select(col("id"), VecOps.norm(col("pos")).as("radius")).persist()
    val cents = Centralities.all(spark, edges, nVertices).persist()
    val joined = radii.join(cents, "id").persist()
    joined.count()
    import spark.implicits._
    val measures = Seq("degree_centrality", "pagerank", "eigenvector",
      "closeness", "betweenness", "load")
    // all ρ in two jobs (constant guard + one ranked-corr plan) —
    // sequential per-pair spearman was ~25 driver-blocking jobs.
    val rhos = Correlation.spearmanMany(joined, "radius", measures)
    val rows = measures.map(c => (c, rhos(c)))
    radii.unpersist(); cents.unpersist(); joined.unpersist()
    rows.toDF("centrality", "spearman_rho")
  }

  /** run_influence_benchmark (benchmark.py:246-380): embedding-based
    * seeds vs greedy vs random baseline. */
  def influenceBenchmark(spark: SparkSession, edges: DataFrame, k: Int,
                         p: Double, cfg: LayoutConfig = LayoutConfig(),
                         greedyPool: Int = 32): DataFrame = {
    import spark.implicits._
    def timed[T](b: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = b; (r, (System.nanoTime() - t0) / 1e9)
    }
    val em = GraphEm(spark, edges, cfg)
    val (_, layoutTime) = timed(em.runLayout())
    val (embSpread, embTime) = timed {
      em.estimateInfluence(em.selectSeeds(k), p).toDouble
    }
    em.close()
    val (greedySpread, greedyTime) = timed {
      val seeds = Influence.greedySeeds(spark, edges, k, p,
        simRounds = 50, candidatePool = greedyPool, seed = cfg.seed)
      Influence.estimatedInfluence(spark, edges, seeds, p, 100, cfg.seed).toDouble
    }
    val (randSpread, randTime) = timed {
      Influence.randomBaseline(spark, edges, k, p, trials = 5, seed = cfg.seed)
    }
    Seq(
      ("graphem", embSpread, layoutTime + embTime),
      ("greedy", greedySpread, greedyTime),
      ("random", randSpread, randTime)
    ).toDF("method", "influence_spread", "time_sec")
  }
}
