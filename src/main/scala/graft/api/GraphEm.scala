package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.layout.{Layout, LayoutConfig}
import graft.linalg.EigenInit
import graft.influence.Influence

/** Facade mirroring `create_graphem(...)` + the embedder lifecycle
  * (reference: __init__.py:78-136, backends/embedder_pytorch.py).
  *
  * Strategy selection follows backend_selection.py:142-206 in spirit:
  * instead of cpu/pytorch/cuvs the axis here is driver-vs-distributed
  * eigen-init and layout, chosen by graph size through
  * [[graft.util.DriverRoute]]'s caps (the same thresholds idea,
  * re-expressed for a cluster). Unlike the reference's brute-force→ANN
  * switch, the layout's kNN is exact on both routes.
  *
  * Validation is eager (embedder_pytorch.py:127-147): empty edge sets
  * and non-positive dimensions are rejected at build time.
  *
  * The canonical edges stay persisted until [[close]], and the edge
  * memo of [[graft.util.DriverRoute]] keeps their pairs on the driver
  * (16 bytes an edge) for as long.
  */
class GraphEm private (spark: SparkSession, private[graft] val edges: DataFrame,
                       val nVertices: Long, cfg: LayoutConfig) {

  /** Releases the persisted edges, and with them their memoized pairs.
    * The facade still works afterwards, recomputing its edges on use. */
  def close(): Unit = edges.unpersist()

  /** Eager Laplacian-eigenmap init (embedder_pytorch.py:179-180). */
  lazy val initialPositions: DataFrame =
    EigenInit.init(spark, edges, nVertices, cfg.nComponents, cfg.seed)

  private var positionsVar: DataFrame = _

  /** run_layout(num_iterations) (embedder_pytorch.py:808-833). */
  def runLayout(): DataFrame = {
    positionsVar = Layout.run(spark, edges, initialPositions, cfg)
    positionsVar
  }

  /** Current positions (after layout, or the eigen init). */
  def positions: DataFrame =
    if (positionsVar != null) positionsVar else initialPositions

  /** graphem_seed_selection (influence.py:13-37). */
  def selectSeeds(k: Int): DataFrame = Influence.selectSeeds(positions, k)

  /** ndlib_estimated_influence analog with hash-RNG (influence.py:40-84). */
  def estimateInfluence(seeds: DataFrame, p: Double, rounds: Int = 100): Long =
    Influence.estimatedInfluence(spark, edges, seeds, p, rounds, cfg.seed)

  /** benchmark_correlations one-call UX (benchmark.py:166-243): one row
    * per centrality with ρ(embedding radius, centrality), computed from
    * this embedder's current positions. */
  def correlationReport(): DataFrame =
    graft.bench.Harness.correlationFromPositions(spark, edges, positions, nVertices)

  /** plot_radial_vs_centrality analog (visualization.py:93-127): the
    * faceted radius-vs-centrality scatter with OLS trendlines, as a
    * self-contained SVG string (the container has no plotting stack;
    * write it to a .svg file). Point data is per-vertex — bounded by
    * the embedded graph's vertex count, same driver-side contract as
    * the reference's plotly call. */
  def plotRadialVsCentrality(): String = {
    import org.apache.spark.sql.functions._
    val radii = positions.select(col("id"),
      graft.functions.VecOps.norm(col("pos")).as("radius"))
    val cents = graft.metrics.Centralities.all(spark, edges, nVertices)
    val measures = Seq("degree_centrality", "pagerank", "eigenvector",
      "closeness", "betweenness", "load")
    val long = radii.join(cents, "id").select(col("radius"),
      expr(s"stack(${measures.size}, " +
        measures.map(m => s"'$m', $m").mkString(", ") + ") AS (measure, value)"))
    graft.io.Sinks.svgScatter(long, "radius", "value", "measure",
      title = "Radial distance vs centrality")
  }
}

object GraphEm {
  /** Builder with eager validation; edges are canonicalized on entry. */
  def apply(spark: SparkSession, rawEdges: DataFrame,
            cfg: LayoutConfig = LayoutConfig()): GraphEm = {
    require(cfg.nComponents > 0, "n_components must be positive")
    require(cfg.kAttr >= 0 && cfg.kInter >= 0, "force constants must be >= 0")
    val edges = graft.model.GraphOps.undirect(rawEdges).persist()
    val m = edges.count()
    require(m > 0, "graph must have at least one edge")
    val n = edges.agg(greatest(max(col("src")), max(col("dst")))).collect()(0).getLong(0) + 1
    new GraphEm(spark, edges, n, cfg)
  }
}
