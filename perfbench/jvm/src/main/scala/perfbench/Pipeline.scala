package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.functions.VecOps
import graft.gen.Generators
import graft.influence.Influence
import graft.layout.{Layout, LayoutConfig}
import graft.linalg.EigenInit
import graft.metrics.{Centralities, Correlation}
import graft.model.GraphOps

/** What one paper pipeline produced. `radius` (vertex id, radius) is
  * still backed by the pipeline's persisted frames: it is read after the
  * clock stops, for the output check, and `release` frees them. */
final case class EmbedOut(seeds: Array[Long], spread: Long, rho: Map[String, Double],
                          radius: DataFrame, release: () => Unit)

/** Graph size of an embed workload: Barabási–Albert with `n` vertices
  * and `attach` edges per new vertex, `iters` layout iterations, `k`
  * seeds, Independent Cascade with probability `p` for `rounds`. */
final case class EmbedSize(n: Int, attach: Int, iters: Int, k: Int = 10,
                           p: Double = 0.1, rounds: Int = 100)

/** The paper's pipeline, driven through the library's public calls at
  * their default route caps: generator → undirect → eigen init → force
  * layout → top-k seeds by radius → Independent Cascade → centralities →
  * Spearman ρ of radius against each centrality. */
object Pipeline {
  val measures: Seq[String] = Seq("degree_centrality", "pagerank",
    "eigenvector", "closeness", "betweenness", "load")

  /** Computes every column of `df` without moving rows to the driver. */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Runs one pipeline; returns the outputs, the seconds to the full
    * result and the seconds until the seeds were collected. */
  def run(spark: SparkSession, size: EmbedSize, seed: Long,
          t: Tracer): (EmbedOut, Double, Double) = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val edges = t.span("gen") {
      val e = GraphOps.undirect(
        Generators.barabasiAlbert(spark, size.n, size.attach, seed)).persist()
      materialize(e)
      e
    }
    val initial = t.span("linalg") {
      val p = EigenInit.init(spark, edges, size.n, 3, seed).persist()
      materialize(p)
      p
    }
    val cfg = LayoutConfig(LMin = 4.0, numIterations = size.iters, seed = seed)
    val pos = t.span("layout") {
      val p = Layout.run(spark, edges, initial, cfg).persist()
      materialize(p)
      p
    }
    val seeds = t.span("influence.seeds") {
      Influence.selectSeeds(pos, size.k).collect().map(_.getLong(0))
    }
    val seedsAt = (System.nanoTime() - t0) / 1e9
    val spread = t.span("influence.ic") {
      Influence.independentCascade(spark, edges, seeds.toSeq.toDF("id"), size.p,
        maxRounds = size.rounds, seed = seed).collect().length.toLong
    }
    val radius = pos.select(col("id"), VecOps.norm(col("pos")).as("radius"))
    val cents = t.span("metrics.centralities") {
      val c = Centralities.all(spark, edges, size.n).persist()
      materialize(c)
      c
    }
    val rho = t.span("metrics.spearman") {
      Correlation.spearmanMany(radius.join(cents, "id"), "radius", measures)
    }
    val total = (System.nanoTime() - t0) / 1e9
    val release = () => Seq(cents, pos, initial, edges).foreach(_.unpersist(blocking = true))
    (EmbedOut(seeds, spread, rho, radius, release), total, seedsAt)
  }
}
