package graft.bench

import org.apache.spark.sql.SparkSession
import graft.gen.Generators
import graft.layout.{Layout, LayoutConfig}
import graft.linalg.EigenInit
import graft.util.DriverRoute

/** Calm-host adjudication of the forced-distributed layout tier (the
  * r6 verdict's 40.8 → 78.1 s swing, wrong-list #2): replicate Bench
  * tier 2c EXACTLY (BA n=4039/m=22, LMin=4.0, 30 iters,
  * `DriverRoute.distributed`, data-sized shuffle partitions like Bench's tiny-
  * graph section) and run it three legs back-to-back in one JVM —
  * same binary, so any spread is host/JIT variance, not code.
  *
  * Usage: runMain graft.bench.ProbeDistLayout [legs]
  */
object ProbeDistLayout {
  def main(args: Array[String]): Unit = {
    val legs = args.headOption.map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val cfg = LayoutConfig(nComponents = 3, LMin = 4.0, numIterations = 30,
      sampleSize = 256, nNeighbors = 10, seed = 42)
    // Bench runs the tiny-graph tiers with data-sized shuffling
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    for (leg <- 1 to legs) {
      val g = Generators.barabasiAlbert(spark, 4039, 22, 42).cache()
      val m = g.count()
      val t0 = System.nanoTime()
      val init = EigenInit.init(spark, g, 4039, 3, 42)
      DriverRoute.distributed(spark)(Layout.run(spark, g, init, cfg).count())
      val dt = (System.nanoTime() - t0) / 1e9
      g.unpersist()
      println(f"[dist-layout] leg $leg n=4039 m=$m wall=${dt}%.1fs")
    }
    spark.stop()
  }
}
