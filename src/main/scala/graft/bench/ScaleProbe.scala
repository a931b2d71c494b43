package graft.bench

import org.apache.spark.sql.SparkSession
import graft.gen.Generators
import graft.layout.{Layout, LayoutConfig}
import graft.linalg.EigenInit

/** One-off scale probe for the DISTRIBUTED code paths — the regime the
  * per-round bench's small graphs never reach: past
  * `DriverRoute.LoopEdges` the layout runs the cluster loop, with its
  * exact kNN as one cell grid per edge partition. Run:
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.bench.ScaleProbe 50000 22 5"
  *
  * args: nVertices edgesPerVertex iterations. Emits one JSON line with
  * per-phase timings; results recorded in BASELINE.md.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(50000)
    val mPerV = if (args.length > 1) args(1).toInt else 22
    val iters = if (args.length > 2) args(2).toInt else 5
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time[T](b: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = b; (r, (System.nanoTime() - t0) / 1e9)
    }
    val (g, genT) = time {
      val gg = Generators.barabasiAlbert(spark, n, mPerV, 42).cache()
      gg.count(); gg
    }
    val m = g.count()
    val (init, eigT) = time {
      val i = EigenInit.init(spark, g, n, 3, 42).cache(); i.count(); i
    }
    val cfg = LayoutConfig(nComponents = 3, LMin = 4.0, numIterations = iters)
    val (_, layT) = time { Layout.run(spark, g, init, cfg).count() }
    println(s"""{"probe":"distributed_layout","n":$n,"m":$m,"iters":$iters,""" +
      s""""gen_sec":$genT,"eigen_sec":$eigT,"layout_sec":$layT,""" +
      s""""sec_per_iter":${layT / iters}}""")
    spark.stop()
  }
}
