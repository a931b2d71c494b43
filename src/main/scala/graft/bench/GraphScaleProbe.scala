package graft.bench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.gen.Generators
import graft.metrics.GraphFeatures
import graft.model.GraphOps
import graft.util.DriverRoute

/** Scale probe for the GRAPH operators — measures the traversal /
  * decomposition / feature family on hash-seeded Erdős–Rényi graphs of
  * increasing size at CONSTANT average degree (the sparse regime real
  * graphs live in; diameter stays O(log n), so round counts of the
  * iterative ops stay flat and the slope isolates per-round WORK). Run:
  *
  *   SPARK_GRAFT_CPUS=16 sbt "runMain graft.bench.GraphScaleProbe 100000 8"
  *
  * One JSON line per run; slopes across n recorded in BASELINE.md. A
  * linear-scaling operator must show ~linear wall time in n at fixed
  * degree; triangles is the documented m^1.5-bounded exception (ER at
  * constant degree keeps it ~linear too — wedge counts scale with
  * Σdeg², i.e. with n). */
object GraphScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(100000L)
    val avgDeg = if (args.length > 1) args(1).toDouble else 8.0
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time[T](b: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = b; (r, (System.nanoTime() - t0) / 1e9)
    }
    val g = Generators.erdosRenyi(spark, n, avgDeg / n, seed = 42)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val m = g.count()
    val (_, tDeg) = time(GraphOps.degrees(g).count())
    val (nTri, tTri) = time(GraphFeatures.triangles(g).count())
    val (nComp, tCc) = time(
      GraphOps.connectedComponentsDF(spark, g).select("component").distinct().count())
    val (maxCore, tCore) = time(
      GraphFeatures.coreNumbers(spark, g).agg(max("core")).head.getLong(0))
    // measure the DISTRIBUTED expansion (100 TB path)
    val (ecc, tBfs) = time(DriverRoute.distributed(spark)(
      GraphFeatures.bfsDistances(spark, g, Seq(0L)).agg(max("dist")).head.getLong(0)))
    val (_, tLpa) = time(
      GraphFeatures.labelPropagation(spark, g, rounds = 3)
        .select("label").distinct().count())
    val (_, tSssp) = time {
      val w = g.select(col("src"), col("dst"),
        (pmod(xxhash64(col("src"), col("dst")), lit(9)) + 1).as("w"))
        .union(g.select(col("dst").as("src"), col("src").as("dst"),
          (pmod(xxhash64(col("src"), col("dst")), lit(9)) + 1).as("w")))
      GraphFeatures.ssspWeighted(spark, w, source = 0L).count()
    }
    val (nWalk, tWalk) = time(GraphFeatures.randomWalks(g, walkLen = 4).count())
    // SCC on the DIRECTED arcs + a reversed third: a giant SCC forms,
    // so the probe exercises both the forward fixpoint (diameter
    // rounds) and the backward confirmation at full size
    val (nScc, tScc) = time {
      val d = g.union(g.filter((col("src") + col("dst")) % 3 === 0)
        .select(col("dst").as("src"), col("src").as("dst")))
      // this probe measures the DISTRIBUTED peel (the 100 TB path) —
      // the driver-Tarjan small route would swallow every probe size
      // below the cap
      DriverRoute.distributed(spark)(
        GraphFeatures.stronglyConnected(spark, d).select("component").distinct().count())
    }
    // MST over hash-distinct weights (unique MST, deterministic rounds)
    val (nMst, tMst) = time {
      val w = g.select(col("src"), col("dst"),
        (pmod(xxhash64(col("src"), col("dst")), lit(1000000)).cast("double") /
          1000000.0).as("w"))
      GraphFeatures.mstBoruvka(spark, w).count()
    }
    // measure the DISTRIBUTED sweeps (100 TB path)
    val (lb, tDiam) = time(DriverRoute.distributed(spark)(
      GraphFeatures.pseudoDiameter(spark, g, start = 0L).head.getLong(3)))
    val (nPpr, tPpr) = time(
      graft.metrics.Centralities.personalizedPageRank(spark, g,
        seeds = Seq(0L, 1L, 2L), iters = 3).count())
    // r6c structural additions: transitivity rides the triangle plan,
    // edge Jaccard adds one pair-keyed count + two degree joins, the
    // ANF is maxR rounds of vertex-keyed HLL merges (exact twin
    // dominates here — at probe sizes the ball pair table is the cost;
    // the sketch half is the 100 TB path being measured)
    val (trans, tTrans) = time(
      GraphFeatures.transitivity(g).head.getDouble(2))
    val (nEj, tEj) = time(GraphFeatures.edgeJaccard(g).count())
    val (_, tAnf) = time(
      GraphFeatures.neighborhoodFunction(spark, g, maxR = 2).count())
    // r16 hub-skew arm (r15 verdict #5): a star hub of degree n−1 with
    // the adjacency chunk cap forced to n/8 drives PPR and randomWalks
    // through the degree-probe + hub-segmented route — every adjacency
    // row/aggregation buffer is bounded by the cap (≈8 chunk rows for
    // the hub) no matter the hub degree, so per-round memory stays
    // flat in n/cap instead of growing with the hub. Correctness of
    // the chunked route vs the unchunked one is spec-pinned
    // (MetricsSpec / GraphFeaturesSpec); this column records the cost.
    val hubCap = math.max(4L, n / 8).toString
    val (nHubPpr, tHubPpr, tHubWalk) = {
      val key = "spark.graft.adjMaxChunk"
      spark.conf.set(key, hubCap)
      try {
        import spark.implicits._
        val star = spark.range(1, n).toDF("dst")
          .select(lit(0L).as("src"), col("dst"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        star.count()
        val (np, tp) = time(graft.metrics.Centralities
          .personalizedPageRank(spark, star, seeds = Seq(0L), iters = 3)
          .count())
        val (_, tw) = time(
          GraphFeatures.randomWalks(star, walkLen = 4).count())
        star.unpersist()
        (np, tp, tw)
      } finally spark.conf.unset(key)
    }
    println(s"""{"probe":"graph_scale","n":$n,"m":$m,"avg_deg":$avgDeg,""" +
      s""""degrees_sec":$tDeg,"triangles_sec":$tTri,"triangles":$nTri,""" +
      s""""cc_df_sec":$tCc,"components":$nComp,""" +
      s""""kcore_sec":$tCore,"max_core":$maxCore,""" +
      s""""bfs_sec":$tBfs,"ecc0":$ecc,""" +
      s""""lpa3_sec":$tLpa,"sssp_sec":$tSssp,""" +
      s""""walks_sec":$tWalk,"walk_rows":$nWalk,""" +
      s""""scc_sec":$tScc,"sccs":$nScc,""" +
      s""""mst_sec":$tMst,"mst_edges":$nMst,""" +
      s""""pseudo_diam_sec":$tDiam,"diam_lb":$lb,""" +
      s""""ppr_sec":$tPpr,"ppr_support":$nPpr,""" +
      s""""transitivity_sec":$tTrans,"transitivity":$trans,""" +
      s""""edge_jaccard_sec":$tEj,"edge_jaccard_rows":$nEj,""" +
      s""""anf_r2_sec":$tAnf,""" +
      s""""hub_chunk_cap":$hubCap,"hub_ppr_sec":$tHubPpr,""" +
      s""""hub_ppr_support":$nHubPpr,"hub_walks_sec":$tHubWalk}""")
    spark.stop()
  }
}
