package graft.linalg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VecOps
import graft.gen.Generators.hashUniform

/** Laplacian-eigenmap initialization (reference L1:
  * embedder_pytorch.py:337-379): the n_components smallest non-trivial
  * eigenvectors of the normalized Laplacian L = I − D^{-1/2}AD^{-1/2}.
  *
  * Spark has no sparse `eigsh(which='SM')`; we run orthogonal (subspace)
  * iteration on the spectral complement B = 2I − L = I + D^{-1/2}AD^{-1/2}
  * (eigenvalues of L lie in [0,2], so B's dominant subspace IS L's
  * smallest). One algorithm, two matvec backends:
  *
  *  - driver: adjacency collected to primitive arrays (the reference
  *    itself solves eigs on CPU scipy even in GPU mode,
  *    embedder_pytorch.py:364); fine to ~1e7 edges.
  *  - distributed: each matvec is the J1-gather + A2-scatter-add
  *    DataFrame pattern (edges ⋈ x → groupBy(id).sum), orthonormalized
  *    per step by a tall-skinny QR via the (k+1)² Gram matrix on the
  *    driver — the same trick as MLlib's PowerIterationClustering. This
  *    path scales to any n a cluster holds.
  *
  * Eigensign is arbitrary (tests accept reflections, mirroring
  * tests/test_integration.py:238-249). The seeded random fallback
  * (embedder_pytorch.py:366-369, where only `eigsh` may fail) is
  * narrowed the same way: it covers the solver alone — a graph with
  * n ≤ k vertices (no k non-trivial eigenvectors to find; `eigsh`
  * rejects it too), arithmetic errors and Breeze's convergence and
  * singularity exceptions — and logs one warning when it fires. A
  * failed Spark job propagates, and so does an edge id outside [0, n)
  * (IllegalArgumentException naming the id).
  */
object EigenInit {

  private lazy val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Entry point: edges must be canonical (src<dst), ids in 0..n-1.
    * Returns positions DataFrame (id: long, pos: array<double> of k).
    * Up to `DriverRoute.GraphEdges` edges ([[graft.util.DriverRoute.rowsAtMost]],
    * free on a loaded persisted frame), the pairs come from
    * [[graft.util.DriverRoute.probeIdPairs]] (one job, or none when a
    * persisted frame was probed before).
    */
  def init(spark: SparkSession, edges: DataFrame, n: Long, k: Int,
           seed: Long = 42): DataFrame = {
    require(k > 0, "n_components must be positive")
    import graft.util.DriverRoute
    val probed =
      if (DriverRoute.rowsAtMost(edges, DriverRoute.GraphEdges))
        DriverRoute.probeIdPairs(edges, "src", "dst", DriverRoute.GraphEdges)
      else None
    if (probed.exists(_.isEmpty)) randomPositions(spark, n, k, seed)
    else {
      val g = probed.map(graft.metrics.Centralities.csrOf(_, n))
      def fallback(why: Any): DataFrame = {
        logger.warn(s"eigen init fell back to seeded random positions: $why")
        randomPositions(spark, n, k, seed)
      }
      if (n <= k) fallback(s"$n vertices, $k components")
      else try g match {
        case Some(csr) => driverPath(spark, csr, k, seed)
        case None => distributedPath(spark, edges, n, k, seed)
      } catch {
        case e @ (_: ArithmeticException | _: breeze.linalg.NotConvergedException |
                  _: breeze.linalg.MatrixSingularException) => fallback(e)
      }
    }
  }

  /** Seeded random fallback: N(0, 0.1) via Box–Muller over hash
    * uniforms — distributed and deterministic. */
  def randomPositions(spark: SparkSession, n: Long, k: Int, seed: Long): DataFrame = {
    val comps = (0 until k).map { d =>
      val u1 = hashUniform(seed + 2 * d, col("id")) + lit(1e-12)
      val u2 = hashUniform(seed + 2 * d + 1, col("id"))
      (sqrt(lit(-2.0) * log(u1)) * cos(lit(2 * math.Pi) * u2) * lit(0.1)).as(s"c$d")
    }
    spark.range(n).toDF("id")
      .select(col("id"), array(comps: _*).as("pos"))
  }

  // ---------------- driver backend ----------------

  private def driverPath(spark: SparkSession, g: graft.metrics.Centralities.Csr,
                         k: Int, seed: Long): DataFrame = {
    import breeze.linalg.{DenseMatrix, eigSym, qr}
    val graft.metrics.Centralities.Csr(n, off, nbr) = g
    val dinv = Array.tabulate(n) { v =>
      val d = off(v + 1) - off(v)
      if (d > 0) 1.0 / math.sqrt(d.toDouble) else 0.0
    }

    val kk = k + 1
    val rnd = new scala.util.Random(seed)
    var x = DenseMatrix.fill[Double](n, kk)(rnd.nextGaussian())

    def matvec(xm: DenseMatrix[Double]): DenseMatrix[Double] = {
      // B x = x + D^{-1/2} A D^{-1/2} x
      val y = xm.copy
      var c = 0
      while (c < kk) {
        var v = 0
        while (v < n) {
          var s = 0.0
          var j = off(v)
          while (j < off(v + 1)) { val u = nbr(j); s += dinv(u) * xm(u, c); j += 1 }
          y(v, c) = xm(v, c) + dinv(v) * s
          v += 1
        }
        c += 1
      }
      y
    }

    val iters = math.min(300, 50 + 8 * math.sqrt(n.toDouble).toInt)
    var it = 0
    while (it < iters) {
      x = qr.reduced(matvec(x)).q
      it += 1
    }
    // Rayleigh–Ritz: rotate X into eigenvector basis of Xᵀ B X
    val bx = matvec(x)
    val t = x.t * bx
    val sym = (t + t.t) *:* 0.5
    val es2 = eigSym(sym)
    // eigSym returns ascending; dominant (trivial) eigenpair is the last
    val order = es2.eigenvalues.toArray.zipWithIndex.sortBy(-_._1).map(_._2)
    val rot = x * es2.eigenvectors
    val keep = order.slice(1, kk) // drop trivial dominant, keep next k
    val rows = (0 until n).map { v =>
      org.apache.spark.sql.Row(v.toLong, keep.map(c => rot(v, c)).toSeq)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq), schema)
  }

  // ---------------- distributed backend ----------------

  private def distributedPath(spark: SparkSession, edges: DataFrame, n: Long,
                              k: Int, seed: Long): DataFrame = {
    import breeze.linalg.{cholesky, inv, DenseMatrix}
    val kk = k + 1
    val dirEdges = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .persist()
    val degs = dirEdges.groupBy(col("src").as("id")).agg(count(lit(1)).as("degree"))
    val verts = spark.range(n).toDF("id")
      .join(degs, Seq("id"), "left")
      .select(col("id"),
        when(col("degree").isNull, 0.0)
          .otherwise(lit(1.0) / sqrt(col("degree"))).as("dinv"))
      .persist()

    // start from seeded random gaussians
    var x = randomPositions(spark, n, kk, seed)
      .join(verts, "id").select(col("id"), col("pos"), col("dinv")).persist()
    x.count()

    def matvec(xdf: DataFrame): DataFrame = {
      // y = x + dinv ⊙ A (dinv ⊙ x)
      val scaled = xdf.select(col("id"), VecOps.scale(col("pos"), col("dinv")).as("sp"))
      val gathered = dirEdges.join(scaled.withColumnRenamed("id", "dst"), "dst")
        .select(col("src").as("id"), col("sp").as("f"))
      val summed = VecOps.sumVecBy(gathered, "id", kk, "f")
        .withColumnRenamed("f", "av")
      xdf.join(summed, Seq("id"), "left")
        .select(col("id"), col("dinv"),
          when(col("av").isNull, col("pos"))
            .otherwise(VecOps.add(col("pos"), VecOps.scale(col("av"), col("dinv"))))
            .as("pos"))
    }

    // Per iteration, ONE job: the matvec result is checkpointed with
    // the (k+1)² Gram matrix computed INSIDE the materializing action
    // (partials combined in partition order — bit-reproducible), then
    // the orthonormalizing rotation X·chol(G)^{-T} is a lazy projection
    // over the cached rows. The previous shape (Gram agg job, then the
    // loop's checkpoint count) executed every matvec TWICE.
    val iters = 30 // dominant-subspace gap for B is usually healthy; cap cost
    var (state, handle) = graft.util.Iterate.checkpoint(spark, x)
    var it = 0
    while (it < iters) {
      val (mvC, mvH, gramParts) =
        graft.util.Iterate.checkpointWith(spark, matvec(state)) { rdd =>
          rdd.mapPartitionsWithIndex { (idx, rows) =>
            val acc = new Array[Double](kk * kk)
            rows.foreach { r =>
              val p = r.getSeq[Double](2) // (id, dinv, pos)
              var i = 0
              while (i < kk) {
                val pi = p(i)
                var j = i
                while (j < kk) { acc(i * kk + j) += pi * p(j); j += 1 }
                i += 1
              }
            }
            Iterator((idx, acc))
          }.collect()
        }
      handle.unpersist(blocking = false)
      val gram = new Array[Double](kk * kk)
      gramParts.sortBy(_._1).foreach { case (_, a) =>
        var i = 0
        while (i < gram.length) { gram(i) += a(i); i += 1 }
      }
      val gm = DenseMatrix.tabulate(kk, kk)((i, j) =>
        if (i <= j) gram(i * kk + j) else gram(j * kk + i))
      val rInvT = inv(cholesky(gm)).t // X_new = X * L^{-T}
      val newComps = (0 until kk).map { c =>
        (0 until kk).map(r =>
          element_at(col("pos"), r + 1) * lit(rInvT(r, c))).reduce(_ + _)
      }
      state = mvC.select(col("id"), col("dinv"), array(newComps: _*).as("pos"))
      handle = mvH
      it += 1
    }
    x = state
    // Rayleigh–Ritz rotation, then drop the trivial dominant column
    import breeze.linalg.eigSym
    val bx = matvec(x)
    val txCols = for (i <- 0 until kk; j <- 0 until kk) yield
      sum(element_at(col("pos"), i + 1) * element_at(col("bpos"), j + 1)).as(s"t_${i}_$j")
    val joined = x.select(col("id"), col("pos"))
      .join(bx.select(col("id"), col("pos").as("bpos")), "id")
    val t = joined.agg(txCols.head, txCols.tail: _*).collect()(0)
    val tm = DenseMatrix.tabulate(kk, kk)((i, j) =>
      (t.getAs[Double](s"t_${i}_$j") + t.getAs[Double](s"t_${j}_$i")) / 2.0)
    val es = eigSym(tm)
    val order = es.eigenvalues.toArray.zipWithIndex.sortBy(-_._1).map(_._2)
    val keep = order.slice(1, kk)
    val outComps = keep.map { c =>
      (0 until kk).map(r =>
        element_at(col("pos"), r + 1) * lit(es.eigenvectors(r, c))).reduce(_ + _)
    }
    val out = x.select(col("id"), array(outComps: _*).as("pos"))
    val result = out.persist()
    result.count()
    handle.unpersist(blocking = false) // final loop checkpoint released
    dirEdges.unpersist(); verts.unpersist(); x.unpersist()
    result
  }
}
